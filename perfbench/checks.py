"""Output checks for the benchmark.

* Queries: each timed query's parquet output is compared with its
  `SparkEntry.oracleSql` run in DuckDB over the same generated tables,
  using the comparison of `tools/check.py` (loaded from the checkout,
  not copied), so a result counts as correct exactly when that tool
  would print OK for it.
* JIRA ingest: the connector's scan output must return every generated
  issue, and the pipeline's corpus, per-project files and stats must
  equal the fixture goldens' fan-out of the issues each generated issue
  copies (keys, project and appended text tokens mapped back).
"""
import collections
import glob
import importlib.util
import json
import os
import subprocess

import duckdb

import datagen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_tool():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join("tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(out, tables):
    """{query name: "OK" or the reason it does not match}."""
    compare = _check_tool().compare
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.abspath(tables)}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdicts = {}
    for qdir in sorted(glob.glob(os.path.join(out, "q", "*"))):
        name = os.path.basename(qdir)
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            verdicts[name] = "NO OUTPUT"
            continue
        sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        rows = [tuple(r) for r in sdf.itertuples(index=False)]
        if name not in oracle:
            verdicts[name] = "OK" if rows else "EMPTY"
            continue
        try:
            res = con.execute(oracle[name])
            verdicts[name] = compare(name, rows, list(sdf.columns),
                                     res.fetchall(),
                                     [d[0] for d in res.description])
        except Exception as e:  # an oracle that cannot run is a failure
            verdicts[name] = f"ORACLE ERROR: {e}"
    return verdicts


# ----------------------------------------------------------------- JIRA

def _read_jsonl_dir(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def _goldens():
    """({(project, key): [examples]}, {(project, key): created})."""
    examples = collections.defaultdict(list)
    for proj, _ in datagen.FIXTURE_FILES:
        with open(os.path.join(datagen.FIXTURE_DIR,
                               f"golden_examples_{proj}.jsonl")) as fh:
            for line in fh:
                ex = json.loads(line)
                examples[(proj, ex["metadata"]["issue_key"])].append(ex)
    created = {(p, i["key"]): (i.get("fields") or {}).get("created")
               for p, i in datagen.load_fixtures()}
    return examples, created


def _map_back(value, key, source_key, token):
    if isinstance(value, str):
        return value.replace(" " + token, "").replace(key, source_key)
    if isinstance(value, list):
        return [_map_back(v, key, source_key, token) for v in value]
    if isinstance(value, dict):
        return {k: _map_back(v, key, source_key, token)
                for k, v in value.items()}
    return value


def expected_corpus(manifest, goldens, created):
    """[(project, key, golden example)] in the corpus's total order."""
    out = []
    for proj in datagen.JIRA_PROJECTS:
        items = sorted((m for m in manifest if m["project"] == proj),
                       key=lambda m: (created[(m["source_project"],
                                               m["source_key"])], m["key"]))
        for m in items:
            src = (m["source_project"], m["source_key"])
            out += [(proj, m["key"], ex) for ex in goldens.get(src, [])]
    return out


def _stats(examples):
    """Per-project stats the pipeline should report for `examples`."""
    by = collections.defaultdict(list)
    for ex in examples:
        by[ex["metadata"]["project"]].append(ex)
    return {p: {
        "total_examples": len(exs),
        "task_type_distribution": dict(collections.Counter(
            e["task_type"] for e in exs)),
        "issue_types": sorted({e["metadata"]["issue_type"] for e in exs}),
        "priorities": sorted({e["metadata"]["priority"] for e in exs}),
        "statuses": sorted({e["metadata"]["status"] for e in exs}),
    } for p, exs in by.items()}


def check_pass(pass_dir, manifest, goldens, created):
    by_key = {m["key"]: m for m in manifest}
    # 1. the connector returned every generated issue, once
    for proj in datagen.JIRA_PROJECTS:
        scanned = sorted(r["key"] for r in
                         _read_jsonl_dir(f"{pass_dir}/scan/{proj}"))
        want = sorted(m["key"] for m in manifest if m["project"] == proj)
        if scanned != want:
            return f"scan of {proj}: {len(scanned)} issues, want {len(want)}"
    # 2. merged corpus equals the goldens' fan-out, in order
    expected = expected_corpus(manifest, goldens, created)
    merged = _read_jsonl_dir(f"{pass_dir}/corpus/merged_corpus.jsonl")
    if len(merged) != len(expected):
        return f"merged corpus has {len(merged)} examples, want {len(expected)}"
    for i, (got, (proj, key, golden)) in enumerate(zip(merged, expected)):
        meta = got.get("metadata") or {}
        if meta.get("issue_key") != key or meta.get("project") != proj:
            return f"example {i}: issue {meta.get('issue_key')}, want {key}"
        m = by_key[key]
        back = _map_back(got, key, m["source_key"], m["token"])
        back["metadata"]["project"] = m["source_project"]
        if back != golden:
            return f"example {i} ({key}) differs from golden {m['source_key']}"
    # 3. per-project files are the merged corpus split by project
    for proj in datagen.JIRA_PROJECTS:
        part = _read_jsonl_dir(f"{pass_dir}/corpus/{proj}_examples.jsonl")
        if part != [e for e in merged if e["metadata"]["project"] == proj]:
            return f"{proj}_examples.jsonl differs from the merged corpus"
    # 4. stats agree with the corpus
    want = _stats(merged)
    stats = {r["project"]: r for r in
             _read_jsonl_dir(f"{pass_dir}/corpus/per_project_stats.json")}
    for proj, w in want.items():
        got = stats.get(proj, {})
        for k, v in w.items():
            if got.get(k) != v:
                return f"per_project_stats {proj}.{k} = {got.get(k)}, want {v}"
    combined = _read_jsonl_dir(f"{pass_dir}/corpus/combined_stats.json")
    if not combined or combined[0].get("total_examples") != len(merged):
        return "combined_stats total_examples differs from the corpus"
    return "OK"


def check_jira(ops, jira_dir, issues):
    with open(os.path.join(jira_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    if len(manifest) != issues:
        return {o["name"]: "manifest size" for o in ops}
    goldens, created = _goldens()
    return {o["name"]: ("error" if "error" in o else
                        check_pass(o["dir"], manifest, goldens, created))
            for o in ops}


def commit():
    """The checkout's git commit, or a digest of its sources."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], text=True,
                              capture_output=True, timeout=10)
        if head.returncode == 0:
            return head.stdout.strip()
    except OSError:
        pass
    import hashlib
    h = hashlib.sha256()
    for p in sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]
