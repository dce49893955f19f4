"""Seeded inputs for the benchmark.

Two generators, both pure functions of the seed (same seed, same bytes):

* `write_tables` writes the star-schema parquet tables the `SparkEntry`
  queries read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings), with the column names,
  types and value ranges the queries and their DuckDB oracles expect.
* `write_jira` replicates the checked-in JIRA fixture issues into a
  corpus of unique-key issues for three projects, with a per-issue
  token appended to the free-text fields. It writes the raw JSONL the
  pipeline reads, the `search_{startAt}.json` stub pages the `jira`
  connector scans, and a manifest that maps every generated issue back
  to the fixture issue it copies, so the checker can derive the
  expected fan-out from the fixture goldens.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join("src", "test", "resources", "jira")
FIXTURE_FILES = [("TEST", "raw_issues_TEST.jsonl"),
                 ("TEST2", "raw_issues_TEST2.jsonl")]
JIRA_PROJECTS = ["KAFKA", "SPARK", "HADOOP"]
# A field is perturbed only while it is comfortably shorter than every
# truncation limit in the pipeline (500 chars), so the appended token
# never straddles a cut.
PERTURB_MAX_CHARS = 400

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate",
             "gizmo"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def write_tables(out_dir, seed, sf=0.001):
    """Write the ten query tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = 500, 500

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498),
                               pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")

    n_users = max(15, n_ev // 67)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")

    # documents: random word salads; every 20th is a near-duplicate of
    # one of the nine documents before it (one word swapped, or " dup"
    # appended), so the dedup and graph queries have clusters to find
    # and the cluster structure is the same for every seed
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            src = texts[i - 1 - int(rng.integers(0, 9))].split()
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(WORDS))
            else:
                src.append("dup")
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    # embeddings: unit vectors around ten label centroids
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def load_fixtures(root="."):
    """[(fixture_project, issue_dict)] in fixture order."""
    out = []
    for proj, name in FIXTURE_FILES:
        with open(os.path.join(root, FIXTURE_DIR, name)) as fh:
            out += [(proj, json.loads(line)) for line in fh if line.strip()]
    return out


def _perturb(value, token):
    if (isinstance(value, str) and value.strip()
            and len(value) <= PERTURB_MAX_CHARS):
        return f"{value} {token}"
    return value


def _replicate(issue, key, issue_id, token):
    out = json.loads(json.dumps(issue))
    out["key"], out["id"] = key, issue_id
    f = out.get("fields")
    if isinstance(f, dict):
        for name in ("summary", "description"):
            if name in f:
                f[name] = _perturb(f[name], token)
        comment = f.get("comment")
        if isinstance(comment, dict) and isinstance(
                comment.get("comments"), list):
            for c in comment["comments"]:
                if isinstance(c, dict) and "body" in c:
                    c["body"] = _perturb(c["body"], token)
    return out


def write_jira(out_dir, seed, issues_per_project, page_size, root="."):
    """Write raw/<P>.jsonl, stub/<P>/search_*.json and manifest.json."""
    rng = np.random.default_rng([seed, 2])
    fixtures = load_fixtures(root)
    manifest, tokens = [], set()
    for p_idx, proj in enumerate(JIRA_PROJECTS):
        # every fixture issue is copied equally often (±1), so the
        # corpus's size and mix do not depend on the seed
        picks = rng.permutation(np.arange(issues_per_project) % len(fixtures))
        numbers = rng.permutation(issues_per_project) + 1
        issues = []
        for n, pick in zip(numbers, picks):
            src_proj, src = fixtures[int(pick)]
            token = None
            while token is None or token in tokens:
                token = "zq" + np.base_repr(int(rng.integers(36**7, 36**8)),
                                            36).lower()
            tokens.add(token)
            key = f"{proj}-{int(n)}"
            issues.append(_replicate(src, key, str(1000000 * (p_idx + 1) + n),
                                     token))
            manifest.append({"project": proj, "key": key, "token": token,
                             "source_project": src_proj,
                             "source_key": src["key"]})
        os.makedirs(f"{out_dir}/raw", exist_ok=True)
        with open(f"{out_dir}/raw/{proj}.jsonl", "w") as fh:
            for issue in issues:
                fh.write(json.dumps(issue) + "\n")
        stub = f"{out_dir}/stub/{proj}"
        os.makedirs(stub, exist_ok=True)
        for start in range(0, len(issues), page_size):
            page = {"startAt": start, "maxResults": page_size,
                    "total": len(issues),
                    "issues": issues[start:start + page_size]}
            with open(f"{stub}/search_{start}.json", "w") as fh:
                json.dump(page, fh)
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
