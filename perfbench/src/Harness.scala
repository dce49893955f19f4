package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in a fresh JVM, driven by `run.py`.
  *
  * Usage: perfbench.Harness <plan file>
  *
  * The plan file holds `key=value` lines (see `run.py`). The harness
  * builds a session the way `graft.Bench` does, runs one untimed
  * warm-up query (set-up ends there) and the workload's discarded
  * warm-up operations, if any, then measures the workload through the
  * program's public entry points only (`SparkEntry.queries`, `queryExecution`,
  * `Bench.force`, `Caches.releaseAll`, the `jira` connector and
  * `JiraMain.run`). It writes `result.json` (one record per timed
  * operation) and, with `trace=1`, `spans.jsonl` (phase, job, stage and
  * plan-phase spans). Query outputs go to `<out>/q/<name>` as parquet
  * for the oracle check; they are written outside the timed phases.
  */
object Harness {

  private def readPlan(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  private def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = plan("out")
    val tables = plan("tables")
    val cores = plan("cores")
    val trace = plan.get("trace").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan("local_dir"))
      .config("spark.sql.warehouse.dir", plan("local_dir") + "/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val queries = graft.SparkEntry.queries
    graft.Bench.force(queries("q01_pricing_summary")(spark, tables))
    graft.util.Caches.releaseAll()
    spark.catalog.clearCache()
    val readyMs = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer) else None
    val run = new Run(spark, plan, out, tables, queries, tracer)
    run.warmUp()
    val warmMs = System.currentTimeMillis()
    tracer.foreach(_.install(spark))

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs

    val records = run.measure()
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val gcS = (gcMs - gc0) / 1000.0
    tracer.foreach(_.finish(s"$out/spans.jsonl", run.spans.toSeq))

    val pw = new PrintWriter(new File(s"$out/result.json"), "UTF-8")
    pw.println(Json.obj(Seq(
      "session_ms" -> sessionMs,
      "ready_ms" -> readyMs,
      "warm_ms" -> warmMs,
      "heap_peak_mb" -> mb(heapPeak.toDouble),
      "gc_s" -> gcS,
      "listener_s" -> tracer.map(_.callbackSeconds).getOrElse(0.0),
      "ops" -> records
    )))
    pw.close()
    val oracle = new PrintWriter(new File(s"$out/oracle_sql.json"), "UTF-8")
    oracle.println(Json.obj(graft.SparkEntry.oracleSql.toSeq
      .filter(kv => run.written.contains(kv._1))))
    oracle.close()
    spark.stop()
  }
}

/** The three workload shapes. Every phase is recorded as a span
  * (op, phase, start, end) so the traced run can split a query's wall
  * time into construct, plan, force and release.
  */
final class Run(
    spark: SparkSession,
    plan: Map[String, String],
    out: String,
    tables: String,
    queries: Map[String, (SparkSession, String) => DataFrame],
    tracer: Option[Tracer]
) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[String]
  val written = mutable.LinkedHashSet.empty[String]

  private def list(key: String): Seq[String] =
    plan.get(key).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** Run `body` as phase `name` of operation `op`; returns seconds. */
  private def phase(op: String, name: String)(body: => Unit): Double = {
    sc.setLocalProperty(Tracer.PhaseKey, name)
    val startMs = Tracer.nowMs
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    if (tracer.isDefined)
      spans += Json.obj(Seq("kind" -> "phase", "op" -> op, "phase" -> name,
        "start_ms" -> startMs, "end_ms" -> (startMs + s * 1000.0)))
    s
  }

  private def storageMb: Double =
    sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum /
      (1024.0 * 1024.0)

  /** Storage once collected garbage is gone: the checkpoints of earlier
    * loop rounds are unreachable after a cold query, and whether
    * Spark's context cleaner has dropped them by the time of a plain
    * sample depends on when the last GC ran.
    */
  private def settledStorageMb: Double = {
    System.gc()
    Thread.sleep(200)
    storageMb
  }

  /** construct → plan → force one query, timing each phase. */
  private def timedQuery(
      name: String,
      tag: String = ""
  ): (DataFrame, Seq[(String, Any)]) = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val pinned0 = graft.util.Caches.pinnedCount
    var df: DataFrame = null
    val construct = phase(name, tag + "construct") {
      df = queries(name)(spark, tables)
    }
    val planS = phase(name, tag + "plan") { df.queryExecution.executedPlan }
    val force = phase(name, tag + "force") { graft.Bench.force(df) }
    val qe = df.queryExecution
    val nodes = Plans.nodes(qe.executedPlan)
    val phases = qe.tracker.phases
    def phaseS(p: String): Double =
      phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    (df, Seq(
      "name" -> name,
      "construct_s" -> construct, "plan_s" -> planS, "force_s" -> force,
      "wall_s" -> (construct + planS + force),
      "analysis_s" -> phaseS("analysis"),
      "optimization_s" -> phaseS("optimization"),
      "planning_s" -> phaseS("planning"),
      "plan_nodes" -> nodes.size,
      "inmem_scans" -> nodes.count(Plans.isInMemoryScan),
      "registered" -> (graft.util.Caches.pinnedCount - pinned0),
      "storage_mb" -> (if (plan("kind") == "cold") settledStorageMb else storageMb)
    ))
  }

  private def failed(name: String, e: Throwable): Seq[(String, Any)] = {
    System.err.println(s"[perfbench] $name failed: $e")
    Seq("name" -> name, "error" -> String.valueOf(e))
  }

  private def writeOutput(name: String, df: DataFrame): Unit =
    if (!written.contains(name)) {
      phase(name, "output") {
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/q/$name")
      }
      written += name
    }

  private def release(name: String): Double =
    phase(name, "release") {
      graft.util.Caches.releaseAll()
      spark.catalog.clearCache()
    }

  private lazy val rounds: Seq[Seq[String]] =
    plan("rounds").split(';').toSeq.map(_.split(',').toSeq)
  private lazy val warmRounds = plan("warm_rounds").toInt

  /** The discarded first operations of the repeating workloads: the
    * first round(s) of the session, the first ingest(s). A cold pass
    * has none; it is measured in the JVM the warm-up query warmed.
    */
  def warmUp(): Unit = plan("kind") match {
    case "cold" => ()
    case "steady" =>
      rounds.take(warmRounds).flatten.foreach { name =>
        try graft.Bench.force(queries(name)(spark, tables))
        catch { case e: Throwable => failed(name, e) }
      }
    case "jira" =>
      (0 until plan("warm_passes").toInt).foreach { i =>
        try ingest(s"warmup$i", s"$out/jira/warmup$i")
        catch { case e: Throwable => failed(s"warmup$i", e) }
        spark.catalog.clearCache()
      }
  }

  def measure(): Seq[Map[String, Any]] = plan("kind") match {
    case "cold" => cold()
    case "steady" => steady()
    case "jira" => jira()
  }

  /** Each query once, cold: derive-once memos and caches released
    * before it.
    */
  private def cold(): Seq[Map[String, Any]] =
    list("queries").map { name =>
      val rel = release(name)
      val rec = try {
        val (df, r) = timedQuery(name)
        val steady =
          if (tracer.isEmpty) Nil
          else Seq("steady_s" -> timedQuery(name, "rerun_")._2.toMap
            .apply("wall_s"))
        writeOutput(name, df)
        r ++ steady
      } catch { case e: Throwable => failed(name, e) }
      (rec :+ ("release_s" -> rel) :+ ("pass" -> 0)).toMap
    }

  /** One client replaying the panel in seeded round orders, caches
    * kept (the first rounds were the warm-up). Rounds continue until
    * both the time and the execution floor are met.
    */
  private def steady(): Seq[Map[String, Any]] = {
    val seconds = plan("seconds").toDouble
    val minExecs = plan("min_execs").toInt
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var r = warmRounds
    while (r < rounds.size &&
        ((System.nanoTime() - t0) / 1e9 < seconds || recs.size < minExecs)) {
      rounds(r).foreach { name =>
        val rec = try {
          val (df, rec) = timedQuery(name)
          writeOutput(name, df)
          rec
        } catch { case e: Throwable => failed(name, e) }
        recs += (rec :+ ("pass" -> r)).toMap
      }
      r += 1
    }
    recs.toSeq
  }

  /** One ingest: scan the stub pages of every project through the
    * `jira` connector (transient failures injected) and write what it
    * returns, then `JiraMain.run` over the raw JSONL.
    */
  private def ingest(op: String, passDir: String): Seq[(String, Any)] = {
    val dir = plan("jira_dir")
    val projects = list("projects")
    sc.setJobGroup(op, op, interruptOnCancel = false)
    val scan = phase(op, "scan") {
      projects.foreach { p =>
        spark.read.format("jira")
          .option("stubDir", s"$dir/stub/$p")
          .option("project", p)
          .option("pageSize", plan("page_size"))
          .option("simulateFailures", plan("failures"))
          .option("retrySleepScale", plan("sleep_scale"))
          .load()
          .write.mode("overwrite").json(s"$passDir/scan/$p")
      }
    }
    var result: graft.jira.JiraMain.Result = null
    val runS = phase(op, "run") {
      result = graft.jira.JiraMain.run(spark,
        projects.map(p => p -> s"$dir/raw/$p.jsonl"), s"$passDir/corpus")
    }
    Seq("name" -> op, "scan_s" -> scan, "run_s" -> runS,
      "wall_s" -> (scan + runS), "examples_out" -> result.mergedCount,
      "storage_mb" -> storageMb, "dir" -> passDir)
  }

  /** Ingest passes until the time budget and the pass floor are met;
    * `JiraMain.run` leaves its example caches pinned, so each pass
    * ends with a timed release.
    */
  private def jira(): Seq[Map[String, Any]] = {
    val seconds = plan("seconds").toDouble
    val minPasses = plan("min_passes").toInt
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val op = s"ingest$pass"
      val rec = try ingest(op, s"$out/jira/pass$pass")
        catch { case e: Throwable => failed(op, e) }
      recs += (rec :+ ("release_s" -> release(op)) :+ ("pass" -> pass)).toMap
      pass += 1
    }
    recs.toSeq
  }
}
