package graft.jira

import graft.io.Sinks
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge.collectLocal
import scala.concurrent.Await
import scala.concurrent.duration._

/** EP1 — the full corpus build (main.py:17-137) as one Spark job:
  * per-project raw read → flatten → fan-out → per-project JSONL +
  * stats, then ordered merged corpus + combined stats.
  *
  * Differences from the reference are purely executional:
  *  - each project's raw file is read, flattened and fanned out by
  *    exactly one action, the write of `<proj>_examples.jsonl`; that
  *    action also fills the project's example cache and counts its
  *    flattened issues and examples through `Dataset.observe`, so no
  *    count re-reads the raw file or the cache;
  *  - the merge is a unionByName over those caches with an explicit
  *    project-rank key instead of file concatenation;
  *  - the per-project stats are aggregated once; their few rows feed
  *    the stats file, the combined stats and the result as a local
  *    frame;
  *  - every stage runs distributed.
  * Emission order (§2.10) is preserved end to end.
  *
  * Run: tools/run.sh graft.JiraMain <outDir> — defaults to the
  * checked-in fixture projects.
  */
object JiraMain {

  case class Result(
      outDir: String,
      perProjectCounts: Map[String, Long],
      mergedCount: Long,
      combined: org.apache.spark.sql.Row,
      fileSizeMb: Double,
      processingTimeSeconds: Double
  )

  /** Observed metrics reach the driver through a listener after their
    * action returns; a lost event fails the run after this long
    * instead of blocking it forever.
    */
  private val ObservedMetricsTimeout = 1.minute

  def run(
      spark: SparkSession,
      projects: Seq[(String, String)],
      outDir: String
  ): Result = {
    // driver wall clock — the reference's start_time → combined
    // stats' processing_time_seconds (main.py:33,105)
    val t0 = System.nanoTime()
    val corpusKeys = Seq("project_rank", "created", "issue_key", "task_rank")
    val exampleShape =
      Seq("task_type", "instruction", "input", "output", "metadata")

    val perProject = projects.zipWithIndex.map { case ((proj, path), rank) =>
      val issuesSeen = Observation()
      val examplesSeen = Observation()
      val flat = JiraFlatten
        .flatten(JiraPipeline.readRaw(spark, path), proj)
        .observe(issuesSeen, count(lit(1)))
      // the observations sit inside the cached plan, so they count
      // the rows once, when the write below fills the cache
      val examples = JiraGenerators
        .generate(flat)
        .withColumn("project_rank", lit(rank))
        .observe(examplesSeen, count(lit(1)))
        .cache()
      Sinks.writeJsonlSingleFile(
        examples,
        s"$outDir/${proj}_examples.jsonl",
        corpusKeys,
        projectTo = exampleShape
      )
      (proj, issuesSeen, examplesSeen, examples)
    }

    val merged = perProject
      .map(_._4)
      .reduce(_.unionByName(_))
    val mergedPath = s"$outDir/merged_corpus.jsonl"
    Sinks.writeJsonlSingleFile(merged, mergedPath,
      corpusKeys, projectTo = exampleShape)
    // F7: the reference logs the merged corpus size in MB
    // (main.py:115-121, utils.py:185-198)
    val fileSizeMb = Sinks.fileSizeMb(mergedPath)

    val stats = collectLocal(JiraStats.perProject(merged))
    Sinks.writeStatsJson(stats, s"$outDir/per_project_stats.json")

    val issueCounts = {
      import spark.implicits._
      perProject.map { case (p, issues, _, _) => (p, observedCount(issues)) }
        .toDF("project", "raw_issues_count")
    }
    val perProjectCounts =
      perProject.map { case (p, _, examples, _) => p -> observedCount(examples) }
    // measured before the combined-stats write, like the reference
    // (elapsed covers scrape+transform+merge — main.py:105)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    val combined =
      collectLocal(JiraStats.combined(stats, issueCounts, Some(elapsedSec)))
    Sinks.writeStatsJson(combined, s"$outDir/combined_stats.json")

    Result(
      outDir,
      perProjectCounts.toMap,
      perProjectCounts.map(_._2).sum,
      combined.head(),
      fileSizeMb,
      elapsedSec
    )
  }

  /** Rows counted by an observation whose action has returned. */
  private def observedCount(o: Observation): Long =
    Await.result(o.future, ObservedMetricsTimeout).getLong(0)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/jira_corpus")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, JiraPipeline.fixtureProjects, outDir)
    // pipeline summary (main.py:108-123): counts + corpus size MB +
    // total wall time
    println(
      s"""{"metric":"jira_corpus_build","merged_examples":${r.mergedCount},""" +
        s""""per_project":{${r.perProjectCounts
            .map { case (k, v) => s""""$k":$v""" }
            .mkString(",")}},"file_size_mb":${f"${r.fileSizeMb}%.4f"},""" +
        s""""processing_time_seconds":${f"${r.processingTimeSeconds}%.2f"},""" +
        s""""out":"${r.outDir}"}"""
    )
    spark.stop()
  }
}
