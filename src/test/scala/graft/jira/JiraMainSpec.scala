package graft.jira

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `JiraMain.run` builds the corpus in one pass: each raw file is
  * scanned by one action, the counts come from the metrics observed on
  * that action, and the outputs match goldens written by the
  * multi-action build it replaced (`src/test/resources/jira/corpus/`,
  * captured at the default session settings and 4 shuffle partitions,
  * which fix the physical plan and so the stats row order).
  */
class JiraMainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val goldenDir = Paths.get(JiraPipeline.FixtureDir, "corpus")

  /** Every action that succeeds while it is registered. */
  private final class Actions extends QueryExecutionListener {
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      done.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      ()

    /** Listener events arrive asynchronously and in order: once a
      * marker action has been seen, every earlier action has too.
      */
    def drain(): Seq[QueryExecution] = {
      val marker = "jira_main_spec_marker"
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      def seen = done.asScala.exists(_.analyzed.output.exists(_.name == marker))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "listener did not deliver the marker action")
      done.asScala.toSeq
    }
  }

  /** File scans an executed plan contains, cached plans included. */
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case p => (p.children ++ p.subqueries).flatMap(scans)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one data file of a single-file Spark output directory. */
  private def part(dir: String): Path = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"$dir: ${parts.size} part files")
    parts.head
  }

  private def lines(p: Path): Long = Files.readAllLines(p).size.toLong

  test("each raw file is scanned by one action; counts come from it") {
    val out = Files.createTempDirectory("jira_main").toString
    val actions = new Actions
    spark.listenerManager.register(actions)
    val r =
      try {
        val r = JiraMain.run(spark, JiraPipeline.fixtureProjects, out)
        actions.drain()
        r
      } finally spark.listenerManager.unregister(actions)

    // a cached plan's scan is one node shared by every action that
    // reads the cache; reading the file again takes another scan node
    val executed = actions.done.asScala.toSeq
      .flatMap(qe => scans(qe.executedPlan))
      .foldLeft(List.empty[FileSourceScanExec]) { (seen, s) =>
        if (seen.exists(_ eq s)) seen else s :: seen
      }
      .filter(_.metrics("numOutputRows").value > 0)
    for ((proj, path) <- JiraPipeline.fixtureProjects) {
      val ofFile = executed.filter(
        _.relation.location.rootPaths.exists(_.toUri.getPath == path))
      assert(ofFile.size == 1, s"$proj: ${ofFile.size} executed scans")
      assert(ofFile.head.metrics("numOutputRows").value ==
        lines(Paths.get(path)), s"$proj: raw lines read")
    }

    for ((proj, _) <- JiraPipeline.fixtureProjects)
      assert(r.perProjectCounts(proj) ==
        lines(part(s"$out/${proj}_examples.jsonl")), proj)
    assert(r.mergedCount == lines(part(s"$out/merged_corpus.jsonl")))
    assert(r.mergedCount == 58L)

    // raw_issues_count is the number of issues the flatten keeps (an
    // explicit JSON null drops an issue), as in the reference goldens
    val combined =
      new ObjectMapper().readTree(part(s"$out/combined_stats.json").toFile)
    val rawIssues = combined.get("per_project_stats").elements().asScala
      .map(s => s.get("project").asText -> s.get("raw_issues_count").asLong)
      .toMap
    assert(rawIssues == JiraPipeline.fixtureProjects.map { case (proj, _) =>
      proj -> lines(Paths.get(JiraPipeline.FixtureDir,
        s"golden_flattened_$proj.jsonl"))
    }.toMap)
    assert(combined.get("total_issues").asLong == rawIssues.values.sum)
  }

  test("outputs are byte-identical to the goldens") {
    val out = Files.createTempDirectory("jira_main_golden").toString
    withConf("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10MB") {
      JiraMain.run(spark, JiraPipeline.fixtureProjects, out)
    }
    def bytes(p: Path) = Files.readAllBytes(p).toSeq
    val perProject = JiraPipeline.fixtureProjects.map { case (proj, _) =>
      val golden = bytes(goldenDir.resolve(s"${proj}_examples.jsonl"))
      assert(bytes(part(s"$out/${proj}_examples.jsonl")) == golden, proj)
      golden
    }
    assert(bytes(part(s"$out/merged_corpus.jsonl")) == perProject.flatten)
    assert(bytes(part(s"$out/per_project_stats.json")) ==
      bytes(goldenDir.resolve("per_project_stats.json")))
    // processing_time_seconds is wall-clock time
    def withoutTime(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll(""","processing_time_seconds":[-0-9.E]+""", "")
    assert(withoutTime(part(s"$out/combined_stats.json")) ==
      withoutTime(goldenDir.resolve("combined_stats.json")))
  }

  test("a missing or corrupt raw file fails the run instead of hanging") {
    val dir = Files.createTempDirectory("jira_main_bad")
    // a .gz suffix makes the reader gunzip it: the scan fails while the
    // write action runs, after that project's observations registered
    val corrupt = dir.resolve("raw_issues_BAD.jsonl.gz")
    Files.copy(Paths.get(JiraPipeline.FixtureDir, "raw_issues_TEST2.jsonl"),
      corrupt)
    val missing = dir.resolve("raw_issues_NONE.jsonl")
    for (bad <- Seq(corrupt, missing)) {
      val projects = JiraPipeline.fixtureProjects.take(1) :+
        ("BAD" -> bad.toString)
      val run = Future(JiraMain.run(spark, projects, s"$dir/out"))
      val failed = Await.ready(run, 2.minutes).value.get
      assert(failed.isFailure, s"$bad: run succeeded")
    }
  }
}
