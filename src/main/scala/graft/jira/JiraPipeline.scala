package graft.jira

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end Jira pipeline (main.py:17-137 semantics; SURVEY §3 EP1):
  * raw JSON → flatten → fan-out → ordered corpus + statistics.
  *
  * The total corpus order (SURVEY §2.10) is explicit: project rank
  * (config order) → created ASC → issue_key → within-issue task rank.
  * The sort keys ride along the plan; an ordered single-file write is
  * `orderedCorpus(...).coalesce(1)` at the sink, while the unordered
  * corpus keeps full parallelism for analytical consumers.
  */
object JiraPipeline {

  /** The checked-in fixture projects, resolved against the working
    * directory, which is the repository root for sbt, `tools/run.sh`
    * and the benchmark. Every fixture reader takes the directory from
    * here: the Spark reads, the DuckDB oracle SQL, `ThroughputBench`
    * and the specs.
    */
  val FixtureDir: String =
    java.nio.file.Paths.get("src/test/resources/jira").toAbsolutePath
      .normalize.toString

  /** Schema'd parse of the raw issue lines, plus two presence probes
    * read from the raw text ([[JiraFlatten.ProbeFieldsKeys]]/
    * [[JiraFlatten.ProbeTopKeys]]): Spark's JSON parser maps an
    * absent key and an explicit JSON null both to null, but the
    * reference treats them oppositely (absent → default, null →
    * crash-drop; scraper.py:217,316-318), so the key sets ride along
    * the same scan — one text read, no second pass over the file, no
    * shuffle. The probes cost two extra in-row JSON traversals of the
    * line; a fused single-parse expression is possible if the flatten
    * stage ever dominates a profile (it is ~0 next to the generators).
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .text(path)
      .select(
        from_json(col("value"), JiraSchemas.rawIssueSchema).as("j"),
        json_object_keys(get_json_object(col("value"), "$.fields"))
          .as(JiraFlatten.ProbeFieldsKeys),
        json_object_keys(col("value")).as(JiraFlatten.ProbeTopKeys)
      )
      .select(col("j.*"), col(JiraFlatten.ProbeFieldsKeys),
        col(JiraFlatten.ProbeTopKeys))

  /** Ingest robustness for corpus-scale JSON: PERMISSIVE parse with a
    * quarantine column — a malformed line becomes one quarantine row
    * instead of failing a 100 TB job (at scale a bad-records rate is
    * an SLO, not an exception). Returns (parsed, quarantined,
    * release): the backing frame is cached because Spark forbids
    * filtering the internal corrupt-record column on the
    * un-materialized scan (SPARK-21610 semantics) — call `release()`
    * after materializing both splits so the cache doesn't pin
    * executor memory for the session lifetime.
    */
  def readRawWithQuarantine(
      spark: SparkSession,
      path: String
  ): (DataFrame, DataFrame, () => Unit) = {
    val corruptCol = "_corrupt_record"
    val raw = spark.read
      .schema(JiraSchemas.rawIssueSchema
        .add(corruptCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
      .cache()
    (
      raw.filter(col(corruptCol).isNull).drop(corruptCol),
      raw.filter(col(corruptCol).isNotNull).select(col(corruptCol)),
      () => { raw.unpersist(); () }
    )
  }

  /** Flattened issues for a list of (project, rawJsonPath), tagged
    * with project_rank to preserve config order.
    */
  def flattenedIssues(
      spark: SparkSession,
      projects: Seq[(String, String)]
  ): DataFrame =
    projects.zipWithIndex
      .map { case ((proj, path), rank) =>
        JiraFlatten
          .flatten(readRaw(spark, path), proj)
          .withColumn("project_rank", lit(rank))
      }
      .reduce(_.unionByName(_))

  /** Training-example corpus with ordering keys. */
  def corpus(spark: SparkSession, projects: Seq[(String, String)]): DataFrame =
    projects.zipWithIndex
      .map { case ((proj, path), rank) =>
        JiraGenerators
          .generate(JiraFlatten.flatten(readRaw(spark, path), proj))
          .withColumn("project_rank", lit(rank))
      }
      .reduce(_.unionByName(_))

  /** Corpus in the reference's total emission order. */
  def orderedCorpus(
      spark: SparkSession,
      projects: Seq[(String, String)]
  ): DataFrame =
    corpus(spark, projects).orderBy(
      col("project_rank"),
      col("created"),
      col("issue_key"),
      col("task_rank")
    )

  /** Default fixture pipeline (two projects, config order). */
  def fixtureProjects: Seq[(String, String)] = Seq(
    "TEST" -> s"$FixtureDir/raw_issues_TEST.jsonl",
    "TEST2" -> s"$FixtureDir/raw_issues_TEST2.jsonl"
  )
}
