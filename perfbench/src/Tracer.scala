package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run: a `SparkListener` for job, stage
  * and task spans (parented to a query through the job group and to a
  * phase through the [[Tracer.PhaseKey]] local property) and a
  * `QueryExecutionListener` for the plan phases of every action the
  * program runs, eager ones inside query construction included.
  * Spans stay in memory and are written once, at the end of the run.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val records = new ConcurrentLinkedQueue[String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  private val callbackNanos = new AtomicLong(0L)

  def callbackSeconds: Double = callbackNanos.get / 1e9

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    started.incrementAndGet()
    val props = Option(e.properties)
    def prop(k: String): String =
      props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    records.add(Json.obj(Seq("kind" -> "job_start", "job" -> e.jobId,
      "group" -> prop("spark.jobGroup.id"), "phase" -> prop(Tracer.PhaseKey),
      "start_ms" -> e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    records.add(Json.obj(Seq("kind" -> "job_end", "job" -> e.jobId,
      "end_ms" -> e.time)))
    ended.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  // tasks, run ms, cpu ns, gc ms, wait ms, shuffle read, shuffle write,
  // spill, input, records written, bytes written
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new Array[Long](11))
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      a.synchronized {
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += math.max(0L, e.taskInfo.launchTime - submit)
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(8) += m.inputMetrics.bytesRead
        a(9) += m.outputMetrics.recordsWritten
        a(10) += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val a = Option(stageAgg.get(i.stageId)).getOrElse(new Array[Long](11))
    val keys = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms",
      "shuffle_read", "shuffle_write", "spill", "input", "records_written",
      "bytes_written")
    records.add(Json.obj(Seq("kind" -> "stage", "stage" -> i.stageId,
      "job" -> stageJob.getOrDefault(i.stageId, -1),
      "start_ms" -> i.submissionTime.getOrElse(0L),
      "end_ms" -> i.completionTime.getOrElse(0L)) ++
      keys.zip(a.toSeq)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val isWrite = Plans.nodes(qe.executedPlan).exists {
        case _: DataWritingCommandExec => true
        case p => p.nodeName.contains("Write")
      }
      records.add(Json.obj(Seq("kind" -> "qe", "func" -> funcName,
        "start_ms" -> start, "duration_s" -> durationNs / 1e9,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "write" -> isWrite)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait for the listener bus to deliver every job end, then write
    * the listener records and the harness's phase spans.
    */
  def finish(path: String, phaseSpans: Seq[String]): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ended.get < started.get && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(300) // stage/QE events trail the last job end
    val pw = new PrintWriter(new File(path), "UTF-8")
    (phaseSpans.iterator ++ records.iterator.asScala).foreach(pw.println)
    pw.close()
  }
}

object Tracer {
  /** Local property naming the harness phase a job runs in. */
  val PhaseKey = "perfbench.phase"

  def nowMs: Double = System.currentTimeMillis().toDouble
}

/** Physical plan walks that see through adaptive execution. */
object Plans {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    plan +: inner.flatMap(nodes)
  }

  def isInMemoryScan(p: SparkPlan): Boolean = p.isInstanceOf[InMemoryTableScanExec]
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
