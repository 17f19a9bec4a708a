package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in milliseconds with nanosecond resolution, on the same
  * base as the `time` fields of Spark listener events. */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def ms(): Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** One finished Spark job with the task metrics of its stages. */
final case class JobRec(id: Int, desc: String, startMs: Double, endMs: Double,
    ok: Boolean, stages: Int, tasks: Long, runMs: Double, cpuS: Double,
    gcMs: Double, shuffleWriteBytes: Long, spillBytes: Long)

/** One query execution: its interval and, for a file write, the output dir. */
final case class QueryRec(startMs: Double, endMs: Double, ok: Boolean, output: String) {
  def dur: Double = endMs - startMs
}

/** The benchmark's own listeners: a [[SparkListener]] that turns job and
  * stage events into [[JobRec]]s, and a [[QueryExecutionListener]] that
  * records query executions with the directory each one writes. Both are attached only while tracing is on
  * (`on()` / `off()`), so a run with tracing off carries no listener. */
final class Trace(spark: SparkSession) {
  private final class StageAgg {
    var tasks = 0L; var runMs = 0.0; var cpuNs = 0L; var gcMs = 0.0
    var shuffleWrite = 0L; var spill = 0L
  }
  private final case class Open(desc: String, startMs: Double, stageIds: Seq[Int])

  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val queryMs = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  @volatile private var lastEventMs = Clock.ms()
  @volatile private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      open.put(js.jobId, Open(desc, js.time.toDouble, js.stageIds))
      lastEventMs = Clock.ms()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val a = new StageAgg
      a.tasks = info.numTasks
      Option(info.taskMetrics).foreach { m =>
        a.runMs = m.executorRunTime.toDouble
        a.cpuNs = m.executorCpuTime
        a.gcMs = m.jvmGCTime.toDouble
        a.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        a.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageAgg.put(info.stageId, a)
      lastEventMs = Clock.ms()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      Option(open.remove(je.jobId)).foreach { o =>
        // skipped stages never complete and carry no work
        val aggs = o.stageIds.flatMap(s => Option(stageAgg.remove(s)))
        done.add(JobRec(je.jobId, o.desc, o.startMs, je.time.toDouble,
          je.jobResult == JobSucceeded, aggs.size, aggs.map(_.tasks).sum,
          aggs.map(_.runMs).sum, aggs.map(_.cpuNs).sum / 1e9,
          aggs.map(_.gcMs).sum, aggs.map(_.shuffleWrite).sum, aggs.map(_.spill).sum))
      }
      lastEventMs = Clock.ms()
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = Clock.ms()
      queryMs.add(QueryRec(end - durationNs / 1e6, end, ok = true, outputPath(qe)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      val end = Clock.ms(); queryMs.add(QueryRec(end, end, ok = false, outputPath(qe)))
    }
  }

  /** The directory a file-writing query writes, or "". */
  private def outputPath(qe: QueryExecution): String =
    scala.util.Try(qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }.getOrElse("")).getOrElse("")

  def on(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    attached = true
  }

  /** Detach after the listener bus has delivered every event of the jobs
    * started so far (bounded wait, outside any timed region). */
  def off(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    attached = false
  }

  /** Wait until no job is open and the bus has been quiet for 100 ms. */
  def drain(): Unit = {
    val deadline = Clock.ms() + 5000
    while (Clock.ms() < deadline &&
        (!open.isEmpty || Clock.ms() - lastEventMs < 100)) Thread.sleep(10)
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.startMs)

  /** Every query execution seen. */
  def queries: Seq[QueryRec] = queryMs.asScala.toSeq.sortBy(_.startMs)

  def jobsIn(startMs: Double, endMs: Double): Seq[JobRec] =
    jobs.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs + 1)
}
