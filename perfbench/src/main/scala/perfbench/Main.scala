package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command-line options. `run.py` passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, scratch: String, record: String,
    data: String, launchMs: Double)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("scratch"), need("record"),
      need("data"), need("launch-ms").toDouble)
  }
}

/** Peak heap used right after a major (full) collection, over a window.
  * A full collection is forced when the window closes, so every window
  * has at least one sample: the figure is the peak live heap. */
object HeapPeak {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
            .filter { case (pool, _) => heapPools.contains(pool) }
            .map(_._2.getUsed).sum
          synchronized { if (used > peak) peak = used }
        }
      }
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def open(): Unit = { peak = 0L; armed = true }

  /** Close the window; returns the peak in MB. */
  def close(): Double = {
    System.gc()
    Thread.sleep(200) // notifications are delivered on a JMX thread
    armed = false
    peak / (1024.0 * 1024.0)
  }
}

/** Contention stamp: a 1-thread memory-streaming bandwidth mark (the
  * `graft.WindowMark` recipe) and the 1-minute load average. Recorded
  * next to the run's metrics; no run is retried or dropped because of it. */
object Contention {
  def stamp(rec: Record): Unit = {
    val words = 8 * 1024 * 1024 // 64 MB, far beyond the last-level cache
    val a = Array.tabulate(words)(_.toLong)
    val ms = 300L
    val t0 = System.nanoTime()
    var passes = 0L; var s = 0L
    while (System.nanoTime() - t0 < ms * 1000000L) {
      var j = 0
      while (j < words) { s += a(j); j += 1 }
      passes += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val gbps = if (s == 42) 0.0 else passes * words * 8.0 / sec / 1e9
    val load1 = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
        .trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
    rec.metric("contention.membw_gbps_1t", gbps, "GB/s")
    rec.metric("contention.load1", load1, "load")
  }
}

object Main {
  def session(o: Opts): SparkSession = {
    val local = s"${o.scratch}/spark-local"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(local))
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", (o.cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val rec = new Record
    HeapPeak.install()
    var spark: SparkSession = null
    val code =
      try {
        rec.mark("jvm", o.launchMs)
        Contention.stamp(rec)
        spark = session(o)
        rec.mark("session", o.launchMs)
        rec.info("spark.master", spark.sparkContext.master)
        rec.info("workload", o.workload)
        rec.info("seed", o.seed)
        o.workload match {
          case "crawl_incremental" => new CrawlWorkload(spark, o, rec).run()
          case "readside" => new ReadsideWorkload(spark, o, rec).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (o.trace) { rec.mark("kernels", o.launchMs); Kernels.run(spark, o, rec) }
        rec.mark("done", o.launchMs)
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          rec.info("fatal", s"${t.getClass.getName}: ${t.getMessage}")
          3
      } finally {
        try rec.write(o.record)
        finally if (spark != null) spark.stop()
      }
    System.exit(code)
  }
}
