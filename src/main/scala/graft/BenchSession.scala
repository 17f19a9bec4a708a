package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The one session builder of the bench mains ([[Bench]], [[BenchExtra]],
  * [[CrawlBench]], `tools.StopShingleCheck`), so every measured session
  * runs under the same configuration. */
object BenchSession {

  /** tmpfs base when available: local-mode shuffle + sink writes through
    * /dev/vda otherwise cap multi-core throughput (measured: the disk, not
    * the CPUs, was the local[32] bottleneck). */
  val tmpBase: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-bench") else None
  }

  /** `local[cores]` (or `master`), 2×cores shuffle partitions, UTC, AQE.
    * Shuffle dirs and read-side scratch writes (`graft.scratch.dir`) go to
    * [[tmpBase]] when there is one. */
  def apply(name: String, cores: Int, master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(s"$name-$cores")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // dictionary-encoding the columnar cache was a measured hotspot
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // no per-file chmod forks / .crc siblings (graft.fs.FastLocalFileSystem;
      // measured /proc/stat forks: 32.7k → 0.8k per 4M-URL crawl)
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
    tmpBase.foreach { base =>
      Files.createDirectories(Paths.get(s"$base/local"))
      b.config("spark.local.dir", s"$base/local")
      sys.props("graft.scratch.dir") = base
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
