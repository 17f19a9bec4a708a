package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.crawl.{CrawlConfig, CrawlLoop}

/** Single-parallelism crawl benchmark for clean (fresh-JVM) scaling
  * measurements: `graft.CrawlBench <cores> <totalUrls>` prints one line
  * `CRAWL_BENCH cores=<c> urls=<n> candidates=<m> sec=<s> urls_per_sec=<r>`.
  *
  * urls_per_sec is denominated in FRESH frontier URLs ingested
  * (cfg.totalUrls): candidates double-count deferred/retry rows carried
  * between epochs, which inflates the rate; candidates are still printed
  * for transparency. */
object CrawlBench {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val totalUrls = args(1).toLong
    // SPARK_GRAFT_MASTER overrides the master URL — the multi-executor
    // evidence knob: `local-cluster[N,cores,memMB]` launches N REAL
    // executor JVMs (own heap, own UnifiedMemoryManager, own GC), which
    // is the north rule's literal "N and 4N executors" shape and removes
    // the single-JVM artifact where all 32 threads convoy on one memory-
    // manager monitor. `cores` stays the TOTAL core count for the
    // urls_per_sec denominator and shuffle sizing.
    val spark = BenchSession("graft-crawl-bench", cores, sys.env.get("SPARK_GRAFT_MASTER"))
    try run(spark, cores, totalUrls) finally spark.stop()
  }

  /** One seeded 2-epoch crawl of `totalUrls` in a fresh work dir: prints
    * the CRAWL_BENCH line and returns fresh URLs/s. */
  def run(spark: SparkSession, cores: Int, totalUrls: Long): Double = {
    val base = Paths.get(BenchSession.tmpBase.getOrElse(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    val wd = Files.createTempDirectory(base, s"crawl-$cores").toString
    val cfg = CrawlConfig(workDir = wd, totalUrls = totalUrls, epochs = 2,
      numHosts = 4000, buckets = 32, budgetPerHost = 1500, seed = 42L)
    try {
      val t0 = System.nanoTime()
      val metrics = CrawlLoop.run(spark, cfg)
      val sec = (System.nanoTime() - t0) / 1e9
      val candidates = metrics.map(_.n_candidates).sum
      println(f"CRAWL_BENCH cores=$cores urls=$totalUrls candidates=$candidates " +
        f"sec=$sec%.2f urls_per_sec=${totalUrls / sec}%.1f")
      totalUrls / sec
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wd))
  }
}
