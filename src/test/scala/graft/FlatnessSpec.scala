package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.crawl._
import graft.fs.StoreFiles

/** Epoch-age invariance: the per-epoch cost of the crawl loop must be O(1)
  * in crawl age — incremental bloom segments, O(1) touched-bucket listing,
  * and compaction cadence mean neither the scheduled-job count nor the
  * per-epoch wall may creep as the seen store accumulates 50+ epochs of
  * history. (Reference analogue: the service's per-batch cost is
  * independent of how many prior batches ran —
  * service/BulkCrawlService.java processes each batch against an indexed
  * store, not a scan of history.)
  */
class FlatnessSpec extends SparkSpec {

  test("50-epoch loop: per-epoch job count and wall stay flat (no O(age) creep)") {
    val epochs = 52
    val cfg = CrawlConfig(
      workDir = Files.createTempDirectory("graft-flat").toString,
      totalUrls = epochs * 600L, epochs = epochs, numHosts = 40,
      buckets = 8, budgetPerHost = 25, seed = 42L)

    // per-epoch scheduled-job counts, attributed via the `epoch=N ...`
    // job descriptions the loop sets (each concurrent sink and maintenance
    // stage sets its own on its own thread)
    val jobCounts = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val Ep = "epoch=(\\d+)".r
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val e = Ep.findFirstMatchIn(desc).map(_.group(1).toInt).getOrElse(-1)
        jobCounts.merge(e, 1, (a, b) => a + b)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val metrics =
      try CrawlLoop.run(spark, cfg)
      finally {
        // listener bus is async — poll until counts stop changing
        var prev = -1L; var cur = 0L; var spins = 0
        while (prev != cur && spins < 20) {
          prev = cur; Thread.sleep(150)
          cur = jobCounts.values.asInstanceOf[java.util.Collection[Integer]]
            .stream().mapToLong(_.longValue).sum()
          spins += 1
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(metrics.size == epochs)

    // --- job-count flatness. Epochs 0-2 run unique plan shapes (empty
    // seen store, first bloom probe, first compaction candidates), so the
    // steady-state window is epoch >= 3. The loop's measured shape is a
    // flat base (32 jobs/epoch at this config) plus a bounded bump on the
    // period-8 compaction-cadence epochs (+7) and a short final epoch (no
    // carry-write) — a CADENCE, not creep. Medians ignore the periodic
    // bump; O(age) creep (segment-count-proportional jobs, O(epochs)
    // listing) would move the median and breach the bounded-bump cap.
    val steady = (3 until epochs).map(e =>
      e -> Option(jobCounts.get(e)).fold(0)(_.intValue))
    val counts = steady.map(_._2)
    assert(counts.forall(_ > 0), s"missing job attribution: $steady")
    def medianI(xs: Seq[Int]): Int = xs.sorted.apply(xs.size / 2)
    val earlyMed = medianI(counts.take(10))
    val lateMed = medianI(counts.takeRight(10))
    assert(math.abs(lateMed - earlyMed) <= 2,
      s"per-epoch job count drifts with age: earlyMedian=$earlyMed " +
        s"lateMedian=$lateMed counts=${steady.mkString(", ")}")
    assert(counts.max <= earlyMed + 10,
      s"per-epoch job bump unbounded: max=${counts.max} base=$earlyMed " +
        s"counts=${steady.mkString(", ")}")

    // --- wall flatness: medians are robust to GC/test-JVM noise; a real
    // O(age) term (re-reading all segments, O(epochs) listing) would show
    // as a multiplicative trend across 40+ steady epochs, far beyond the
    // 1.6x tolerance.
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val walls = metrics.drop(3).map(_.duration_ms)
    val early = median(walls.take(10))
    val late = median(walls.takeRight(10))
    assert(late <= math.max(1.6 * early, early + 400),
      s"per-epoch wall creeps with age: earlyMedian=${early}ms lateMedian=${late}ms " +
        s"walls=${walls.mkString(",")}")

    // sanity: the 52-epoch seen store is populated and bounded by the
    // admission stream (admitted double-counts retry re-enqueues, so it is
    // an upper bound, not an equality — CrawlSpec owns the byte-identical
    // membership check against the simulator)
    val seen = spark.read.parquet(StoreFiles.epochDirs(spark, s"${cfg.workDir}/seen"): _*)
      .select("url_hash").distinct().count()
    val admitted = metrics.map(_.n_admitted).sum
    assert(seen > 0 && seen <= admitted, s"seen=$seen admitted=$admitted")
  }
}
