package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.crawl._
import graft.seen.{LongBloom, SeenSet}

object CrawlWorkload {
  /** Input size and crawl policy. Mid-size slices under a per-host budget
    * that the Zipf-hot hosts exceed, so deferred rows carry into every
    * epoch; the seen store grows with every epoch (the frontier's
    * duplicate domain is global), and seen-store consolidation and
    * latest-view compaction run after every epoch. Set-up is a throwaway
    * crawl of `WarmEpochs` epochs of the same shape under another seed: it
    * fills the JIT and whole-stage-codegen caches for the first-epoch plan,
    * the seen-probe plan and both maintenance jobs at the measured sizes. */
  val UrlsPerEpoch = 20000L
  val NumHosts = 4000
  val Buckets = 32
  val BudgetPerHost = 500
  val ConsolidateEvery = 1
  val LatestCompactEvery = 1
  val WarmEpochs = 2
  val MinTimedEpochs = 2
  val MaxEpochs = 12

  /** Size and count of the regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  /** One timed epoch: call start, commit marker time, call end. */
  final case class EpochRun(epoch: Int, startMs: Double, commitMs: Double,
      endMs: Double, traced: Boolean, m: EpochMetrics) {
    def latencyS: Double = (commitMs - startMs) / 1000.0
    def wallS: Double = (endMs - startMs) / 1000.0
  }

  /** A traced epoch: its jobs, job time per phase, the wall covered by no
    * job, and the time from the last pre-commit job to the commit marker. */
  final case class EpochTrace(run: EpochRun, jobs: Seq[JobRec],
      phaseS: Map[String, Double], gapS: Double, commitS: Double)

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
}

/** The crawl workload: one client (the benchmark's main thread) runs one
  * epoch at a time through the public entry point
  * `CrawlLoop.run(spark, cfg, stopAfter = 1)`; the only parallelism is
  * Spark's `local[cores]` task threads. */
final class CrawlWorkload(spark: SparkSession, o: Opts, rec: Record) {
  import CrawlWorkload._
  import spark.implicits._

  def run(): Unit = {
    val trace = new Trace(spark)
    def config(workDir: String, seed: Long) =
      CrawlConfig(workDir = workDir, totalUrls = UrlsPerEpoch * MaxEpochs,
        epochs = MaxEpochs, numHosts = NumHosts, buckets = Buckets,
        budgetPerHost = BudgetPerHost, seed = seed,
        consolidateEvery = ConsolidateEvery, latestCompactEvery = LatestCompactEvery)
    // ---- set-up: a throwaway warm-up crawl
    val warmDir = s"${o.scratch}/warmup"
    CrawlLoop.run(spark, config(warmDir, o.seed + 1), stopAfter = WarmEpochs)
    deleteTree(warmDir)

    val wd = s"${o.scratch}/crawl"
    val cfg = config(wd, o.seed)
    // ---- timed region
    val runs = ArrayBuffer.empty[EpochRun]
    rec.mark("timed", o.launchMs)
    val t0 = Clock.ms()
    rec.metric("setup_s", (t0 - o.launchMs) / 1000.0, "s")
    HeapPeak.open()
    val cpu0 = Stats.processCpuS()
    var e = 0
    var broken = false
    val minEpochs = if (o.trace) 3 else MinTimedEpochs
    while (!broken && e < MaxEpochs &&
        (e < minEpochs || Clock.ms() - t0 < o.seconds * 1000)) {
      // traced run: odd epochs carry the listeners, even ones do not — the
      // difference is the tracing overhead (epoch 0, which has no seen
      // store yet, is left out of that comparison)
      val traced = o.trace && e % 2 == 1
      if (traced) trace.on()
      rec.attempted += 1
      val s = Clock.ms()
      try {
        val ms = CrawlLoop.run(spark, cfg, stopAfter = 1)
        val end = Clock.ms()
        require(ms.size == 1 && ms.head.epoch == e, s"epoch $e: got ${ms.map(_.epoch)}")
        val commit = Files.getLastModifiedTime(Paths.get(s"$wd/_commits/epoch_$e.json"))
          .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
        runs += EpochRun(e, s, math.min(math.max(commit, s), end), end, traced, ms.head)
      } catch {
        case t: Throwable =>
          // a failed epoch is counted, never timed; later epochs would
          // build on a broken state, so the loop stops here
          System.err.println(s"[perfbench] epoch $e failed: $t")
          rec.failed += 1
          broken = true
      }
      if (traced) trace.off()
      e += 1
    }
    val cpuS = Stats.processCpuS() - cpu0
    val heapMb = HeapPeak.close()

    // ---- end-to-end metrics (tracing does not touch the untraced run)
    val fresh = runs.size * UrlsPerEpoch
    val wall = runs.map(_.wallS).sum
    rec.metric("op_latency_s_p50", Stats.median(runs.map(_.latencyS).toSeq), "s")
    rec.metric("throughput_per_s", Stats.ratio(fresh, wall), "1/s")
    rec.metric("cpu_s_per_op", Stats.ratio(cpuS, runs.size), "s")
    rec.metric("crawl.heap_peak_mb", heapMb, "MB")
    rec.info("crawl.epochs", runs.size)
    rec.info("crawl.epoch_latency_s", runs.map(r => f"${r.latencyS}%.3f").mkString(","))

    // ---- output checks, outside the timed region
    rec.mark("checks", o.launchMs)
    checkOutputs(wd, runs.map(_.m).toSeq)
    val (bytes, files) = du(wd)

    if (o.trace) {
      layerMetrics(trace, runs.toSeq, fresh, bytes, files)
      rec.mark("replay", o.launchMs)
      replay(wd, cfg, e)
    }
    deleteTree(wd)
  }

  /** Per-epoch identities over the committed metrics, plus the stored
    * tables they describe. */
  private def checkOutputs(wd: String, ms: Seq[EpochMetrics]): Unit = {
    ms.foreach { m =>
      val terms = Seq(m.n_dup_in_epoch, m.n_seen_skipped, m.n_robots_denied,
        m.n_admitted, m.n_deferred, m.n_processed, m.n_failed, m.n_rejected)
      rec.check(s"crawl.epoch${m.epoch}.terms_nonnegative", terms.forall(_ >= 0),
        terms.mkString(","))
      rec.check(s"crawl.epoch${m.epoch}.candidates_partition",
        m.n_candidates == m.n_dup_in_epoch + m.n_seen_skipped + m.n_robots_denied +
          m.n_admitted + m.n_deferred, s"candidates=${m.n_candidates}")
      rec.check(s"crawl.epoch${m.epoch}.admitted_outcomes",
        m.n_processed + m.n_failed + m.n_rejected == m.n_admitted,
        s"admitted=${m.n_admitted}")
      rec.info(s"crawl.counts.${m.epoch}", Seq(m.n_candidates, m.n_dup_in_epoch,
        m.n_seen_skipped, m.n_robots_denied, m.n_admitted, m.n_deferred,
        m.n_processed, m.n_failed, m.n_rejected).mkString(","))
    }
    if (ms.isEmpty) return
    // payload rows per epoch = admitted
    val payloadRows = spark.read.parquet(s"$wd/payload")
      .groupBy(col("crawl_epoch")).count().as[(Int, Long)].collect().toMap
    ms.foreach { m =>
      val got = payloadRows.getOrElse(m.epoch, 0L)
      rec.check(s"crawl.epoch${m.epoch}.payload_rows", got == m.n_admitted,
        s"payload=$got admitted=${m.n_admitted}")
    }
    // seen-delta rows = processed. Consolidation folds earlier epoch
    // directories into the newest one it merged, so each surviving
    // directory must hold the processed rows of every epoch it covers.
    val last = ms.map(_.epoch).max
    val dirs = (0 to last).filter(d => Files.exists(Paths.get(s"$wd/seen/epoch=$d")))
    var from = 0
    dirs.foreach { d =>
      val rows = spark.read.parquet(s"$wd/seen/epoch=$d").count()
      val want = ms.filter(m => m.epoch >= from && m.epoch <= d).map(_.n_processed).sum
      rec.check(s"crawl.seen_dir$d.rows", rows == want, s"rows=$rows processed=$want")
      from = d + 1
    }
    rec.check("crawl.seen_dirs_cover_all_epochs", from == last + 1, s"covered<$from")
    val seen = CrawlLoop.readSeen(spark, wd, last + 1)
    val (n, distinct) = seen.agg(count(lit(1)), countDistinct(col("url_hash")))
      .as[(Long, Long)].head()
    rec.check("crawl.seen_store_unique", n == distinct, s"rows=$n distinct=$distinct")
  }

  /** Per-layer metrics from the traced epochs. Each job is assigned to the
    * phase named by its `epoch=N <phase>` description; jobs that run before
    * the epoch sets its first description are `pre`, and jobs after the
    * commit marker are post-commit maintenance (consolidation, compaction). */
  private def layerMetrics(trace: Trace, runs: Seq[EpochRun], fresh: Long,
      bytes: Long, files: Long): Unit = {
    val Label = """epoch=(\d+) (.+)""".r
    val traced = runs.filter(_.traced)
    val perEpoch = traced.map { r =>
      val root = rec.span(0, s"epoch=${r.epoch}", r.startMs, r.endMs, "epoch")
      val jobs = trace.jobsIn(r.startMs, r.endMs)
      val phased = jobs.map { j =>
        val phase =
          if (j.startMs >= r.commitMs) "post_commit"
          else j.desc match {
            case Label(n, p) if n.toInt == r.epoch => p
            case _ => "pre"
          }
        rec.span(root, s"job ${j.id} $phase", j.startMs, j.endMs, "job")
        phase -> j
      }
      val covered = Stats.covered(jobs.map(j => (j.startMs, j.endMs))) / 1000.0
      val phaseS = phased.groupBy(_._1).map { case (p, js) =>
        p -> Stats.covered(js.map(x => (x._2.startMs, x._2.endMs))) / 1000.0 }
      val lastJobEnd = jobs.filter(_.startMs < r.commitMs).map(_.endMs)
        .foldLeft(r.startMs)(math.max)
      EpochTrace(r, jobs, phaseS, gapS = r.wallS - covered,
        commitS = (r.commitMs - lastJobEnd) / 1000.0)
    }
    def mean(f: EpochTrace => Double) = Stats.mean(perEpoch.map(f))
    def phase(p: String) = mean(_.phaseS.getOrElse(p, 0.0))
    def jobSum(f: JobRec => Double) = mean(_.jobs.map(f).sum)
    rec.metric("crawl.traced_epochs", perEpoch.size, "count")
    rec.metric("crawl.jobs_per_epoch", mean(_.jobs.size.toDouble), "count")
    rec.metric("crawl.stages_per_epoch", jobSum(_.stages.toDouble), "count")
    rec.metric("crawl.tasks_per_epoch", jobSum(_.tasks.toDouble), "count")
    rec.metric("crawl.executor_cpu_s", jobSum(_.cpuS), "s")
    rec.metric("crawl.executor_run_s", jobSum(_.runMs / 1000.0), "s")
    rec.metric("crawl.gc_s", jobSum(_.gcMs / 1000.0), "s")
    rec.metric("crawl.shuffle_write_bytes", jobSum(_.shuffleWriteBytes.toDouble), "B")
    rec.metric("crawl.spill_bytes", jobSum(_.spillBytes.toDouble), "B")
    rec.metric("crawl.core_busy_frac", mean(x =>
      Stats.ratio(x.jobs.map(_.runMs).sum / 1000.0, x.run.wallS * o.cores)), "ratio")
    rec.metric("crawl.driver_gap_s", mean(_.gapS), "s")
    rec.metric("crawl.pre.s", phase("pre"), "s")
    rec.metric("crawl.payload_write.s", phase("payload-write"), "s")
    rec.metric("crawl.lineage_write.s", phase("lineage-write"), "s")
    rec.metric("crawl.carry_write.s", phase("carry-write"), "s")
    rec.metric("crawl.commit.s", mean(_.commitS), "s")
    rec.metric("seen.seen_write.s", phase("seen-write"), "s")
    rec.metric("seen.bloom_merge.s", phase("seen-bloom-write"), "s")
    // post-commit maintenance, split by the directory each query writes:
    // seen-store consolidation stages `seen/.consolidate.tmp`, latest-view
    // compaction `latest_staging`
    def written(r: EpochRun, dir: String) = trace.queries
      .filter(q => q.startMs >= r.commitMs - 1 && q.endMs <= r.endMs + 1 && q.output.contains(dir))
      .map(_.dur).sum / 1000.0
    rec.metric("crawl.maintenance.s", phase("post_commit"), "s")
    rec.metric("seen.consolidate.s", Stats.mean(traced.map(written(_, ".consolidate.tmp"))), "s")
    rec.metric("crawl.latest.s",
      phase("latest-delta") + Stats.mean(traced.map(written(_, "latest_staging"))), "s")
    // unattributed remainder: wall − Σ phase job time − driver gap; it is
    // non-zero only when jobs of different phases overlap
    def residual(x: EpochTrace) = x.run.wallS - x.phaseS.values.sum - x.gapS
    rec.metric("crawl.residual_s", mean(residual), "s")
    rec.info("crawl.residual_s_per_epoch", perEpoch.map(x =>
      f"${x.run.epoch}:${residual(x)}%.4f").mkString(","))
    // tracing overhead: traced vs untraced epochs of the same run, up to
    // the commit marker
    val on = runs.filter(_.traced).map(_.latencyS)
    val off = runs.filter(r => !r.traced && r.epoch > 0).map(_.latencyS)
    rec.metric("trace_overhead_frac",
      if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on) / Stats.median(off) - 1, "ratio")

    // counts and waste over every timed epoch
    val ms = runs.map(_.m)
    val cand = ms.map(_.n_candidates).sum.toDouble
    val live = ms.map(m => m.n_candidates - m.n_dup_in_epoch).sum.toDouble
    rec.metric("crawl.dup_frac", Stats.ratio(ms.map(_.n_dup_in_epoch).sum, cand), "ratio")
    rec.metric("crawl.admit_frac", Stats.ratio(ms.map(_.n_admitted).sum, cand), "ratio")
    rec.metric("crawl.fetch_ok_frac",
      Stats.ratio(ms.map(_.n_processed).sum, ms.map(_.n_admitted).sum), "ratio")
    rec.metric("crawl.carry_rows", Stats.mean(ms.map(m => (m.n_deferred + m.n_failed).toDouble)), "rows")
    rec.metric("seen.skip_frac", Stats.ratio(ms.map(_.n_seen_skipped).sum, live), "ratio")
    rec.metric("crawl.files_written", Stats.ratio(files, runs.size), "files/epoch")
    rec.metric("crawl.bytes_written", Stats.ratio(ms.map(_.bytes_written).sum, runs.size), "B/epoch")
    rec.metric("crawl.store_bytes_per_url", Stats.ratio(bytes, fresh), "B/URL")
    rec.metric("crawl.epoch_s_p50", Stats.median(runs.map(_.latencyS)), "s")
    rec.metric("crawl.urls_per_s", Stats.ratio(fresh, runs.map(_.wallS).sum), "1/s")
  }

  /** Replays the next epoch stage by stage through the same public
    * functions the epoch loop fuses into its payload write, materializing
    * each output before the next call, so each stage's self time is the
    * time of its own materialization. The payload goes to a throwaway dir. */
  private def replay(wd: String, cfg: CrawlConfig, epoch: Int): Unit = {
    val cached = ArrayBuffer.empty[Dataset[_]]
    def stage[T](name: String)(body: => Dataset[T]): (Dataset[T], Double) = {
      val s = Clock.ms()
      val ds = body.persist(StorageLevel.MEMORY_AND_DISK)
      ds.count()
      val end = Clock.ms()
      cached += ds
      rec.span(0, s"replay $name", s, end, "replay")
      (ds, (end - s) / 1000.0)
    }
    val (keyed, keyingS) = stage("keying") {
      val slice = FrontierSynth.frontier(spark, cfg.urlsPerEpoch, cfg.numHosts,
        cfg.seed, epoch, epochOffset = epoch * cfg.urlsPerEpoch)
      val carryDir = s"$wd/carry/epoch=${epoch - 1}"
      val keyedSchema = implicitly[org.apache.spark.sql.Encoder[KeyedUrl]].schema
      val carried =
        if (Files.exists(Paths.get(carryDir)))
          spark.read.schema(keyedSchema).parquet(carryDir)
            .select(keyedSchema.fieldNames.map(col).toSeq: _*).as[KeyedUrl]
        else spark.emptyDataset[KeyedUrl]
      FrontierSynth.key(slice, cfg.buckets).unionByName(carried)
    }
    val (flagged, dedupS) = stage("dedup")(Politeness.dedupFlagged(keyed).toDF())
    val deduped = flagged.filter(!col("is_dup__")).drop("is_dup__").as[KeyedUrl]
    val seen = CrawlLoop.readSeen(spark, wd, epoch)
    val expectedPerBucket = math.max(64L, cfg.totalUrls / cfg.buckets)
    val (segments, _) = stage("bloom-build")(
      SeenSet.bloomSegments(seen, cfg.buckets, expectedPerBucket, cfg.bloomFpp))
    var cleanup: () => Unit = () => ()
    val (unseen, probeS) = stage("seen-probe") {
      val (u, c) = SeenSet.unseenTwoTierBroadcast(deduped, seen, segments)
      cleanup = c
      u
    }
    val rules = Robots.syntheticRules(cfg.numHosts, cfg.seed)
    var bc: org.apache.spark.broadcast.Broadcast[_] = null
    val (scheduled, politeS) = stage("politeness") {
      val (ds, b) = Politeness.scheduleTracked(unseen, rules, cfg.budgetPerHost)
      bc = b
      ds
    }
    val admitted = scheduled.filter(col("_2") === Politeness.Sched.Admitted)
      .select(col("_1.*"), col("_3").as("slot")).as[AdmittedUrl]
    val (fetched, fetchS) = stage("fetch")(Fetch.fetch(admitted, epoch))
    val w0 = Clock.ms()
    PayloadSink.writePayload(fetched, s"${o.scratch}/replay", epoch)
    val writeS = (Clock.ms() - w0) / 1000.0
    rec.span(0, "replay payload-write", w0, Clock.ms(), "replay")
    rec.metric("crawl.keying.self_s", keyingS, "s")
    rec.metric("crawl.dedup.self_s", dedupS, "s")
    rec.metric("seen.probe.self_s", probeS, "s")
    rec.metric("crawl.politeness.self_s", politeS, "s")
    rec.metric("crawl.fetch.self_s", fetchS, "s")
    rec.metric("crawl.payload_write.self_s", writeS, "s")

    // bloom usefulness on this epoch's probe: positives not confirmed by
    // the exact store ÷ positives
    val blooms = segments.collect().groupBy(_._1).map { case (b, segs) =>
      b -> segs.map(s => LongBloom.deserialize(s._2)).reduce(_ union _) }
    val keys = deduped.select(col("host_bucket"), col("url_hash")).as[(Int, Long)].collect()
    val positives = keys.count { case (b, h) => blooms.get(b).exists(_.mightContain(h)) }
    val confirmed = deduped.join(seen.select("url_hash"), Seq("url_hash"), "left_semi").count()
    rec.metric("seen.probe.fp_frac", Stats.ratio(positives - confirmed, positives), "ratio")
    rec.metric("seen.probe.positives", positives, "count")
    cleanup()
    if (bc != null) bc.unpersist()
    cached.foreach(_.unpersist())
    deleteTree(s"${o.scratch}/replay")
  }
}
