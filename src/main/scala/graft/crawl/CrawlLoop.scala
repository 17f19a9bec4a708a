package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Promise, TimeoutException}
import scala.concurrent.duration._
import graft.fs.StoreFiles
import graft.seen.SeenSet

/** Crawl configuration. `totalUrls` arrive in `epochs` equal slices —
  * the epoch loop is the Spark restatement of the reference's bulk
  * date-range crawl (service/BulkCrawlerService.java:320-433; SURVEY.md
  * §3.3). */
case class CrawlConfig(
    workDir: String,
    totalUrls: Long,
    epochs: Int,
    numHosts: Int,
    buckets: Int,
    budgetPerHost: Int,
    seed: Long = 42L,
    forceUpdate: Boolean = false,
    /** ST5 watchdog: an epoch running longer than this is cancelled and
      * marked FAILED (reference: 6 h stuck-operation timeout,
      * service/BulkCrawlerService.java:302-318). Default: disabled. */
    stuckTimeoutMs: Long = Long.MaxValue,
    /** Auto-consolidate the seen store every N epochs (crash-safe
      * membership-identical merge of the per-epoch dirs — keeps readSeen
      * O(1) dirs on long crawls). 0 disables. */
    consolidateEvery: Int = 64,
    /** Cadence of the latest-view ([[LatestView]]) delta→resolved
      * compaction (bounds the read-time tail at K epochs of pointers).
      * 0 = never (readers resolve from deltas alone). */
    latestCompactEvery: Int = 8) {
  def urlsPerEpoch: Long = totalUrls / epochs
  /** False-positive rate of the seen-set bloom segments (recorded in each
    * segment dir's `_graft_meta.json`). */
  def bloomFpp: Double = 0.01
}

/** Thrown when the ST5 watchdog reaps a stuck epoch. */
final class StuckEpochException(val epoch: Int, timeoutMs: Long)
  extends RuntimeException(s"epoch $epoch exceeded ${timeoutMs}ms; cancelled and marked FAILED")

/** The epoch fixpoint loop: synth-slice → key → intra-epoch dedup →
  * seen filter (broadcast bloom probe + exact confirm) → fused host stage
  * (robots admission + politeness rank + budget in one pass) → simulated
  * fetch/validate → partitioned sink + seen delta + carry (deferred+failed)
  * + metrics + lineage, committed per epoch with an atomic marker for
  * resume (ST4).
  *
  * Shuffle budget per epoch (the thing that must survive 1000 executors ×
  * 10^10 rows): (1) url_hash window for intra-epoch dedup, whose hash
  * partitioning the exact-confirm anti-join reuses — and the anti-join
  * only sees the bloom-positive sliver because the bloom probe is a
  * broadcast predicate, not a shuffle; (2) one repartition(host)+sort for
  * the fused robots+politeness stage, fed by a map-side per-host top-k
  * prefilter so a Zipf mega-host ships ≤ budget×partitions rows into the
  * shuffle (and the streamed run-length pass bounds task memory);
  * (3) the partitioned write. After the write only slim O(epoch) rows
  * shuffle: the per-bucket lineage aggregate and the bloom-delta cogroup
  * onto the segment set. Everything else is narrow. PlanSpec pins this
  * shape.
  *
  * Fixed per-epoch driver cost is engineered down four ways (round-5;
  * the measured baseline was ~12.5 s/epoch of pure driver time,
  * BASELINE.md round-4 addendum):
  *  - the epoch runs as a DAG, not a queue: the five sinks after the
  *    payload write (lineage, latest delta, seen delta, bloom segments,
  *    carry) read only cached frames and none reads another's output, so
  *    they run as concurrent jobs ([[Concurrent.all]]); the metrics row
  *    and the commit marker wait for all five. The post-commit seen
  *    consolidation and latest-view fold likewise stage concurrently and
  *    install under one swap. The store's own tables are read under
  *    declared schemas, so no read runs a schema-inference job;
  *  - epoch-varying values enter plans as [[graft.expressions.ParamLit]]
  *    bound parameters, so every epoch re-uses the compiled whole-stage
  *    code (epoch literals previously busted the codegen cache);
  *  - every count the metrics need rides as an OBSERVED aggregate
  *    (`Dataset.observe`) on a job the epoch already runs — no dedicated
  *    state-count or metrics-scan jobs, and no extra full pass over the
  *    cached frontier; `n_hosts` is the count of `slot = 1` rows (each
  *    admitted host's first politeness slot), observed with the status
  *    counts on the latest-delta write;
  *  - the carry table (deferred + failed rows) is ONE filter over the
  *    cached schedule, written once, and the bloom segment store is
  *    maintained by a distributed cogroup merge
  *    ([[graft.seen.SeenSet.mergeDeltaIntoSegments]]) instead of a
  *    driver round-trip. The broadcast-tier probe collects the whole
  *    segment set, so the epoch picks that tier only when the set's
  *    upper bound (and the sliver's) fits under Spark's own caps on a
  *    driver round-trip ([[graft.seen.SeenSet.broadcastTierFits]]); at
  *    10^10 seen keys (~12 GB of segments) it runs the cogrouped tier.
  */
object CrawlLoop {

  /** Run all (remaining) epochs; `stopAfter` caps how many epochs run
    * this invocation (kill/resume testing). Resume = next epoch after the
    * last commit marker. */
  def run(spark: SparkSession, cfg: CrawlConfig,
      stopAfter: Int = Int.MaxValue,
      store: PayloadStore = PayloadSink): Seq[EpochMetrics] = {
    // finish any half-done store rewrite (seen consolidation, latest
    // view) before reading the store
    StoreFiles.recover(spark, StoreFiles.swapMarker(cfg.workDir))
    val resumeFrom = lastCommittedEpoch(spark, cfg.workDir) + 1
    val until = math.min(cfg.epochs.toLong, resumeFrom.toLong + stopAfter.toLong).toInt
    // the robots rules are epoch-invariant: broadcast ONCE per run and
    // share the handle across epochs (previously one broadcast per epoch)
    val rules = Robots.syntheticRules(cfg.numHosts, cfg.seed)
    val bcRules = spark.sparkContext.broadcast(rules)
    var prior: Option[EpochMetrics] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
    var e = resumeFrom
    var halted = false
    try while (e < until && !halted) {
      // cooperative pause/cancel, polled between epochs — the reference
      // polls its flags between dates (BulkCrawlerService.java:435-464);
      // both leave every committed epoch in place, so a later run resumes
      // from the checkpoint and reproduces the uninterrupted crawl.
      CrawlControl.poll(spark, cfg.workDir) match {
        case CrawlControl.Cancelled =>
          CrawlControl.writeCancelledMarker(spark, cfg.workDir, e)
          halted = true
        case CrawlControl.Paused =>
          halted = true // no marker: pause is silent, resume just continues
        case CrawlControl.Running =>
          // carried-row estimate for the frontier-cache tier: the cached
          // frame is newKeyed ∪ deferred ∪ retry, which under tight host
          // budgets exceeds urlsPerEpoch by the carried share
          val priorCarried = prior.map(p => p.n_deferred + p.n_failed)
            .getOrElse(0L)
          val m = runEpochWatched(spark, cfg, e, store, priorCarried, bcRules)
          prior = Some(m)
          out += m
          maintain(spark, cfg, e)
          e += 1
      }
    } finally {
      // unpersist, not destroy: cached lineage may still lazily
      // re-broadcast (same rationale as the bloom broadcast)
      bcRules.unpersist()
    }
    out.toSeq
  }

  /** Post-commit store maintenance after `epoch`, each rewrite on its own
    * cadence: seen-store consolidation (without it a 10^4-epoch crawl
    * keeps one seen dir per epoch and readSeen's listing and tiny-file
    * reads grow with crawl age) and the latest-view fold (idempotent by
    * key, so replay-safe). The two read and stage disjoint dirs, so they
    * stage concurrently; both install under ONE swap marker, which the
    * recovery call in [[run]] finishes after a kill. */
  private def maintain(spark: SparkSession, cfg: CrawlConfig, epoch: Int): Unit = {
    def due(every: Int) = every > 0 && (epoch + 1) % every == 0
    val stages = Seq[(Boolean, () => Option[StoreFiles.Swap])](
      due(cfg.consolidateEvery) ->
        (() => graft.seen.SeenDeletes.stageConsolidation(spark, cfg.workDir, epoch + 1)),
      due(cfg.latestCompactEvery) -> (() => LatestView.stageFold(spark, cfg.workDir)))
      .collect { case (true, stage) => s"epoch=$epoch maintenance" -> stage }
    Concurrent.all(spark)(stages: _*).flatten
      .reduceOption((a, b) => StoreFiles.Swap(a.moves ++ b.moves, a.drops ++ b.drops))
      .foreach(StoreFiles.swap(spark, StoreFiles.swapMarker(cfg.workDir), _))
  }

  /** ST5 stuck-operation watchdog (driver-side): run the epoch under a
    * cancellable job group; past `stuckTimeoutMs`, cancel its Spark jobs,
    * write a FAILED marker (no commit marker — resume replays the epoch
    * idempotently) and raise. */
  def runEpochWatched(spark: SparkSession, cfg: CrawlConfig, epoch: Int,
      store: PayloadStore, priorCarried: Long,
      rules: Broadcast[Map[String, RobotsRule]]): EpochMetrics = {
    if (cfg.stuckTimeoutMs == Long.MaxValue)
      return runEpoch(spark, cfg, epoch, store, priorCarried, rules)
    val group = s"graft-epoch-$epoch"
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      spark.sparkContext.setJobGroup(group, s"epoch $epoch", interruptOnCancel = true)
      try runEpoch(spark, cfg, epoch, store, priorCarried, rules)
      finally spark.sparkContext.clearJobGroup()
    }
    try Await.result(fut, cfg.stuckTimeoutMs.millis)
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        StoreFiles.writeJson(spark, s"${cfg.workDir}/_commits/epoch_$epoch.FAILED.json",
          Seq("epoch" -> epoch, "status" -> "FAILED", "reason" -> "stuck_timeout"))
        throw new StuckEpochException(epoch, cfg.stuckTimeoutMs)
    }
  }

  /** Highest epoch with a commit marker, or -1. */
  def lastCommittedEpoch(spark: SparkSession, workDir: String): Int = {
    val fs = StoreFiles.fs(spark, workDir)
    val dir = new Path(s"$workDir/_commits")
    if (!fs.exists(dir)) return -1
    val re = "epoch_(\\d+)\\.json".r
    fs.listStatus(dir).flatMap { st =>
      st.getPath.getName match { case re(n) => Some(n.toInt); case _ => None }
    }.foldLeft(-1)(math.max)
  }

  /** One epoch. `rules` is the run's robots-rules broadcast, shared by
    * every epoch and released by [[run]]. Every job the epoch runs on this
    * thread carries an `epoch=N <phase>` description, `pre` until the
    * payload write; the description is cleared on return. */
  def runEpoch(spark: SparkSession, cfg: CrawlConfig, epoch: Int,
      store: PayloadStore, priorCarried: Long,
      rules: Broadcast[Map[String, RobotsRule]]): EpochMetrics = {
    spark.sparkContext.setJobDescription(s"epoch=$epoch pre")
    val observed = new Observed(epoch)
    spark.listenerManager.register(observed)
    try epochJobs(spark, cfg, epoch, store, priorCarried, rules, observed)
    finally {
      spark.listenerManager.unregister(observed)
      spark.sparkContext.setJobDescription(null)
    }
  }

  private def epochJobs(spark: SparkSession, cfg: CrawlConfig, epoch: Int,
      store: PayloadStore, priorCarried: Long,
      rules: Broadcast[Map[String, RobotsRule]], observed: Observed): EpochMetrics = {
    import spark.implicits._
    val tEpoch0 = System.nanoTime()

    // 1. this epoch's frontier slice + carried-over work
    val slice = FrontierSynth.frontier(spark, cfg.urlsPerEpoch, cfg.numHosts,
      cfg.seed, epoch, epochOffset = epoch * cfg.urlsPerEpoch)
    val newKeyed = FrontierSynth.key(slice, cfg.buckets)
    // NB: unionByName — joins upstream reorder columns (join key first),
    // and Dataset.union is positional
    val carried = readCarried(spark, s"${cfg.workDir}/carry/epoch=${epoch - 1}")
    // candidates: NOT persisted — its only consumer is the dedup window,
    // and a full-frontier cache write per epoch is pure memory-bandwidth
    // cost (measured: cache materialization, not compute, dominated the
    // epoch's critical path)
    val candidates = newKeyed.unionByName(carried)

    // 2. intra-epoch first-occurrence dedup (url_hash window), in FLAG
    // form: every candidate row stays in the frame (DUP/LIVE), so both
    // the candidate total and the duplicate count fold into the single
    // state aggregation below instead of their own .count() jobs.
    // (A min_by hash-agg variant was measured SLOWER — full-row struct
    // aggregation drops out of codegen into ObjectHashAggregate; the
    // window's sort is cheaper than the struct churn.)
    // Duplicates share the canonical URL, so dedup-before-robots is
    // interchangeable with robots-before-dedup for membership/traces;
    // doing it first lets the anti-join reuse the url_hash partitioning.
    // PERSISTED — for speed AND as the partitioning pin: schedule()'s
    // phase-0 prefilter classifies rows per PARTITION and is evaluated by
    // two separate consumer subtrees, so its input partitioning must be
    // IDENTICAL across executions (measured drift otherwise: seen-set +34
    // trace diffs). Rows reaching the prefilter either flow narrowly from
    // this cache (partitioning pinned here) or through the confirm join,
    // whose output is content-deterministically repartitioned inside
    // unseenTwoTierBroadcast. (A no-cache variant re-ran the dedup window
    // per consumer: 86-111 s vs 64 s at 32 cores — rejected.)
    // ADAPTIVE storage level: deserialized rows are the fast path (SER
    // re-pays serde on every consumer — measured ~20% wall at 16M URLs),
    // but a frontier slice that rivals the heap must step DOWN — first to
    // compact serialized blocks, then out of the heap entirely: on-heap
    // blocks (even serialized) plus the window sorts tripped ParallelGC's
    // GC-overhead limit at 64M URLs / 8 GiB, measured. Footprint is
    // estimated from the config (~224 B/row deserialized incl. URL string
    // + object headers, ~96 B/row serialized); thresholds leave the
    // unified pool to execution. Degrade, never die: DISK_ONLY completes
    // at any input size (local-disk blocks, zero storage-pool pressure).
    // footprint = new slice + CARRIED rows (deferred+retry from the prior
    // epoch's counts — under tight/zero host budgets the carry dominates
    // urlsPerEpoch, and sizing on the slice alone kept MEMORY_AND_DISK in
    // exactly the GC-overhead regime this tier switch exists to prevent)
    val estRows = cfg.urlsPerEpoch + priorCarried
    val frontierCacheLevel = {
      // memory = where the blocks LIVE —
      // this JVM's heap when the driver IS the executor (master "local"
      // or "local[N]"; NOT local-cluster, which forks real executor
      // JVMs), else the AGGREGATE executor budget: per-executor heap ×
      // executor count (instances conf when set, else derived from
      // defaultParallelism / executor cores) — the cached rows spread
      // across the fleet, so comparing global rows to ONE executor's
      // heap was over-conservative tiering.
      val conf = spark.sparkContext.getConf
      val master = conf.get("spark.master", "local")
      val heap =
        if (master == "local" || master.startsWith("local["))
          Runtime.getRuntime.maxMemory()
        else {
          val perExec = conf.getSizeAsBytes("spark.executor.memory", "1g")
          // executor count: explicit conf > the local-cluster master
          // string (which conveys N and cores OUTSIDE the conf — the
          // spark.executor.cores default of 1 would overcount executors
          // by cores-per-executor there) > defaultParallelism / cores
          val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,[^\]]*\]""".r
          val execs =
            if (conf.contains("spark.executor.instances"))
              math.max(1, conf.get("spark.executor.instances").toInt)
            else master match {
              case LocalCluster(n, _) => math.max(1, n.toInt)
              case _ =>
                val cores = math.max(1,
                  conf.get("spark.executor.cores", "1").toInt)
                math.max(1, spark.sparkContext.defaultParallelism / cores)
            }
          perExec * execs
        }
      if (estRows * 224L <= (heap * 0.35).toLong)
        StorageLevel.MEMORY_AND_DISK
      else if (estRows * 96L <= (heap * 0.25).toLong)
        StorageLevel.MEMORY_AND_DISK_SER
      else StorageLevel.DISK_ONLY
    }
    // dup/total counts ride as OBSERVED aggregates on the cache
    // materialization (no dedicated count job, no extra pass over the
    // cached frontier — the old union+groupBy state-count job re-scanned
    // BOTH frontier caches every epoch on a memory-bandwidth-bound box)
    val dedupTagged = observed.on(Politeness.dedupFlagged(candidates), "dedup",
        count(when(col("is_dup__"), 1)).as("dup"),
        count(lit(1)).as("total"))
      .persist(frontierCacheLevel)
    val deduped = dedupTagged.filter(!col("is_dup__")).drop("is_dup__")
      .as[KeyedUrl]

    // 3. URL-seen anti-join (success-only store; forceUpdate bypasses).
    // Two-tier: bloom probe + exact confirm of the positives. No count job
    // here: the seen-skip count is the residual of the state aggregation
    // (every candidate is exactly one of dup/seen-skipped/denied/admitted/
    // deferred).
    val seen = readSeen(spark, cfg.workDir, epoch)
    // fixed plan-size bloom shape: every epoch's segments share it, so the
    // persisted segment store can be OR-merged incrementally across epochs
    // (epoch-scaled sizing would change the shape every epoch and force a
    // full-store rebuild each time)
    val expectedPerBucket = math.max(64L, cfg.totalUrls / cfg.buckets)
    // probe segments: load last epoch's persisted set as a DATASET (a
    // lazy O(1) tiny read — nothing segment-sized touches the driver
    // here) and only fall back to a full seen-store rebuild when it is
    // absent (first bloom epoch after resume-from-older-layout, a
    // preceding forceUpdate epoch, or a crash replay that already dropped
    // it). The ONLY place segments are collected is the broadcast-tier
    // probe; the cogrouped tier and the segment WRITE below are
    // distributed end-to-end.
    // lazy val + persist on the FALLBACK branch: the segment dataset has
    // two consumers (the probe and the bloom write below), and a `def`
    // would re-run the full-store rebuild once per consumer — the exact
    // grows-with-crawl-age cost the persisted path exists to avoid. The
    // common branch stays an unpersisted lazy O(1) parquet read.
    var segsFallback: Option[Dataset[(Int, Array[Byte])]] = None
    lazy val segmentsDs: Dataset[(Int, Array[Byte])] =
      loadSegmentsDs(spark, cfg, epoch - 1, expectedPerBucket)
        .getOrElse {
          val rebuilt = SeenSet.bloomSegments(seen, cfg.buckets,
            expectedPerBucket, cfg.bloomFpp)
            .persist(StorageLevel.MEMORY_AND_DISK)
          segsFallback = Some(rebuilt)
          rebuilt
        }
    // tier from sizes known before any job runs: the segment set at its
    // fixed shape, and a sliver of every candidate (16 B each)
    val sql = spark.sessionState.conf
    val broadcastTier = SeenSet.broadcastTierFits(
      SeenSet.segmentSetBytes(cfg.buckets, expectedPerBucket, cfg.bloomFpp),
      16L * estRows, sql.autoBroadcastJoinThreshold,
      spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g"),
      sql.maxBroadcastTableSizeInBytes)
    val (unseen, seenCleanup): (Dataset[KeyedUrl], () => Unit) =
      if (cfg.forceUpdate || seen == null) (deduped, () => ())
      else if (broadcastTier) SeenSet.unseenTwoTierBroadcast(deduped, seen, segmentsDs)
      else SeenSet.unseenTwoTier(deduped, seen, segmentsDs)

    // 4. fused host stage: robots admission + politeness rank + budget —
    // map-side deny/top-k prefilter, then one repartition(host)+sort pass.
    // Scheduling-state counts are OBSERVED on the carry write, which scans
    // the whole cached schedule: every live row is exactly one of
    // denied/admitted/deferred, and the seen-skip count is the residual —
    // zero dedicated count jobs.
    val (scheduledDs, _) = Politeness.scheduleTracked(unseen, rules.value,
      cfg.budgetPerHost, sharedRules = Some(rules))
    val scheduled = scheduledDs.persist(StorageLevel.MEMORY_AND_DISK)

    // r06: columnar filter+projection instead of typed filter+map — the
    // typed path deserialized the FULL KeyedUrl (incl. per-row
    // java.sql.Timestamp construction, a top frame in 32-core stack
    // samples) for every scheduled row, then re-serialized; the select
    // copies internal rows with zero object churn. Same rows, same fields
    // (as[...] resolves by name).
    val admitted = scheduled.filter(col("_2") === Politeness.Sched.Admitted)
      .select(col("_1.*"), col("_3").as("slot"))
      .as[AdmittedUrl]

    // 5. simulated fetch + decode + invariant validation — NOT cached:
    // results carry the full payload bytes, and pushing them through the
    // block-manager cache is pure memory-bandwidth cost on the bandwidth-
    // bound box. The payload is written ONCE; every metadata aggregation
    // below reads slim columns back from the written columnar table
    // (column-pruned parquet read ≪ caching binaries).
    val results = Fetch.fetch(admitted, epoch)

    // Every cache the epoch made is released in ONE finally, also when the
    // payload write or a sink throws or the watchdog cancels it: a replay
    // in this session must not find the failed attempt's blocks.
    try {
      // 7. sinks (idempotent per epoch), all behind the PayloadStore
      // trait. This write is the job that materializes BOTH frontier
      // caches, before any concurrent reader of them starts.
      spark.sparkContext.setJobDescription(s"epoch=$epoch payload-write")
      store.writePayload(results, cfg.workDir, epoch)
      // scheduled is materialized: release everything upstream of it
      seenCleanup()
      dedupTagged.unpersist()
      // read back ONLY this epoch's partition directories (listing the
      // whole payload tree would grow linearly with crawl age; at 10^4+
      // epochs the file listing, not the data, becomes the cost), under
      // the declared schema: inferring it would run a footer-reading job
      // per epoch. An epoch that admitted nothing wrote no leaf and reads
      // nothing.
      val leaves = PayloadSink.epochLeaves(spark, cfg.workDir, cfg.buckets, epoch)
        .map(l => s"${cfg.workDir}/payload/$l")
      val writtenFull =
        if (leaves.isEmpty)
          spark.createDataFrame(java.util.Collections.emptyList[Row](), PayloadSink.schema)
        else spark.read.schema(PayloadSink.schema)
          .option("basePath", s"${cfg.workDir}/payload").parquet(leaves: _*)
      // ONE slim read shared by every post-write consumer (lineage, latest
      // delta, seen delta, retry keys, result metrics). Re-reading the
      // epoch's parquet per consumer was 5x the per-file reader setup —
      // and parquet reader construction clones the shared hadoop
      // Configuration under ITS lock (new JobConf per file), the top
      // BLOCKED monitor in 32-core stack samples once the chmod forks were
      // gone. The slim projection (6 narrow columns, no payload bytes) is
      // cheap to cache; the binaries still never enter the block manager.
      val written = writtenFull
        .select(col("url_hash"), col("status"), col("n_bytes"), col("slot"),
          col("host_bucket"), col("crawl_epoch"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // The five sinks below read only cached frames (`written` and
      // `scheduled`) and none reads another's output, so they run as
      // concurrent jobs; the metrics and the commit marker follow only
      // once every sink has joined, so a replay still rewrites each sink
      // idempotently.
      def writeLineage(): Unit =
        store.writeLineage(PayloadSink.lineage(written, epoch), cfg.workDir, epoch)

      // J3 upsert-reader maintenance: append this epoch's pointer delta
      // (O(epoch) — one slim columnar write); the fold into the resolved
      // latest/ dir happens on the latestCompactEvery cadence in [[run]],
      // so "current rows" consumers never pay a full-store window per
      // read. Status counts, byte sum and host count are observed on this
      // write's own plan, directly above the cache scan: the sinks race
      // to fill the `written` cache, and an observation inside the cached
      // plan would be reported by whichever reader finished first,
      // possibly before every partition was counted. n_hosts = the
      // `slot = 1` rows: phase 1 of the politeness stage numbers each
      // admitted host's rows 1..budget in one run, and every admitted row
      // is written.
      def writeLatestDelta(): Unit = LatestView.appendDelta(spark, cfg.workDir, epoch,
        observed.on(written, "written",
          count(when(col("status") === Status.Processed, 1)).as("p"),
          count(when(col("status") === Status.Failed, 1)).as("f"),
          count(when(col("status") === Status.Rejected, 1)).as("r"),
          coalesce(sum(col("n_bytes")), lit(0L)).as("b"),
          count(when(col("slot") === 1, 1)).as("hosts")))

      // seen delta = terminal-success rows only (reference guard:
      // status==DOWNLOADED ⇒ skip; CrawlerOrchestrationService.java:114-115)
      def writeSeen(): Unit = store.writeSeenDelta(
        written.filter(col("status") === Status.Processed)
          .select(col("url_hash"), col("host_bucket").cast("int").as("host_bucket")),
        cfg.workDir, epoch)

      // incremental bloom maintenance: segments(epoch) = segments(epoch-1)
      // (≡ blooms of seen < epoch) ∪ bloom(this epoch's delta) — an
      // O(delta) scan, never a store rescan, and fully DISTRIBUTED: the
      // delta keys cogroup into the persisted segment dataset on their
      // bucket (SeenSet.mergeDeltaIntoSegments), so nothing segment- or
      // key-sized ever rides through the driver. Deleted (tombstoned) keys
      // stay set in the persisted blooms: that is only a false positive,
      // and positives are exactly confirmed against the tombstone-merged
      // store. Written BEFORE the commit marker so a replayed epoch
      // rewrites it idempotently; the previous epoch's segment dir is then
      // dropped so the store stays O(1) dirs regardless of crawl age.
      def writeBlooms(): Unit = {
        val deltaKeys = written.filter(col("status") === Status.Processed)
          .select(col("host_bucket").cast("int").as("host_bucket"),
            col("url_hash"))
        val prevSegs: Dataset[(Int, Array[Byte])] =
          if (seen == null) spark.emptyDataset[(Int, Array[Byte])]
          else segmentsDs
        // written at the cogroup's OWN parallelism: an earlier coalesce(1)
        // folded back into the cogroup and ran the whole merge — every
        // bucket's key-fill — as ONE task (~12 GB of serial segment work
        // at 10^10 keys). The file count per segment dir is bounded by the
        // shuffle parallelism and the dir itself is O(1) per crawl (the
        // previous epoch's dir is dropped below), so there is no
        // small-files growth to collapse.
        SeenSet.mergeDeltaIntoSegments(deltaKeys, prevSegs,
            expectedPerBucket, cfg.bloomFpp)
          .toDF("host_bucket", "bloom")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(bloomDir(cfg.workDir, epoch))
        // sidecar meta: the segment set is only reusable under the SAME
        // bucketing (host_bucket = hash % buckets) — a changed cfg.buckets
        // between runs can leave the per-segment bloom shape unchanged
        // (the max(64,...) floor, or proportionally scaled totalUrls)
        // while every key now maps to a different bucket, which would read
        // as bloom false NEGATIVES. loadSegments validates this file and
        // rebuilds on any mismatch.
        StoreFiles.writeJson(spark, s"${bloomDir(cfg.workDir, epoch)}/_graft_meta.json",
          Seq("buckets" -> cfg.buckets, "expectedPerBucket" -> expectedPerBucket,
            "fpp" -> java.math.BigDecimal.valueOf(cfg.bloomFpp)))
        StoreFiles.fs(spark, cfg.workDir).delete(new Path(bloomDir(cfg.workDir, epoch - 1)), true)
      }

      // carry = the next epoch's work: every DEFERRED row, plus each
      // ADMITTED row whose fetch FAILED (transient/corrupt, eligible next
      // epoch) — ONE filter over the cached schedule. Failures come from
      // the ACTUAL validated statuses in the written table (broadcast left
      // join on the small FAILED sliver, no shuffle), never recomputed
      // from expected outcomes: if validation ever disagreed with the
      // expectation table, the engine would otherwise put one URL in BOTH
      // the seen store and the carry and drift from itself.
      def writeCarry(): Unit = {
        val failedKeys = written.filter(col("status") === Status.Failed)
          .select(col("url_hash").as("failed__"))
        val states = observed.on(scheduled, "sched",
          count(when(col("_2") === Politeness.Sched.Denied, 1)).as("denied"),
          count(when(col("_2") === Politeness.Sched.Admitted, 1)).as("admitted"),
          count(when(col("_2") === Politeness.Sched.Deferred, 1)).as("deferred"))
        store.writeCarry(
          states.join(broadcast(failedKeys), col("_1.url_hash") === col("failed__"), "left")
            .filter(col("_2") === Politeness.Sched.Deferred ||
              (col("_2") === Politeness.Sched.Admitted && col("failed__").isNotNull))
            .select(col("_1.*")),
          s"${cfg.workDir}/carry/epoch=$epoch")
      }

      val sinks = Seq[(String, () => Unit)](
        "lineage-write" -> writeLineage _,
        "latest-delta" -> writeLatestDelta _,
        "seen-write" -> writeSeen _,
        "carry-write" -> writeCarry _) ++
        (if (cfg.forceUpdate) None else Some("seen-bloom-write" -> writeBlooms _))
      try Concurrent.all(spark)(sinks.map { case (phase, sink) => s"epoch=$epoch $phase" -> sink }: _*)
      finally written.unpersist()
    } finally {
      seenCleanup()
      dedupTagged.unpersist()
      scheduled.unpersist()
      segsFallback.foreach(_.unpersist(blocking = false))
    }

    // all outcome metrics were observed on jobs this epoch already ran:
    // dup/total on the dedup cache (filled by the payload write),
    // scheduling states on the carry write, status counts, bytes and
    // hosts on the latest-delta write. Zero dedicated metric jobs.
    val dRow = observed("dedup")
    val sRow = observed("sched")
    val wRow = observed("written")
    val nDup = dRow.getAs[Long]("dup")
    val nCandidates = dRow.getAs[Long]("total")
    val nLive = nCandidates - nDup
    val nDenied = sRow.getAs[Long]("denied")
    val nAdmitted = sRow.getAs[Long]("admitted")
    val nDeferred = sRow.getAs[Long]("deferred")
    val nSeenSkipped = nLive - nDenied - nAdmitted - nDeferred
    val durationMs = (System.nanoTime() - tEpoch0) / 1000000L
    // A8/A9/A11 derived metrics (BulkCrawlProgress.java:254-329 analogue):
    // rate over this epoch, % of the configured frontier consumed, ETA for
    // the remaining epochs at this epoch's rate. Wall-clock measurements —
    // excluded from the deterministic equivalence surface.
    val rate = if (durationMs > 0) nCandidates * 1000.0 / durationMs else 0.0
    val freshConsumed = math.min(cfg.totalUrls, (epoch + 1).toLong * cfg.urlsPerEpoch)
    val progressPct =
      if (cfg.totalUrls > 0) freshConsumed * 100.0 / cfg.totalUrls else 100.0
    val etaMs = if (rate > 0) ((cfg.totalUrls - freshConsumed) / rate * 1000.0).toLong else 0L
    val m = EpochMetrics(epoch, nCandidates, nDenied,
      n_dup_in_epoch = nDup,
      n_seen_skipped = nSeenSkipped,
      n_admitted = nAdmitted,
      n_deferred = nDeferred,
      n_processed = wRow.getAs[Long]("p"),
      n_failed = wRow.getAs[Long]("f"),
      n_rejected = wRow.getAs[Long]("r"),
      bytes_written = wRow.getAs[Long]("b"),
      n_hosts = wRow.getAs[Long]("hosts"),
      duration_ms = durationMs,
      urls_per_sec = rate,
      progress_pct = progressPct,
      eta_ms = etaMs)
    spark.sparkContext.setJobDescription(s"epoch=$epoch metrics-write")
    store.writeMetrics(m, cfg.workDir, spark)

    // 8. atomic commit marker — everything above is replayable; the marker
    // flips the epoch to "done" (Iceberg-snapshot stand-in)
    commit(spark, cfg.workDir, m)
    m
  }

  /** The epoch's observed counts (`Dataset.observe`), each taken from the
    * first query that REPORTS it. Spark's `Observation` is not used: it
    * completes with an empty row on the first query whose plan holds the
    * observed node, also when the adaptive planner cut that node away as
    * an empty branch — an epoch that admits nothing cuts its payload
    * write above the frontier caches, and the dedup counts reach the
    * driver only with the carry write's scan of the cached schedule.
    * Names carry a per-attempt number, so a cancelled attempt's queries
    * never answer its replay. */
  private final class Observed(epoch: Int) extends QueryExecutionListener {
    private val attempt = observedAttempts.incrementAndGet()
    private val rows = new java.util.concurrent.ConcurrentHashMap[String, Promise[Row]]()
    private def name(what: String) = s"graft_${what}_${epoch}_$attempt"

    /** `ds` with `metrics` observed under `what`. */
    def on[T](ds: Dataset[T], what: String, metrics: Column*): Dataset[T] = {
      rows.putIfAbsent(name(what), Promise[Row]())
      ds.observe(name(what), metrics.head, metrics.tail: _*)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (n, row) => Option(rows.get(n)).foreach(_.trySuccess(row)) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** The counts observed under `what`. They arrive with the listener
      * callback of a query this epoch already ran, so this await is a
      * handshake, not a wait for work; the timeout exists to fail loudly
      * if an epoch rewrite ever drops the reporting query. */
    def apply(what: String): Row =
      try Await.result(rows.get(name(what)).future, 600.seconds)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"epoch=$epoch observed '$what' metrics never materialized — " +
            "the observing action was not executed")
      }
  }

  private val observedAttempts = new java.util.concurrent.atomic.AtomicLong()

  private def commit(spark: SparkSession, workDir: String, m: EpochMetrics): Unit =
    StoreFiles.publishJson(spark, s"$workDir/_commits/epoch_${m.epoch}.json",
      Seq("epoch" -> m.epoch, "candidates" -> m.n_candidates,
        "admitted" -> m.n_admitted, "processed" -> m.n_processed))

  /** The [[KeyedUrl]] columns in field order: a carry row's columns. */
  private val KeyedCols: Seq[String] = Encoders.product[KeyedUrl].schema.fieldNames.toSeq

  /** Schema of a bloom segment dir (`seen_blooms/epoch=N`). */
  private[graft] val SegmentSchema = StructType.fromDDL("host_bucket INT, bloom BINARY")

  private[graft] def bloomDir(workDir: String, epoch: Int): String =
    s"$workDir/seen_blooms/epoch=$epoch"

  /** [[loadSegmentsDs]] collected — test/diagnostic helper ONLY (the epoch
    * loop never collects segments outside the broadcast-tier probe). */
  private[graft] def loadSegments(spark: SparkSession, cfg: CrawlConfig,
      epoch: Int, expectedPerBucket: Long): Option[Seq[(Int, Array[Byte])]] =
    loadSegmentsDs(spark, cfg, epoch, expectedPerBucket)
      .map(_.collect().toSeq.sortBy(_._1))

  /** Load the persisted bloom segments written after `epoch` as a lazy
    * Dataset (no job, no collect). Returns None — and the caller rebuilds
    * from the store — unless the dir is a fully COMMITTED write
    * (`_SUCCESS` present; a watchdog-cancelled or crashed epoch can leave
    * a partial dir, and a silently-missing bucket would read as "no seen
    * keys here" = a bloom false NEGATIVE, breaking byte-exact membership)
    * with the shape the current config implies (a changed totalUrls/fpp
    * between runs makes old segments un-mergeable). Any read failure
    * likewise falls back rather than wedging resume.
    * Validation is metadata-only: the sidecar records the (buckets,
    * expectedPerBucket, fpp) the segments were built under, and only this
    * engine writes the dir — matching meta ⇒ matching per-segment shape.
    * The meta guards the BUCKETING, not just the shape: a changed
    * cfg.buckets remaps every key's host_bucket while the bloom shape can
    * stay identical, and probing under the wrong mapping reads as false
    * negatives = silent duplicate crawls. No/unreadable/mismatched meta,
    * or a partial (no `_SUCCESS`) dir ⇒ None, caller rebuilds. */
  private[graft] def loadSegmentsDs(spark: SparkSession, cfg: CrawlConfig,
      epoch: Int, expectedPerBucket: Long): Option[Dataset[(Int, Array[Byte])]] = {
    import spark.implicits._
    val dir = bloomDir(cfg.workDir, epoch)
    if (!StoreFiles.fs(spark, dir).exists(new Path(s"$dir/_SUCCESS"))) return None
    scala.util.Try {
      val ok = StoreFiles.readJson(spark, s"$dir/_graft_meta.json").exists { m =>
        m.get("buckets").asLong == cfg.buckets &&
        m.get("expectedPerBucket").asLong == expectedPerBucket &&
        m.get("fpp").asDouble == cfg.bloomFpp
      }
      if (!ok) None
      else Some(spark.read.schema(SegmentSchema).parquet(dir).as[(Int, Array[Byte])])
    }.getOrElse(None)
  }

  /** Union of all committed seen deltas before `epoch`, with delete
    * tombstones merged on read (S10: a deleted URL is re-crawlable next
    * epoch — seen.SeenDeletes); null if none. */
  def readSeen(spark: SparkSession, workDir: String, epoch: Int)
      : org.apache.spark.sql.DataFrame = {
    val dirs = StoreFiles.epochDirs(spark, s"$workDir/seen", epoch)
    if (dirs.isEmpty) null else graft.seen.SeenDeletes.read(spark, workDir, dirs)
  }

  /** Read the previous epoch's carry table (its deferred and failed
    * rows). The schema is passed EXPLICITLY: an epoch with zero deferred
    * and zero failed rows leaves a part-file-less dir, and schema
    * inference over that throws UNABLE_TO_INFER_SCHEMA where an empty
    * carry must simply read back empty. */
  private[graft] def readCarried(spark: SparkSession, dir: String): Dataset[KeyedUrl] = {
    import spark.implicits._
    if (StoreFiles.fs(spark, dir).exists(new Path(dir)))
      spark.read.schema(Encoders.product[KeyedUrl].schema).parquet(dir)
        .select(KeyedCols.map(col): _*)
        .as[KeyedUrl]
    else spark.emptyDataset[KeyedUrl]
  }
}
