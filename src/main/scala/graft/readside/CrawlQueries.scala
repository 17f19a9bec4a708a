package graft.readside

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl._

/** Crawl-engine operators exposed through the `SparkEntry.queries`
  * contract (rows-only checks — the semantics aren't DuckDB-expressible;
  * the real verification is CrawlSpec's engine⇄simulator equivalence).
  * `sfDir` is ignored: the crawl runs over the deterministic synthetic
  * frontier (BASELINE.json: "synthesise it deterministically at small
  * scale"). One small crawl is memoized per JVM and shared by all
  * entries. */
object CrawlQueries {

  // small: this crawl is memoized once per JVM purely to expose its
  // output tables to the c0x queries — the benched cost should be the
  // queries, not the fixture (CrawlSpec/CrawlBench own the crawl itself)
  private val cfgBase = CrawlConfig(workDir = "", totalUrls = 6000,
    epochs = 3, numHosts = 60, buckets = 16, budgetPerHost = 30, seed = 42L)

  @volatile private var cachedDir: String = _

  private def crawlDir(spark: SparkSession): String = synchronized {
    if (cachedDir == null) {
      val wd = Files.createTempDirectory("graft-crawl-queries").toString
      // the snapshot-logging store: identical data layer (PayloadSink
      // writes), plus one SnapshotLog commit per epoch — c20 reads the
      // resulting snapshot history; every other c0x query is unaffected
      CrawlLoop.run(spark, cfgBase.copy(workDir = wd),
        store = new graft.sources.SnapshotPayloadSink(cfgBase.buckets))
      cachedDir = wd
    }
    cachedDir
  }

  /** Build the memoized fixture outside a timed region. `graft.Bench`
    * calls this before its per-query timing loop so c03/c04/... record
    * the cost of the QUERY (reading/aggregating the crawl tables), not
    * the one-time scaffolding crawl — which is measured on its own terms
    * (fresh-JVM, scaled input) as `crawl_urls_per_sec` via CrawlBench. */
  def warmFixture(spark: SparkSession): Unit = { crawlDir(spark); () }

  /** Frontier synthesis + keying: host-bucket histogram (Zipf skew made
    * visible: bucket of host 0 dominates). */
  def c01FrontierSynth(s: SparkSession, dir: String): DataFrame = {
    val keyed = FrontierSynth.key(
      FrontierSynth.frontier(s, 10000, 60, 42L, 0), 16)
    keyed.toDF().groupBy(col("host_bucket"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("url_hash")).as("n_distinct_urls"))
      .orderBy(col("host_bucket"))
  }

  /** Robots admission outcome counts per court: one narrow map of
    * [[Robots.allows]] over the keyed frontier (the 60 parsed rules ride
    * in the task closure), then a two-phase count. */
  def c02RobotsAdmission(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = Robots.syntheticRules(60, 42L)
    c02Keyed(s)
      .map(k => (k.court, Robots.allows(rules.get(k.host), k.path)))
      .toDF("court", "admitted")
      .groupBy(col("court"), col("admitted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("court"), col("admitted"))
  }

  /** c02's input: the keyed synthetic frontier. */
  private[graft] def c02Keyed(s: SparkSession): Dataset[KeyedUrl] =
    FrontierSynth.key(FrontierSynth.frontier(s, 10000, 60, 42L, 0), 16)

  /** Every `epoch=N` dir of the fixture's `table` as explicit paths: no
    * partition column, and no glob path probed for a streaming sink log. */
  private def epochTable(s: SparkSession, table: String): DataFrame =
    s.read.parquet(graft.fs.StoreFiles.epochDirs(s, s"${crawlDir(s)}/$table"): _*)

  /** The crawl's epoch metrics table (candidates → denied/dup/seen/
    * admitted/deferred → statuses). */
  def c03EpochMetrics(s: SparkSession, dir: String): DataFrame =
    epochTable(s, "metrics").orderBy(col("epoch"))

  /** Per-partition lineage of the payload sink. */
  def c04Lineage(s: SparkSession, dir: String): DataFrame =
    epochTable(s, "lineage").orderBy(col("epoch"), col("host_bucket"))

  /** Payload invariants rollup: per (fmt, status) counts + PSNR floor. */
  def c05PayloadInvariants(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlDir(s)}/payload")
      .groupBy(col("fmt"), col("status"))
      .agg(count(lit(1)).as("n"), min(col("psnr")).as("min_psnr"),
        sum(col("n_bytes")).as("total_bytes")) // slim column, not length(bytes)
      .orderBy(col("fmt"), col("status"))

  /** Politeness audit: distribution of per-host admitted counts per epoch
    * (never exceeds the budget). */
  def c06PolitenessAudit(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlDir(s)}/payload")
      .groupBy(col("crawl_epoch"), col("host"))
      .agg(count(lit(1)).as("n_fetched"), max(col("slot")).as("max_slot"))
      .groupBy(col("crawl_epoch"), col("n_fetched"))
      .agg(count(lit(1)).as("n_hosts"), max(col("max_slot")).as("max_slot"))
      .orderBy(col("crawl_epoch"), col("n_fetched"))

  /** Search over the crawled payload (the §3.2 read-side on crawl output):
    * caption contains + court facet + top-k by phash order. */
  def c07PayloadSearch(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlDir(s)}/payload")
      .filter(col("status") === "PROCESSED" &&
        col("caption").contains("KARE"))
      .select(col("image_id"), col("host"), col("w"), col("h"), col("phash"))
      .orderBy(col("image_id"))
      .limit(50)

  /** J3 upsert reader: latest-row-wins view over the multi-epoch payload
    * (the MERGE-less stand-in — a forceUpdate re-crawl appends a new
    * `crawl_epoch` row). Reads the INCREMENTALLY MAINTAINED `latest/`
    * table ([[graft.crawl.LatestView]], kept current by the epoch loop):
    * a plain partition-prunable scan — no `Window.partitionBy(url_hash)`
    * over the whole store per read (round-2's slowest c-query; an
    * O(store)-shuffle non-starter at 10^10 rows). CrawlSpec asserts the
    * view equals the window reader row-for-row, including under
    * forceUpdate. Summarized per epoch so the result stays small. */
  def c08LatestDocs(s: SparkSession, dir: String): DataFrame =
    graft.crawl.LatestView.read(s, crawlDir(s))
      .groupBy(col("crawl_epoch"))
      .agg(count(lit(1)).as("n_latest"),
        countDistinct(col("url_hash")).as("n_urls"))
      .orderBy(col("crawl_epoch"))

  /** P19 reject-reason rollup: typed reject/failure classes per status
    * (the reference's typed XmlValidationException counters). */
  def c09RejectReasons(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlDir(s)}/payload")
      .groupBy(col("status"), col("reject_reason"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"), col("reject_reason"))

  /** Multimodal feature rollup over the crawled payload — reads the
    * feature columns the fetch pipeline computed FROM ITS OWN DECODE
    * (Fetch.fetch → Multimodal.lumaEdgeStats, stored at write time), so
    * this query is a slim column-pruned aggregation that never touches
    * `bytes`: one decode per row for the whole system (CrawlSpec pins
    * stored features ≡ a fresh extractFeatures pass, and that this plan's
    * scan schema excludes the binary column). The mapInPandas-shaped
    * batch stage itself stays on the surface as
    * [[graft.multimodal.Multimodal.extractFeatures]] for ad-hoc frames. */
  def c11ImageFeatures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${crawlDir(s)}/payload")
      .filter(col("status") === "PROCESSED")
      .select(col("fmt"), lit(true).as("ok"), col("mean_luma"), col("phash"))
      .groupBy(col("fmt"), col("ok"))
      .agg(count(lit(1)).as("n"),
        min(col("mean_luma")).as("min_luma"),
        max(col("mean_luma")).as("max_luma"),
        countDistinct(col("phash")).as("n_phash"))
      .orderBy(col("fmt"), col("ok"))

  /** Bloom-store introspection (the S9 storage-stats analogue for the
    * seen-set index): per-bucket segment shape, set-bit saturation, and
    * the standard bloom capacity estimate n̂ = -(m/k)·ln(1 − X/m) joined
    * against the exact per-bucket distinct count — the saturation number
    * an operator watches at scale to decide when segments need resizing
    * (fpp only degrades, membership stays exact via the confirm join). */
  def c12BloomStore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wd = crawlDir(s)
    val segs = s.read.parquet(s"$wd/seen_blooms/epoch=${cfgBase.epochs - 1}")
      .select(col("host_bucket").cast("int"), col("bloom"))
      .as[(Int, Array[Byte])]
    val exact = epochTable(s, "seen")
      .groupBy(col("host_bucket").cast("int").as("host_bucket"))
      .agg(countDistinct(col("url_hash")).as("n_exact"))
    segs.map { case (b, bytes) =>
      val f = graft.seen.LongBloom.deserialize(bytes)
      val x = f.words.map(w => java.lang.Long.bitCount(w).toLong).sum
      val m = f.numBits.toDouble
      val est = math.round(-(m / f.numHashes) * math.log1p(-(x / m)))
      (b, f.numBits, f.numHashes, x, est)
    }.toDF("host_bucket", "num_bits", "num_hashes", "bits_set", "n_estimated")
      .join(exact, Seq("host_bucket"), "left")
      .orderBy(col("host_bucket"))
  }

  /** Ad-hoc payload validation (the reference's XmlValidationController
    * analogue — validate arbitrary payloads on demand, per-row typed
    * results, not the c05/c09 rollups): the full security + transport +
    * decode + meta + PSNR check over every crawled payload binary. */
  def c13ValidatePayload(s: SparkSession, dir: String): DataFrame =
    Validate.validatePayload(s.read.parquet(s"${crawlDir(s)}/payload"))
      .orderBy(col("image_id"))

  /** Cross-URL image near-dup pairs over any payload frame: 64-bit
    * perceptual-hash hamming ≤ 3 via the q26 pigeonhole multi-table
    * blocking (4 disjoint 16-bit chunks — COMPLETE for hamming ≤ 3, per
    * Manku et al. WWW'07; ImageDedupSpec proves equality with the
    * brute-force pair set). Only the 8-byte (image_id, phash) projection
    * is shuffled — payload bytes never move. Per-chunk block values span
    * 2¹⁶, so per-block candidates stay ~n/65536 per table at any corpus
    * size. */
  def phashNearDupPairs(payload: DataFrame): DataFrame = {
    val pay = payload.filter(col("status") === Status.Processed)
      .select(col("image_id"), col("phash")).distinct()
    val chunks = (0 until 4).map(i => struct(lit(i).as("chunk_i"),
      shiftright(col("phash"), i * 16).bitwiseAND(lit(0xffffL)).as("chunk_v")))
    val tabled = pay
      .select(col("image_id"), col("phash"), explode(array(chunks: _*)).as("c"))
      .select(col("image_id"), col("phash"), col("c.chunk_i"), col("c.chunk_v"))
    tabled.as("a").join(tabled.as("b"),
        col("a.chunk_i") === col("b.chunk_i") &&
          col("a.chunk_v") === col("b.chunk_v") &&
          col("a.image_id") < col("b.image_id"))
      .select(col("a.image_id").as("id_a"), col("b.image_id").as("id_b"),
        graft.functions.SimilarityFunctions
          .hamming64(col("a.phash"), col("b.phash")).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct() // a pair can match in more than one chunk table
  }

  /** c14: image content dedup over the crawled corpus — the payload-side
    * analogue of q24/q26 (the mirror fixture guarantees real cross-URL
    * duplicate images: same docid served at two URLs, possibly lossy
    * re-encoded → hamming 0 for same-fmt mirrors, small for png↔jpg). */
  def c14PhashNearDup(s: SparkSession, dir: String): DataFrame =
    phashNearDupPairs(s.read.parquet(s"${crawlDir(s)}/payload"))
      .orderBy(col("id_a"), col("id_b"))

  /** c15: the dedup DECISION over the crawled images — connected
    * components (q41's min-label engine) over the c14 phash pair graph:
    * one row per image that has at least one near-duplicate, labeled with
    * its cluster's canonical image (min image_id) and cluster size. A
    * training-data pipeline keeps `image_id == canonical_id` rows and
    * drops the rest. */
  def c15ImageDedupClusters(s: SparkSession, dir: String): DataFrame =
    Queries.connectedComponents(s,
        phashNearDupPairs(s.read.parquet(s"${crawlDir(s)}/payload")))
      .select(col("id").as("image_id"), col("rep").as("canonical_id"),
        col("cluster_size"))
      .orderBy(col("image_id"))

  /** Multimodal CONSENSUS near-dup pairs: image-evidence pairs (c14 phash
    * hamming ≤ 3) confirmed by the caption modality before the dedup
    * decision — a mirror re-encode keeps its caption, while an incidental
    * 64-bit phash collision between different documents does not.
    * Confirmation = exact caption equality (the north-rule per-row
    * invariant) OR caption token-set Jaccard ≥ 0.9 (tolerates trivial
    * whitespace/punct edits a re-serving host might introduce).
    *
    * Scale shape: the pair list is SPARSE relative to the corpus, so it
    * broadcasts against the slim (image_id, caption-token) projection —
    * captions annotate map-side in two broadcast joins, the payload scan
    * never shuffles, image bytes never move. */
  def multimodalConsensusPairs(payload: DataFrame): DataFrame = {
    val caps = payload.filter(col("status") === Status.Processed)
      .select(col("image_id"), col("caption"),
        graft.expressions.GraftFunctions.wordNgramHashes(col("caption"), 1).as("toks"))
      .distinct()
    val pairs = phashNearDupPairs(payload)
    val annA = caps.select(col("image_id").as("id_a"),
      col("caption").as("cap_a"), col("toks").as("toks_a"))
    val annB = caps.select(col("image_id").as("id_b"),
      col("caption").as("cap_b"), col("toks").as("toks_b"))
    val annotated = annA.join(broadcast(pairs), Seq("id_a")) // pair-sized
    annB.join(broadcast(annotated), Seq("id_b"))             // pair-sized
      .withColumn("caption_equal", col("cap_a") === col("cap_b"))
      .withColumn("jacc_x1e4",
        (size(array_intersect(col("toks_a"), col("toks_b"))) * lit(10000L) /
          size(array_union(col("toks_a"), col("toks_b")))).cast("bigint"))
      .filter(col("caption_equal") || col("jacc_x1e4") >= 9000L)
      .select(col("id_a"), col("id_b"), col("hamming"),
        col("caption_equal"), col("jacc_x1e4"))
  }

  /** c16: the multimodal dedup DECISION — consensus pairs (image + caption
    * agreement) over the crawled corpus, ordered for the rows-only gate;
    * CrawlSpec proves the set equals the caption-confirmed subset of the
    * c14 pair set and that mirror-fixture pairs survive. */
  def c16MultimodalConsensus(s: SparkSession, dir: String): DataFrame =
    multimodalConsensusPairs(s.read.parquet(s"${crawlDir(s)}/payload"))
      .orderBy(col("id_a"), col("id_b"))

  /** P8-P10 as a REAL extraction over STORED data: parse docid and host
    * back out of the persisted caption STRING (regex label/value
    * extraction — the reference's HtmlContentExtractionService parse,
    * which q37's documents-side form can only simulate because the
    * synthetic corpus text carries no labeled structure), derive the
    * court facet from the EXTRACTED docid (P6 composed on parsed output,
    * not on a typed column), and roll up per court with extraction-
    * soundness counters. CrawlSpec asserts zero mismatches against the
    * typed columns and rollup equality with the typed-column facet —
    * the extraction is verified against ground truth it never reads.
    * Pure map over a slim projection; payload bytes never touched. */
  def captionExtraction(payload: DataFrame): DataFrame =
    payload
      .filter(col("status") === "PROCESSED")
      .select(col("image_id"), col("host"),
        regexp_extract(col("caption"),
          "^Decision document (\\S+) published by (\\S+)$", 1).as("docid_ext"),
        regexp_extract(col("caption"),
          "^Decision document (\\S+) published by (\\S+)$", 2).as("host_ext"))
      .groupBy(graft.functions.UrlFunctions.courtOf(col("docid_ext")).as("court"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("docid_ext") ===
          expr("substring(image_id, 1, length(image_id) - 17)"), 1))
          .as("n_docid_ok"),
        count(when(col("host_ext") === col("host"), 1)).as("n_host_ok"))
      .orderBy(col("court"))

  def c17CaptionExtraction(s: SparkSession, dir: String): DataFrame =
    captionExtraction(s.read.parquet(s"${crawlDir(s)}/payload"))

  /** S5 discovery: driver-side binary search bounds the range (log₂
    * probes), then the distributed HEAD-probe stage scans only the
    * bounded range; monthly availability rollup. */
  def c10Discovery(s: SparkSession, dir: String): DataFrame = {
    import java.time.LocalDate
    val seed = 42L
    val horizon = LocalDate.of(2025, 12, 31)
    val (earliest, _) = Discovery.binarySearchEarliest(
      LocalDate.of(2019, 1, 1), horizon,
      d => Discovery.availableOn(d, seed, horizon))
    Discovery.probeRange(s, earliest.get.minusDays(30), earliest.get.plusDays(150),
        seed, horizon)
      .groupBy(trunc(col("date"), "month").as("month"))
      .agg(count(lit(1)).as("n_probed"),
        count(when(col("available"), 1)).as("n_available"))
      .orderBy(col("month"))
  }

  /** S5 both-ends range bounding (reference
    * SitemapDiscoveryService.java:247-270 + :272-314): latest available
    * date by the ≤30-day scan-back from a fixed `today` (with the
    * reference's today−7 fallback), earliest by binary search over
    * [lo, latest] — one row per probed seed with the bounds, probe
    * budget, and the resulting crawlable-day count. Deterministic fixed
    * clock (no wall time). */
  def c18DiscoveryBounds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.time.LocalDate
    val lo = LocalDate.of(2019, 1, 1)
    val rows = (0L until 8L).map { seed =>
      val horizon = LocalDate.of(2025, 12, 31)
      val today = horizon.plusDays((seed % 4) + 1) // staggered fixed clocks
      val probe = (d: LocalDate) => Discovery.availableOn(d, seed, horizon)
      val (bounds, probes) = Discovery.discoverBounds(lo, today, probe)
      val (earliest, latest) = bounds
        .map { case (e, l) => (e.toString, l.toString) }
        .getOrElse(("", ""))
      val nDays = bounds
        .map { case (e, l) => l.toEpochDay - e.toEpochDay + 1 }
        .getOrElse(0L)
      (seed, earliest, latest, probes.toLong, nDays)
    }
    rows.toDF("seed", "earliest", "latest", "n_probes", "n_crawlable_days")
      .orderBy(col("seed"))
  }

  /** c19: the P23 deep structural validator (Validate.deepValidate —
    * per-row errors/warnings ARRAY struct, the LegalDocMLValidator
    * analogue) rolled up per (severity, code); rows with neither errors
    * nor warnings count under severity `clean`. */
  def c19DeepValidation(s: SparkSession, dir: String): DataFrame = {
    val v = Validate.deepValidate(s.read.parquet(s"${crawlDir(s)}/payload"))
    val errs = v.select(explode(col("validation.errors")).as("code"))
      .select(lit("error").as("severity"), col("code"))
    val warns = v.select(explode(col("validation.warnings")).as("code"))
      .select(lit("warning").as("severity"), col("code"))
    val clean = v.filter(size(col("validation.errors")) === 0 &&
        size(col("validation.warnings")) === 0)
      .select(lit("clean").as("severity"), lit("").as("code"))
    errs.unionByName(warns).unionByName(clean)
      .groupBy(col("severity"), col("code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("severity"), col("code"))
  }

  /** c20 — S6 snapshot-table semantics over the payload sink
    * (graft.sources.SnapshotLog): one snapshot per crawl epoch; per
    * snapshot, the manifest stats plus a TIME-TRAVEL row count (reading
    * exactly that snapshot's file set), which must be cumulative in
    * epoch order. The Iceberg history()-table analogue (SURVEY.md §1.3;
    * the reference's crawl-date commit unit). */
  def c20SnapshotHistory(s: SparkSession, dir: String): DataFrame = {
    val wd = crawlDir(s)
    val log = new graft.sources.SnapshotPayloadSink(cfgBase.buckets).log(wd, s)
    // ONE job for every time-travel count: tag each snapshot's file-set
    // scan with its id and count grouped — the per-id sequential
    // `read(id).count()` loop ran #snapshots serial jobs over largely
    // overlapping file sets with idle cores between them (guide §2.6)
    val counts = log.snapshotIds()
      .map(id => log.read(s, id).select(lit(id).as("snapshot_id")))
      .reduce(_ unionByName _)
      .groupBy(col("snapshot_id"))
      .agg(count(lit(1)).as("n_rows_at_snapshot"))
    log.history(s).join(counts, "snapshot_id")
      .orderBy(col("snapshot_id"))
  }

  /** c21 — incremental append scan between adjacent snapshots (the
    * Iceberg start/end-snapshot-id read): per snapshot step, the
    * changelog row count and distinct epoch set. An incremental consumer
    * (e.g. an indexer catching up) reads exactly one epoch per step —
    * `n_epochs_in_changelog` must be 1 and the cumulative sum of
    * `n_rows_appended` must reproduce c20's time-travel counts. */
  def c21SnapshotChanges(s: SparkSession, dir: String): DataFrame = {
    val wd = crawlDir(s)
    val log = new graft.sources.SnapshotPayloadSink(cfgBase.buckets).log(wd, s)
    import s.implicits._
    val ids = log.snapshotIds()
    ids.sliding(2).collect { case Seq(a, b) =>
      val delta = log.changes(s, a, b)
      // count + distinct-epoch count in ONE aggregate job per step (was
      // two serial actions per step)
      val agg = delta.agg(count(lit(1)),
        countDistinct(col("crawl_epoch"))).head
      (a, b, agg.getLong(0), agg.getLong(1))
    }.toSeq
      .toDF("from_snapshot", "to_snapshot", "n_rows_appended", "n_epochs_in_changelog")
      .orderBy(col("from_snapshot"))
  }

  /** c22 — row-level delete lifecycle on the snapshot table (Iceberg v2
    * equality deletes, merge-on-read): DELETE FROM by key → the head
    * hides exactly those rows while time travel keeps them; a re-insert
    * of a deleted key after the delete survives (sequence-number rule);
    * `materializeDeletes` restores a pure-scan head with identical rows;
    * and a SnapshotTail consumer re-bases across the non-append commits
    * then resumes incremental. One deterministic phase row per stage —
    * built on its OWN tiny table (the shared crawl fixture's snapshot
    * history must stay append-only for c20/c21). */
  def c22SnapshotDeletes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // scratch on the fast base (tmpfs when available — the same base the
    // read-side materialize uses): this query's whole working set is its
    // own tiny table, so every one of its ~10 write/commit/read round
    // trips otherwise pays slow-disk latency (guide §6)
    val root = Queries.scratchDir("graft-snap-deletes").toString
    val log = new graft.sources.SnapshotLog(root, s.sparkContext.hadoopConfiguration)
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // (r06 negative result, kept for the record: scoped AQE-off was
    // measured SLOWER here — fewer jobs but the same serial stage chain
    // at the session's full shuffle-partition count; AQE's coalescing is
    // worth more than its per-stage job launches even on a ≤23-row table.)
    def write(bucket: Int, epoch: Int, ids: Seq[Int]): Unit =
      ids.toDF("id").withColumn("host_bucket", lit(bucket))
        .withColumn("crawl_epoch", lit(epoch)).repartition(1)
        .write.mode("overwrite").partitionBy("host_bucket", "crawl_epoch")
        .parquet(root)
    def phase(name: String): (String, Long, Long, Long) = {
      val head = log.readLatest(s)
      val m = log.manifest(log.currentId().get)
      // count + sum in ONE aggregate job (was two separate actions per
      // phase — this query's wall time is almost pure job-launch latency)
      val agg = head.agg(count(lit(1)), sum(col("id"))).head
      (name, agg.getLong(0), agg.getLong(1),
        m.files.count(_.isDelete).toLong)
    }
    write(0, 0, 1 to 10)
    log.commit("append-epoch-0", Seq("host_bucket=0/crawl_epoch=0"))
    write(1, 1, 11 to 20)
    log.commit("append-epoch-1", Seq("host_bucket=1/crawl_epoch=1"))
    val tail = new graft.sources.SnapshotTail(
      log, s"$root/_consumer", s.sparkContext.hadoopConfiguration)
    val boot = tail.poll(s).get
    tail.ack(boot._2)
    val p0 = phase("0_appended")
    log.commitDeletes(s, Seq(2, 13, 19).toDF("id"))
    val p1 = phase("1_after_delete")
    write(0, 2, Seq(2, 21))
    log.commit("append-epoch-2", Seq("host_bucket=0/crawl_epoch=2"))
    val p2 = phase("2_after_reinsert")
    log.materializeDeletes(s)
    val p3 = phase("3_materialized")
    // the delete + materialize are non-append: the tail consumer re-bases.
    // poll() itself throws (SnapshotLog.changes validates the range
    // driver-side before any job) — no count needed to surface it (r06:
    // the old forced count was one pure-overhead job)
    val rebased = try { tail.poll(s); 0L }
    catch { case _: IllegalStateException =>
      tail.ack(log.currentId().get); 1L }
    write(1, 3, Seq(22, 23))
    log.commit("append-epoch-3", Seq("host_bucket=1/crawl_epoch=3"))
    val delta = tail.poll(s).get
    tail.ack(delta._2)
    val p4 = ("4_tail_resumed", delta._1.count(), rebased,
      boot._1.count())
    Seq(p0, p1, p2, p3, p4)
      .toDF("phase", "n_rows", "sum_or_flag", "n_delete_files")
      .orderBy(col("phase"))
  }
}
