package graft.seen

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.crawl.KeyedUrl

/** The URL-seen dedup (SURVEY.md §2.3 J1) — the one join that matters at
  * 10^10 frontier scale.
  *
  * Membership rule is byte-identical to the reference
  * (service/CrawlerOrchestrationService.java:112-117): seen ⇔ the URL was
  * stored with terminal-success status, and ¬forceUpdate. FAILED rows are
  * NOT seen (they become retry-eligible), so the seen store is
  * success-only and append-mostly; explicit deletes are tombstones that
  * [[SeenDeletes]] merges on read.
  *
  * [[unseenExact]] (plain `left_anti` join) is the reference. The epoch
  * loop returns exactly its rows with a two-tier strategy: per-host-bucket
  * bloom segments pre-filter the candidates and an exact anti-join
  * confirms the (few) bloom positives — bloom negatives are *definitely
  * new*, so membership stays byte-identical while the exact join sees only
  * ~fpp + true-dup fraction of candidates. [[broadcastTierFits]] picks
  * [[unseenTwoTierBroadcast]] (segments collected and broadcast, the store
  * scanned once and never shuffled) while its driver round-trips fit
  * Spark's caps, else [[unseenTwoTier]] (segments cogrouped on
  * host_bucket, no driver collect — survives 10^10 seen keys).
  */
object SeenSet {

  /** Exact anti-join: candidates not present in `seen(url_hash)`. */
  def unseenExact(candidates: Dataset[KeyedUrl], seen: DataFrame): Dataset[KeyedUrl] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates.join(seen.select("url_hash"), Seq("url_hash"), "left_anti")
      .as[KeyedUrl]
  }

  /** Build one bloom segment per host_bucket from the seen store: the
    * [[mergeDeltaIntoSegments]] of the whole store into no prior segments
    * (every bucket with keys gets one segment; `buckets` is not needed).
    * Mergeable: same-bucket segments union by OR (used by the incremental
    * epoch-over-epoch path). */
  def bloomSegments(seen: DataFrame, buckets: Int, expectedPerBucket: Long,
      fpp: Double): Dataset[(Int, Array[Byte])] = {
    val spark = seen.sparkSession
    import spark.implicits._
    mergeDeltaIntoSegments(seen, spark.emptyDataset[(Int, Array[Byte])], expectedPerBucket, fpp)
  }

  /** Fully distributed incremental bloom maintenance:
    * segments(epoch) = segments(epoch-1) ∪ bloom(delta), computed as ONE
    * shuffle on the bucket of the delta's (host_bucket, url_hash) keys
    * together with the persisted segment set — the keys shuffle once, the
    * prior segments ship as ≤ buckets rows, and NOTHING key- or
    * segment-sized ever lands on the driver (at 10^10 seen keys the
    * segment set is ~12 GB; a per-epoch driver round-trip of it is the
    * exact anti-pattern this replaces). Each task folds the rows of the
    * buckets it owns into one bloom per bucket (a bucket never spans
    * tasks): a bucket with prior keys but no delta keys keeps its segment;
    * a bucket with delta but no prior segment builds fresh; byte-identical
    * to a fresh full-store build at the same shape (bloom OR is
    * order-independent — CrawlSpec pins the equality). Plain columns up to
    * the one typed pass, so the merge adds no grouping or sort stage.
    *
    * `delta` columns: host_bucket (int-castable), url_hash (long). */
  def mergeDeltaIntoSegments(delta: DataFrame,
      prev: Dataset[(Int, Array[Byte])], expectedPerBucket: Long,
      fpp: Double): Dataset[(Int, Array[Byte])] = {
    val spark = delta.sparkSession
    import spark.implicits._
    // (bucket, key, segment): a key row has no segment, a segment row no key
    val keys = delta.select(col("host_bucket").cast("int").as("b"),
      col("url_hash").cast("long").as("h"), lit(null).cast("binary").as("seg"))
    val segs = prev.toDF("b", "seg").select(col("b"), lit(0L).as("h"), col("seg"))
    keys.unionByName(segs)
      .repartition(col("b"))
      .as[(Int, Long, Array[Byte])]
      .mapPartitions { rows =>
        val blooms = scala.collection.mutable.Map.empty[Int, LongBloom]
        rows.foreach { case (b, h, seg) =>
          if (seg == null) blooms.getOrElseUpdate(b, LongBloom.create(expectedPerBucket, fpp)).put(h)
          else {
            val s = LongBloom.deserialize(seg)
            blooms.update(b, blooms.get(b).fold(s)(_ union s))
          }
        }
        blooms.iterator.map { case (b, f) => (b, f.serialize()) }
      }
  }

  /** The segment set's bytes at its fixed bloom shape (none allocated). */
  def segmentSetBytes(buckets: Int, expectedPerBucket: Long, fpp: Double): Long =
    buckets * (12L + LongBloom.numBits(expectedPerBucket, fpp) / 8)

  /** The tier rule: [[unseenTwoTierBroadcast]] only while broadcasting is
    * on (the switch `readSeen`'s tombstone join follows) and both upper
    * bounds — segment set, and sliver at 16 B (one single-`long`
    * UnsafeRow) per candidate — fit `maxResultSize` (0 = no cap) and
    * `maxBroadcastTableSize`. */
  def broadcastTierFits(segmentSetBytes: Long, sliverBytes: Long,
      autoBroadcastThreshold: Long, maxResultSize: Long,
      maxBroadcastTableSize: Long): Boolean = {
    def fits(b: Long) = (maxResultSize == 0 || b <= maxResultSize) && b <= maxBroadcastTableSize
    autoBroadcastThreshold >= 0 && fits(segmentSetBytes) && fits(sliverBytes)
  }

  /** Two-tier unseen with a BROADCAST bloom probe: segments are collected
    * (they are tiny relative to the seen set — ~1.2 bytes/key at 1% fpp),
    * broadcast, and probed by a predicate on (host_bucket, url_hash) —
    * no shuffle, rows stay in Tungsten format. The bloom positives' keys
    * are confirmed against the store, and the candidates drop the
    * confirmed hits. Returns exactly `unseenExact`'s rows. The crawl loop
    * enters this tier only when [[broadcastTierFits]] bounds the collect
    * under Spark's caps.
    *
    * Returns (unseen, cleanup). `cleanup()` must be called AFTER the
    * unseen rows are materialized downstream: it releases the bloom
    * broadcast — without it an epoch loop leaks one broadcast per epoch. */
  def unseenTwoTierBroadcast(candidates: Dataset[KeyedUrl], seen: DataFrame,
      segments: Dataset[(Int, Array[Byte])]): (Dataset[KeyedUrl], () => Unit) =
    unseenTwoTierBroadcast(candidates, seen, segments.collect().toSeq)

  /** [[unseenTwoTierBroadcast]] over segments already on the driver. */
  private[graft] def unseenTwoTierBroadcast(candidates: Dataset[KeyedUrl], seen: DataFrame,
      segments: Seq[(Int, Array[Byte])]): (Dataset[KeyedUrl], () => Unit) = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val segMap = segments.groupBy(_._1).map { case (b, segs) =>
      b -> segs.map(s => LongBloom.deserialize(s._2)).reduce(_ union _)
    }
    val bc = spark.sparkContext.broadcast(segMap)
    val mightContain = org.apache.spark.sql.functions.udf(
      (bucket: Int, hash: Long) =>
        bc.value.get(bucket).exists(_.mightContain(hash)))
    // exact confirm WITHOUT shuffling the seen store. A plain
    // `sliver LEFT ANTI seen` can only broadcast its build (right) side —
    // the 10^10-key store — so Spark plans it as a shuffle join that
    // re-shuffles the ENTIRE store every epoch. Inverted form: (1)
    // `seen LEFT SEMI broadcast(sliver keys)` — the store streams through
    // one narrow columnar scan, zero exchange, emitting only the keys that
    // are genuinely seen (≤ sliver); (2) the candidates anti-join that tiny
    // hit set, also broadcast. Every seen candidate is a bloom positive
    // (blooms have no false negatives), so its key is among the hits:
    // anti-joining all candidates is exact, and its output flows narrowly
    // from `candidates`, keeping their partitioning. Valid while the sliver's bound fits the
    // broadcast caps ([[broadcastTierFits]]); beyond it, [[unseenTwoTier]]
    // confirms with a plain anti-join that Spark plans by size.
    val sliverKeys = candidates.filter(mightContain(col("host_bucket"), col("url_hash")))
      .select(col("url_hash"))
    val hits = seen.select(col("url_hash"))
      .join(broadcast(sliverKeys), Seq("url_hash"), "left_semi")
      .select(col("url_hash").as("hit__"))
    val out = candidates.join(broadcast(hits), col("url_hash") === col("hit__"), "left_anti")
      .as[KeyedUrl]
    // unpersist, NOT destroy: the cached downstream dataset still carries
    // this plan in its lineage, and task (re)serialization references the
    // broadcast even when cached partitions short-circuit execution —
    // destroy() makes any later lineage replay throw INTERNAL_ERROR_
    // BROADCAST. unpersist() drops the executor copies and lazily
    // re-broadcasts from the driver if a replay ever needs it.
    (out, () => bc.unpersist())
  }

  /** Two-tier unseen: bloom pre-filter (cogrouped by bucket) + exact
    * confirm of bloom positives. Returns exactly `unseenExact`'s rows,
    * plus a cleanup handle (same contract as
    * [[unseenTwoTierBroadcast]]). */
  def unseenTwoTier(candidates: Dataset[KeyedUrl], seen: DataFrame,
      segments: Dataset[(Int, Array[Byte])]): (Dataset[KeyedUrl], () => Unit) = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val flagged = candidates.groupByKey(_.host_bucket)
      .cogroup(segments.groupByKey(_._1)) { (_, cands, segs) =>
        val bloom = segs.map(s => LongBloom.deserialize(s._2))
          .reduceOption(_ union _)
        bloom match {
          case None => cands.map(c => (c, false)) // empty bucket: all new
          case Some(f) => cands.map(c => (c, f.mightContain(c.url_hash)))
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: the definitely-new and confirm branches share one probe pass
    val definitelyNew = flagged.filter(!_._2).map(_._1)
    val maybeSeen = flagged.filter(_._2).map(_._1)
    // unionByName: the anti-join reorders url_hash to the front
    val out = definitelyNew.unionByName(unseenExact(maybeSeen, seen))
    (out, () => { flagged.unpersist(); () })
  }
}
