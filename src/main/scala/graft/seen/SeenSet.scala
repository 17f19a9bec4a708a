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

  /** Build one bloom segment per host_bucket from the seen store.
    * One shuffle by bucket; each partition builds the blooms of the
    * buckets it owns (a bucket never spans partitions), emitting
    * (bucket, serialized segment). Mergeable: same-bucket segments union
    * by OR (used by the incremental epoch-over-epoch path). */
  def bloomSegments(seen: DataFrame, buckets: Int, expectedPerBucket: Long,
      fpp: Double): Dataset[(Int, Array[Byte])] = {
    val spark = seen.sparkSession
    import spark.implicits._
    seen.select(col("host_bucket").cast("int"), col("url_hash").cast("long"))
      .repartition(buckets, col("host_bucket"))
      .as[(Int, Long)]
      .mapPartitions { rows =>
        val blooms = scala.collection.mutable.Map.empty[Int, LongBloom]
        rows.foreach { case (b, h) =>
          blooms.getOrElseUpdate(b, LongBloom.create(expectedPerBucket, fpp)).put(h)
        }
        blooms.iterator.map { case (b, f) => (b, f.serialize()) }
      }
  }

  /** Fully distributed incremental bloom maintenance:
    * segments(epoch) = segments(epoch-1) ∪ bloom(delta), computed as ONE
    * cogroup of the delta's (host_bucket, url_hash) keys with the persisted
    * segment set — the delta keys shuffle once on their bucket, the prior
    * segments ship as ≤ buckets rows, and NOTHING key- or segment-sized
    * ever lands on the driver (at 10^10 seen keys the segment set is ~12 GB;
    * a per-epoch driver round-trip of it is the exact anti-pattern this
    * replaces). A bucket with prior keys but no delta keeps its segment; a
    * bucket with delta but no prior segment builds fresh; byte-identical to
    * a fresh full-store build at the same shape (bloom OR is
    * order-independent — CrawlSpec pins the equality).
    *
    * `delta` columns: host_bucket (int-castable), url_hash (long). */
  def mergeDeltaIntoSegments(delta: DataFrame,
      prev: Dataset[(Int, Array[Byte])], expectedPerBucket: Long,
      fpp: Double): Dataset[(Int, Array[Byte])] = {
    val spark = delta.sparkSession
    import spark.implicits._
    delta.select(col("host_bucket").cast("int"), col("url_hash").cast("long"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .cogroup(prev.groupByKey(_._1)) { (bucket, keys, segs) =>
        val bloom = segs.map(s => LongBloom.deserialize(s._2))
          .reduceOption(_ union _)
          .getOrElse(LongBloom.create(expectedPerBucket, fpp))
        keys.foreach(k => bloom.put(k._2))
        // cogroup invokes this only for buckets present on ≥1 side, so
        // every emitted segment covers a bucket that genuinely has keys
        Iterator.single((bucket, bloom.serialize()))
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
    * no shuffle, rows stay in Tungsten format. Bloom positives are
    * confirmed by the exact anti-join; negatives are definitely new.
    * Returns exactly `unseenExact`'s rows. The crawl loop enters this tier
    * only when [[broadcastTierFits]] bounds the collect under Spark's caps.
    *
    * Returns (unseen, cleanup). `cleanup()` must be called AFTER the
    * unseen rows are materialized downstream: it unpersists the shared
    * probe pass and destroys the bloom broadcast — without it an epoch
    * loop leaks one cached dataset + one broadcast per epoch. */
  def unseenTwoTierBroadcast(candidates: Dataset[KeyedUrl], seen: DataFrame,
      segments: Dataset[(Int, Array[Byte])]): (Dataset[KeyedUrl], () => Unit) = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val segMap = segments.collect().groupBy(_._1).map { case (b, segs) =>
      b -> segs.map(s => LongBloom.deserialize(s._2)).reduce(_ union _)
    }
    val bc = spark.sparkContext.broadcast(segMap)
    val mightContain = org.apache.spark.sql.functions.udf(
      (bucket: Int, hash: Long) =>
        bc.value.get(bucket).exists(_.mightContain(hash)))
    // the probe is NOT persisted: a bloom probe is a handful of hash ops
    // per row, while caching the probe output means one more full-frontier
    // cache write per epoch — memory bandwidth is the measured single-box
    // ceiling, so the two consumers re-run the cheap probe over the
    // (already-cached) upstream instead.
    val flagged = candidates
      .withColumn("maybe_seen__", mightContain(col("host_bucket"), col("url_hash")))
    val definitelyNew = flagged.filter(!col("maybe_seen__"))
      .drop("maybe_seen__").as[KeyedUrl]
    val maybeSeen = flagged.filter(col("maybe_seen__"))
      .drop("maybe_seen__").as[KeyedUrl]
    // exact confirm WITHOUT shuffling the seen store. A plain
    // `sliver LEFT ANTI seen` can only broadcast its build (right) side —
    // the 10^10-key store — so Spark plans it as a shuffle join that
    // re-shuffles the ENTIRE store every epoch. Inverted form: (1)
    // `seen LEFT SEMI broadcast(sliver keys)` — the store streams through
    // one narrow columnar scan, zero exchange, emitting only the keys that
    // are genuinely seen (≤ sliver); (2) the sliver anti-joins that tiny
    // hit set, also broadcast. The per-epoch store cost drops from a full
    // shuffle+sort to one scan. Valid while the sliver's bound fits the
    // broadcast caps ([[broadcastTierFits]]); beyond it, [[unseenTwoTier]]
    // confirms with a plain anti-join that Spark plans by size.
    val sliverKeys = maybeSeen.select(col("url_hash"))
    val hits = seen.select(col("url_hash"))
      .join(broadcast(sliverKeys), Seq("url_hash"), "left_semi")
    // the confirm branch's output is repartitioned CONTENT-deterministically
    // (fixed partition count + hash of the row key — AQE never re-coalesces
    // an explicit numPartitions): downstream partition-sensitive passes
    // (the politeness prefilter) may evaluate this subtree more than once,
    // and the join output partitioning could otherwise be re-planned per
    // evaluation. The sliver is small, so the pin costs little.
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val confirmed = maybeSeen
      .join(broadcast(hits), Seq("url_hash"), "left_anti")
      .repartition(parts, col("url_hash")).as[KeyedUrl]
    val out = definitelyNew.unionByName(confirmed)
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
