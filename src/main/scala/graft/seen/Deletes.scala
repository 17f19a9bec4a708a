package graft.seen

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.fs.StoreFiles

/** S10 delete pipeline for the URL-seen store (reference:
  * SolrDocumentRepository.deleteById/deleteByQuery,
  * repository/SolrDocumentRepository.java:159-203). A deleted URL must
  * become re-crawlable on the next epoch.
  *
  * Design = merge-on-read with tombstones (the Iceberg MOR delete model,
  * which the north rule's sink implies) + optional compaction:
  *
  *  - [[delete]] appends the deleted url_hashes to an exact tombstone
  *    table and rebuilds the persistent delete-capable [[CuckooFilter]]
  *    SEGMENTS from it — per-bucket, built by a 2-phase distributed pass
  *    (shuffle keys by derived bucket, each partition builds the filters
  *    of the buckets it owns — the [[SeenSet.bloomSegments]] shape; a
  *    cuckoo has no OR-union, so segmentation, not merging, is what
  *    keeps the build distributed). NOTHING key-sized ever reaches the
  *    driver: a deleteByQuery-scale purge (S10's second form, 10^8+
  *    keys) streams through executors; the driver sees one count.
  *  - [[applyTombstones]] is the read-side merge: a broadcast
  *    cuckoo-segment probe marks the (few) possibly-deleted rows, and
  *    ONLY those are confirmed against the exact tombstone table —
  *    broadcast when the tombstone COUNT is under [[BroadcastTombMax]],
  *    a shuffle anti-join (sliver + tombstones move, `kept` never does)
  *    above it. The fp-sliver itself is NEVER broadcast: its size is
  *    true-hits + fp·|seen|, unbounded in both terms on a full-store
  *    merge-on-read before compaction. Same two-tier shape as the bloom
  *    seen-probe, but with a cuckoo because blooms cannot delete
  *    (SURVEY.md §2.10). Cuckoo negatives skip the join entirely, so
  *    membership stays byte-exact (no false negatives) while the join
  *    sees only the fp-rate sliver.
  *  - [[compact]] rewrites exactly the store partitions that contain
  *    tombstoned keys (partition-level rewrite, others untouched) and
  *    clears the tombstones — the maintenance path that keeps the MOR
  *    read cheap.
  */
object SeenDeletes {

  private def tombDir(workDir: String) = s"$workDir/seen_tombstones"
  private def cuckooPath(workDir: String) = s"$workDir/seen_tombstones.cuckoo"

  /** Segment bucket of a key: pure function of the hash (NOT host_bucket —
    * tombstone inputs carry only url_hash), identical on the build and
    * probe sides. `nSegs` is a power of two. */
  @inline private def segBucket(h: Long, nSegs: Int): Int =
    (graft.expressions.ExprOps.mix(h ^ 0x5851f42d4c957f2dL) & (nSegs - 1)).toInt

  /** Tombstone the given url_hashes (column "url_hash"). Idempotent.
    * Fully distributed: the hash frame is appended to the tombstone
    * parquet and the cuckoo segments are rebuilt from the whole table
    * executor-side — the driver materializes only row counts. */
  def delete(spark: SparkSession, workDir: String, hashes: DataFrame): Long = {
    val hs = hashes.select(col("url_hash").cast("long").as("url_hash"))
    val n = hs.count()
    if (n == 0L) return 0L
    // exact tombstone table (append, dedup on read)
    hs.write.mode(SaveMode.Append).parquet(tombDir(workDir))
    rebuildCuckooSegments(spark, workDir)
    n
  }

  /** Rebuild the per-bucket cuckoo segments from the full tombstone table
    * (2-phase: shuffle by derived bucket, build per partition, write as a
    * (bucket, seg) parquet staged and swapped into place). O(total
    * tombstones) of EXECUTOR work per delete batch — the table is cleared
    * by [[compact]], so it never grows past one maintenance cycle. */
  private def rebuildCuckooSegments(spark: SparkSession, workDir: String): Unit = {
    import spark.implicits._
    val tombs = spark.read.parquet(tombDir(workDir)).select(col("url_hash"))
    val total = tombs.count()
    // ~2M keys (≈4 MB cuckoo table) per segment; pow2 for the mask
    var nSegs = 8
    while (nSegs * 2000000L < total && nSegs < 4096) nSegs <<= 1
    val k = nSegs
    val bucketOf = udf((h: Long) => segBucket(h, k))
    val segs = tombs
      .repartition(k, bucketOf(col("url_hash")))
      .as[Long]
      .mapPartitions { rows =>
        // buffer + local dedup per bucket (bounded: ≤ ~2M keys/segment)
        val byBucket = scala.collection.mutable.Map
          .empty[Int, scala.collection.mutable.HashSet[Long]]
        rows.foreach { h =>
          byBucket.getOrElseUpdate(segBucket(h, k),
            scala.collection.mutable.HashSet.empty[Long]).add(h)
        }
        byBucket.iterator.map { case (b, keys) =>
          var mult = 1L
          var f = CuckooFilter.create(keys.size.toLong)
          while (!keys.forall(f.insert)) {
            // unlucky fingerprint collisions: grow 4× and retry
            mult *= 4
            f = CuckooFilter.create(keys.size.toLong * mult)
          }
          (b, k, f.serialize())
        }
      }.toDF("bucket", "nsegs", "seg")
    val tmp = cuckooPath(workDir) + ".tmp"
    segs.write.mode(SaveMode.Overwrite).parquet(tmp)
    StoreFiles.swap(spark, StoreFiles.swapMarker(workDir),
      StoreFiles.Swap(Seq(tmp -> cuckooPath(workDir)), Nil))
  }

  /** Load + OR-collect the segment map for broadcasting. Segment BYTES
    * (~2.2 B per tombstoned key) are the only thing collected — the
    * bloom-broadcast envelope, never the keys. Self-healing: a crash
    * between the tombstone append and the segment write leaves the
    * table newer than the segments; rebuild covers it. */
  private def loadSegments(spark: SparkSession, workDir: String)
      : Option[(Int, Map[Int, CuckooFilter])] = {
    import spark.implicits._
    val fsys = StoreFiles.fs(spark, workDir)
    if (!fsys.exists(new Path(tombDir(workDir)))) return None
    if (!fsys.exists(new Path(cuckooPath(workDir)))) rebuildCuckooSegments(spark, workDir)
    val rows = spark.read.parquet(cuckooPath(workDir))
      .select(col("bucket").cast("int"), col("nsegs").cast("int"), col("seg"))
      .as[(Int, Int, Array[Byte])].collect()
    // nsegs is persisted per row (empty buckets write no row, so the
    // segment-count mask can NOT be inferred from the occupied buckets —
    // a wrong mask routes probes to absent segments = false negatives)
    val nSegs = rows.headOption.map(_._2).getOrElse(8)
    Some((nSegs, rows.groupBy(_._1).map { case (b, ss) =>
      b -> CuckooFilter.deserialize(ss.head._3)
    }))
  }

  /** Tombstone-count ceiling for broadcasting the tombstone table in the
    * exact confirm (~32 MB of longs — comfortably under the broadcast
    * cap). Above it the confirm is a shuffle anti-join of the fp-sliver
    * against the tombstones: both sides stay distributed, so a full-store
    * merge-on-read before compaction (sliver ≈ every tombstoned row, the
    * deleteByQuery-scale case) can never trip the driver/broadcast
    * ceiling. NOTE the sliver itself is NEVER broadcast on either path:
    * its size is true-hits + fp·|seen| — unbounded in both terms. */
  private[graft] val BroadcastTombMax = 4000000L

  /** Merge-on-read: drop tombstoned rows from a seen frame
    * ("url_hash" keyed). Byte-exact (cuckoo prefilter + exact confirm).
    * `broadcastTombMax` is test-injectable to force the shuffle path. */
  def applyTombstones(spark: SparkSession, workDir: String, seen: DataFrame,
      broadcastTombMax: Long = BroadcastTombMax): DataFrame =
    loadSegments(spark, workDir) match {
      case None => seen
      case Some((nSegs, segMap)) =>
        // broadcast the FILTERS, not their bytes: the broadcast value is
        // deserialized once per executor and cached, so the probe is pure
        // array reads per row (same pattern as the bloom seen-probe)
        val bc = spark.sparkContext.broadcast(segMap)
        val maybeDeleted = udf((h: Long) =>
          bc.value.get(segBucket(h, nSegs)).exists(_.contains(h)))
        val tombs = spark.read.parquet(tombDir(workDir)).select(col("url_hash"))
        val flagged = seen.withColumn("maybe_del__", maybeDeleted(col("url_hash")))
        val kept = flagged.filter(!col("maybe_del__")).drop("maybe_del__")
        val sliver = flagged.filter(col("maybe_del__")).drop("maybe_del__")
        // exact confirm, count-gated (the count is one cheap metadata
        // scan of the tombstone parquet). Small tombstone table →
        // broadcast IT (bounded by the gate); big → shuffle anti-join,
        // which moves only the sliver + tombstones, never `kept`.
        val tombCount = tombs.count()
        val survivors =
          if (tombCount <= broadcastTombMax)
            sliver.join(broadcast(tombs), Seq("url_hash"), "left_anti")
          else sliver.join(tombs, Seq("url_hash"), "left_anti")
        kept.unionByName(survivors)
    }

  /** Physically rewrite exactly the seen partitions that contain
    * tombstoned keys, then clear the tombstones (one swap). `epochDirs` are
    * the per-epoch seen directories ("$workDir/seen/epoch=N"). Victim
    * detection per partition = cuckoo prefilter + inverted exact
    * confirm — a cuckoo false positive alone never triggers a rewrite,
    * and no tombstone key is ever collected. */
  def compact(spark: SparkSession, workDir: String, epochDirs: Seq[String]): Unit =
    stageCompaction(spark, workDir, epochDirs)
      .foreach(StoreFiles.swap(spark, StoreFiles.swapMarker(workDir), _))

  /** Write the rewritten victim partitions next to their originals and
    * return the swap that installs them and clears the tombstones; None
    * without tombstones. */
  private[graft] def stageCompaction(spark: SparkSession, workDir: String,
      epochDirs: Seq[String]): Option[StoreFiles.Swap] = {
    val fsys = StoreFiles.fs(spark, workDir)
    if (!fsys.exists(new Path(tombDir(workDir)))) return None
    val (nSegs, segMap) = loadSegments(spark, workDir) match {
      case Some(s) => s
      case None => return None
    }
    val bc = spark.sparkContext.broadcast(segMap)
    val maybeVictim = udf((h: Long) =>
      bc.value.get(segBucket(h, nSegs)).exists(_.contains(h)))
    val tombs = spark.read.parquet(tombDir(workDir)).select(col("url_hash"))
    val tombCount = tombs.count()
    val moves = epochDirs.filter(d => fsys.exists(new Path(d))).flatMap { d =>
      val part = spark.read.parquet(d)
      val candidates = part.filter(maybeVictim(col("url_hash")))
        .select(col("url_hash"))
      // exact: does ANY tombstone match this partition's fp sliver? Same
      // gate as applyTombstones — the candidate sliver is never broadcast
      // (its size is fp-rate × partition, unbounded on large stores).
      val hit = (
        if (tombCount <= BroadcastTombMax)
          candidates.join(broadcast(tombs), Seq("url_hash"), "left_semi")
        else candidates.join(tombs, Seq("url_hash"), "left_semi")
      ).limit(1).count() > 0
      if (!hit) None
      else {
        val tmp = s"$d.compact.tmp"
        applyTombstones(spark, workDir, part)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        Some(tmp -> d)
      }
    }
    Some(StoreFiles.Swap(moves, Seq(tombDir(workDir), cuckooPath(workDir))))
  }

  // ---- seen-store consolidation (small-files maintenance) ----------------
  // A long crawl accumulates one seen/epoch=N directory per epoch; at 10^4+
  // epochs the per-epoch file listing and tiny-file reads dominate readSeen.
  // Consolidation merges all epochs-so-far into the highest epoch directory
  // (distinct rows — membership-identical) with one StoreFiles.swap, so no
  // crash point loses membership.

  /** Merge all existing seen/epoch=e (e < uptoEpoch) into the highest such
    * directory. No-op with <2 directories. Membership-identical (distinct
    * union); tombstones are untouched (they apply at read). */
  def consolidate(spark: SparkSession, workDir: String, uptoEpoch: Int): Unit =
    stageConsolidation(spark, workDir, uptoEpoch)
      .foreach(StoreFiles.swap(spark, StoreFiles.swapMarker(workDir), _))

  /** Write the merged store to seen/.consolidate.tmp and return the swap
    * that installs it; None with <2 directories. */
  private[graft] def stageConsolidation(spark: SparkSession, workDir: String,
      uptoEpoch: Int): Option[StoreFiles.Swap] = {
    val fsys = StoreFiles.fs(spark, workDir)
    val dirs = (0 until uptoEpoch).map(e => s"$workDir/seen/epoch=$e")
      .filter(d => fsys.exists(new Path(d)))
    if (dirs.size < 2) return None
    val tmp = s"$workDir/seen/.consolidate.tmp"
    spark.read.parquet(dirs: _*)
      .select(col("url_hash"), col("host_bucket")).distinct()
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    Some(StoreFiles.Swap(Seq(tmp -> dirs.last), dirs.init))
  }

}
