package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.fs.StoreFiles

/** Incrementally maintained latest-row-wins view — the J3 upsert READER
  * made cheap without taxing the crawl hot path.
  *
  * The payload store is append-only (a forceUpdate re-crawl appends a new
  * `crawl_epoch` row); the reference instead updates the stored row in
  * place (service/CrawlerOrchestrationService.java:120-137). Every reader
  * of "current" rows therefore needs latest-per-url_hash — which as a
  * `Window.partitionBy(url_hash)` over the whole payload table is a full
  * store SHUFFLE PER READ (round-2 c08, the suite's slowest c-query; a
  * non-starter at 10^10 rows).
  *
  * Design (the Iceberg-less MERGE-on-read + compaction):
  *  - The view is a POINTER table: (url_hash, status, host_bucket,
  *    crawl_epoch) per live URL, ~16 B/row — all that latest-row
  *    resolution needs. Full current rows resolve by joining pointers
  *    back to the payload on (host_bucket, crawl_epoch, url_hash), a
  *    partition-PRUNED read (both are payload partition keys).
  *  - Per epoch, the loop APPENDS this epoch's pointers as
  *    `latest_delta/epoch=N` — a plain columnar write, no join, no
  *    rewrite. (An eager per-epoch merge+swap was measured at 20-60% of
  *    total crawl wall depending on pointer width — an O(store) rewrite
  *    per epoch; the delta append is O(epoch).)
  *  - Every `latestCompactEvery` epochs the deltas fold into the resolved
  *    `latest/` dir: tail resolved within itself (max-epoch per key — the
  *    tail is K epochs, bounded; one epoch is already resolved), then the
  *    resolved store anti-joins the tail's keys, and the union is written
  *    as it streams — no shuffle of the store, no sort — to a staged dir
  *    that swaps in, with the folded deltas dropped, as one
  *    [[StoreFiles.swap]].
  *  - [[read]] = resolved scan when no tail exists; otherwise resolved
  *    anti-join broadcast(tail keys) ∪ tail-resolved — zero shuffle of
  *    the store, no Window anywhere, tail work bounded by the cadence.
  *
  * Idempotent replay: a replayed epoch's delta write is a dynamic
  * overwrite of its own dir; compaction merges by key (its own prior
  * output anti-joined out), so every crash point converges; the loop's
  * [[StoreFiles.recover]] finishes a half-done swap from the staged files.
  */
object LatestView {

  private def latestDir(workDir: String) = s"$workDir/latest"
  private def deltaRoot(workDir: String) = s"$workDir/latest_delta"
  private def stagingDir(workDir: String) = s"$workDir/latest_staging"

  /** Schemas of the delta dirs (read with their `epoch` partition column)
    * and of the resolved view: declared, because inferring them runs a
    * footer-reading job per read. A view folded before the resolved dir
    * was flat keeps `host_bucket` as its partition column; read under
    * this schema it resolves the same columns. */
  private[graft] val DeltaSchema =
    StructType.fromDDL("url_hash BIGINT, status STRING, host_bucket INT, crawl_epoch INT, epoch INT")
  private[graft] val ResolvedSchema =
    StructType.fromDDL("url_hash BIGINT, status STRING, host_bucket INT, crawl_epoch INT")

  /** The pointer rows of the delta dirs `dirs`, without their dir key. */
  private def readDeltas(spark: SparkSession, workDir: String, dirs: Seq[String]): DataFrame =
    spark.read.schema(DeltaSchema).option("basePath", deltaRoot(workDir))
      .parquet(dirs: _*)
      .drop("epoch") // crawl_epoch rides in the data; epoch= is just the dir key

  private def readResolved(spark: SparkSession, workDir: String): DataFrame =
    spark.read.schema(ResolvedSchema).parquet(latestDir(workDir))
      .select(ResolvedSchema.fieldNames.map(col).toSeq: _*)

  private def pointerCols(written: DataFrame): DataFrame =
    written.select(col("url_hash"), col("status"),
      col("host_bucket").cast("int").as("host_bucket"),
      col("crawl_epoch").cast("int").as("crawl_epoch"))

  /** Per-epoch maintenance: append this epoch's pointer delta. O(epoch)
    * work — one slim columnar write, idempotent per epoch dir. */
  def appendDelta(spark: SparkSession, workDir: String, epoch: Int,
      written: DataFrame): Unit =
    pointerCols(written).write.mode(SaveMode.Overwrite)
      .parquet(s"${deltaRoot(workDir)}/epoch=$epoch")

  // numeric ascending — compaction deletes OLDEST first, so a crash
  // mid-deletion always leaves the NEWEST dirs and the next compact's
  // tail max still equals the resolved value (lexicographic order
  // would delete epoch=10 before epoch=2 and could regress a pointer)
  private def listDeltaDirs(spark: SparkSession, workDir: String): Seq[String] =
    StoreFiles.epochDirs(spark, deltaRoot(workDir))

  /** The delta dirs `dirs` resolved to one pointer per url_hash (max
    * crawl_epoch wins — epochs are unique per key). One dir is already
    * resolved: an epoch writes each url_hash at most once (its candidates
    * are deduplicated on it). Several resolve by max(struct), which keeps
    * the plan Window-free; it only ever runs over the bounded delta tail. */
  private def resolveTail(spark: SparkSession, workDir: String, dirs: Seq[String]): DataFrame = {
    val tail = readDeltas(spark, workDir, dirs)
    if (dirs.size == 1) tail
    else tail.groupBy(col("url_hash"))
      .agg(max(struct(col("crawl_epoch"), col("host_bucket"), col("status"))).as("r"))
      .select(col("url_hash"), col("r.status").as("status"),
        col("r.host_bucket").as("host_bucket"), col("r.crawl_epoch").as("crawl_epoch"))
  }

  /** Fold all outstanding deltas into the resolved `latest/` dir
    * (staged write, then one swap that drops the deltas). Amortized: the
    * crawl loop calls it every
    * `latestCompactEvery` epochs; also safe to call on demand before
    * heavy read workloads. */
  def compact(spark: SparkSession, workDir: String): Unit =
    stageFold(spark, workDir)
      .foreach(StoreFiles.swap(spark, StoreFiles.swapMarker(workDir), _))

  /** Write the merged view to `latest_staging/` and return the swap that
    * moves it over `latest/` and then drops the folded deltas (oldest
    * first); None without deltas. */
  private[graft] def stageFold(spark: SparkSession, workDir: String)
      : Option[StoreFiles.Swap] = {
    val deltaDirs = listDeltaDirs(spark, workDir)
    if (deltaDirs.isEmpty) return None
    val fs = StoreFiles.fs(spark, workDir)
    val tail = resolveTail(spark, workDir, deltaDirs)
    val merged =
      if (!fs.exists(new Path(latestDir(workDir)))) tail
      else {
        // the tail's key set is epochs × admissions: Spark plans the
        // anti-join by its size, a broadcast (the resolved store streams
        // through a scan) until it outgrows the broadcast threshold
        readResolved(spark, workDir)
          .join(tail.select(col("url_hash")), Seq("url_hash"), "left_anti")
          .unionByName(tail)
      }
    val staging = stagingDir(workDir)
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    Some(StoreFiles.Swap(Seq(staging -> latestDir(workDir)), deltaDirs))
  }

  /** The latest-row-wins pointer view. Plan shape: resolved scan when the
    * tail is empty; otherwise resolved LEFT ANTI broadcast(tail keys) ∪
    * tail-resolved — the store is scanned, never shuffled, and there is
    * no Window anywhere. */
  def read(spark: SparkSession, workDir: String): DataFrame = {
    val fs = StoreFiles.fs(spark, workDir)
    val hasResolved = fs.exists(new Path(latestDir(workDir)))
    val deltaDirs = listDeltaDirs(spark, workDir)
    require(hasResolved || deltaDirs.nonEmpty,
      s"no latest view under $workDir — run the crawl first")
    val tailOpt =
      if (deltaDirs.isEmpty) None
      else Some(resolveTail(spark, workDir, deltaDirs))
    (tailOpt, hasResolved) match {
      case (None, _) => readResolved(spark, workDir)
      case (Some(tail), false) => tail
      case (Some(tail), true) =>
        readResolved(spark, workDir)
          .join(broadcast(tail.select(col("url_hash"))), Seq("url_hash"), "left_anti")
          .unionByName(tail)
    }
  }
}
