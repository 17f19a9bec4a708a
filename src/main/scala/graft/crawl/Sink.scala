package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.fs.StoreFiles

/** Storage abstraction for every crawl-side sink (payload, lineage,
  * metrics, seen deltas, carried work). The crawl loop only talks
  * to this trait, so an Iceberg-backed implementation (the north rule's
  * nominal sink; no Iceberg runtime ships in this container) is a drop-in:
  * implement the six writes with `writeTo(table).overwritePartitions()`
  * and the epoch commit marker becomes the snapshot commit. */
trait PayloadStore extends Serializable {
  /** Write one epoch's fetch results. `epoch` is the commit unit: a
    * snapshot-logging store (graft.sources.SnapshotPayloadSink) commits
    * one table snapshot per epoch under it. */
  def writePayload(results: Dataset[FetchResult], workDir: String, epoch: Int): Unit
  def writeLineage(l: Dataset[PartitionLineage], workDir: String, epoch: Int): Unit
  def writeMetrics(m: EpochMetrics, workDir: String, spark: SparkSession): Unit
  /** Seen delta: success-only (url_hash, host_bucket) rows for `epoch`. */
  def writeSeenDelta(delta: DataFrame, workDir: String, epoch: Int): Unit
  /** Carried work for the next epoch: the deferred and failed rows in
    * KeyedUrl columns, written as ONE table that replaces `dir`. */
  def writeCarry(carry: DataFrame, dir: String): Unit
}

/** Partitioned-parquet implementation of [[PayloadStore]] (SURVEY.md §2.1
  * S6-S9). The reference's court/year/month file tree *is* its partition
  * spec (service/DocumentDownloadService.java:197-207); ours is explicit
  * `(host_bucket, crawl_epoch)` partitioned parquet — the Iceberg layout
  * from BASELINE.json minus the catalog; the write path is identical:
  * partitioned columnar append + an atomic per-epoch commit marker
  * standing in for the snapshot.
  *
  * Idempotent replay: every epoch writes with dynamic partition overwrite,
  * so re-running an epoch after a crash replaces exactly its own
  * partitions (crawl_epoch=e) — the Iceberg-snapshot equivalent that makes
  * resume-from-checkpoint exactly-once (SURVEY.md §2.9 ST4, §7.5.5).
  */
object PayloadSink extends PayloadStore {

  /** Append this epoch's results under payload/, partitioned
    * (host_bucket, crawl_epoch). `n_bytes` is materialized at write time
    * so every downstream metadata aggregation (lineage, metrics, stats)
    * reads a long column instead of re-scanning the binary payload. */
  def writePayload(results: Dataset[FetchResult], workDir: String, epoch: Int): Unit = {
    val spark = results.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // r06: REBALANCE on the partition key before the partitioned write
    // (guide §6) — the fetch output arrives host-partitioned, so every
    // task held rows of up to `buckets` partition dirs: one file per
    // (task × dir) — ~tasks×buckets small files per epoch — plus a
    // by-partition-key sort of the payload rows inside every task
    // (FileFormatWriter's single-writer path; a sampled hot frame). The
    // AQE rebalance clusters rows by host_bucket at the advisory size,
    // SPLITTING the Zipf-hot bucket instead of making it a straggler
    // (plain repartition(host_bucket) would), so each task writes ~one
    // right-sized file and the writer-side sort sees already-equal keys.
    payloadFrame(results)
      .hint("rebalance", col("host_bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("host_bucket", "crawl_epoch")
      .parquet(s"$workDir/payload")
  }

  /** The exact frame the payload write persists — exposed so a
    * snapshot-logging store can record its read-back schema in the
    * manifest (an all-reject epoch 0 writes zero files; without a
    * recorded schema an empty-snapshot read has nothing to infer from). */
  def payloadFrame(results: Dataset[FetchResult]): DataFrame =
    results.toDF()
      .select(col("image_id"), col("bytes"),
        coalesce(length(col("bytes")).cast("long"), lit(0L)).as("n_bytes"),
        col("w"), col("h"), col("fmt"), col("caption"), col("phash"),
        col("url_hash"), col("url_canon"), col("host"), col("slot"),
        col("status"), col("psnr"), col("reject_reason"),
        col("mean_luma"), col("std_luma"), col("edge_energy"),
        col("host_bucket"), col("crawl_epoch"))

  /** Schema of the payload table as read back from `payload/`: the
    * [[payloadFrame]] columns with the partition columns last. */
  val schema: StructType = StructType.fromDDL(
    "image_id STRING, bytes BINARY, n_bytes BIGINT, w INT, h INT, fmt STRING, " +
      "caption STRING, phash BIGINT, url_hash BIGINT, url_canon STRING, host STRING, " +
      "slot INT, status STRING, psnr DOUBLE, reject_reason STRING, mean_luma DOUBLE, " +
      "std_luma DOUBLE, edge_energy DOUBLE, host_bucket INT, crawl_epoch INT")

  /** This epoch's leaf dirs `host_bucket=b/crawl_epoch=epoch` under
    * `payload/`, probed per bucket: O(buckets), never a tree listing. */
  def epochLeaves(spark: SparkSession, workDir: String, buckets: Int,
      epoch: Int): Seq[String] = {
    val fs = StoreFiles.fs(spark, workDir)
    (0 until buckets).map(b => s"host_bucket=$b/crawl_epoch=$epoch")
      .filter(l => fs.exists(new Path(s"$workDir/payload/$l")))
  }

  /** Per-(epoch, host_bucket) lineage from the WRITTEN payload frame
    * (columns: host_bucket, slot, url_hash, n_bytes): which partition wrote
    * what. Computed post-write so the binary column never needs caching.
    * `n_hosts` counts the `slot = 1` rows: the politeness stage numbers
    * each admitted host's rows 1..budget in one run (Politeness.schedule)
    * and every admitted row is written, so each host in the bucket has
    * exactly one such row — the exact distinct-host count without a
    * distinct aggregate. */
  def lineage(written: org.apache.spark.sql.DataFrame, epoch: Int): Dataset[PartitionLineage] = {
    val spark = written.sparkSession
    import spark.implicits._
    written
      .groupBy(col("host_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_bytes")).as("n_bytes"),
        count(when(col("slot") === 1, 1)).as("n_hosts"),
        min(col("url_hash")).as("min_url_hash"),
        max(col("url_hash")).as("max_url_hash"))
      .select(graft.expressions.ParamLit.int(epoch).as("epoch"),
        col("host_bucket").cast("int").as("host_bucket"),
        col("n_rows"), col("n_bytes"), col("n_hosts"),
        col("min_url_hash"), col("max_url_hash"))
      .as[PartitionLineage]
  }

  def writeLineage(l: Dataset[PartitionLineage], workDir: String, epoch: Int): Unit =
    l.write.mode(SaveMode.Overwrite).parquet(s"$workDir/lineage/epoch=$epoch")

  def writeMetrics(m: EpochMetrics, workDir: String, spark: SparkSession): Unit = {
    import spark.implicits._
    Seq(m).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$workDir/metrics/epoch=${m.epoch}")
  }

  def writeSeenDelta(delta: DataFrame, workDir: String, epoch: Int): Unit =
    delta.write.mode(SaveMode.Overwrite).parquet(s"$workDir/seen/epoch=$epoch")

  def writeCarry(carry: DataFrame, dir: String): Unit =
    carry.write.mode(SaveMode.Overwrite).parquet(dir)
}
