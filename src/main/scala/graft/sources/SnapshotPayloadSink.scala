package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.crawl.{EpochMetrics, FetchResult, PartitionLineage, PayloadSink, PayloadStore}

/** [[graft.crawl.PayloadStore]] that delegates all data writes to
  * [[graft.crawl.PayloadSink]] and additionally commits one
  * [[SnapshotLog]] snapshot per payload epoch — the Iceberg-shaped sink
  * S6 names (SURVEY.md §2.1; the reference archives documents to an
  * Iceberg table whose snapshot is its crawl-date commit unit).
  *
  * Drop-in: `CrawlLoop.run(spark, cfg, store = new SnapshotPayloadSink
  * (cfg.buckets))`. The epoch commit lists only the leaf partition dirs
  * the epoch touched — O(files-per-epoch), same flat-cost discipline as
  * the loop's touched-bucket read-back. Replayed epochs (crash resume)
  * supersede their own partitions in the new snapshot, mirroring the
  * loop's dynamic-partition-overwrite idempotence at the metadata level.
  */
class SnapshotPayloadSink(buckets: Int) extends PayloadStore {

  def log(workDir: String, spark: SparkSession): SnapshotLog =
    new SnapshotLog(s"$workDir/payload", spark.sparkContext.hadoopConfiguration)

  def writePayload(results: Dataset[FetchResult], workDir: String, epoch: Int): Unit = {
    PayloadSink.writePayload(results, workDir, epoch)
    val spark = results.sparkSession
    val leaves = PayloadSink.epochLeaves(spark, workDir, buckets, epoch)
    // commit() itself supersedes carried entries under the added leaves,
    // which is what makes a replayed epoch idempotent at the metadata level.
    // The read-back schema (partition columns last, their original types)
    // rides in the manifest so an all-reject epoch — zero data files —
    // still reads back as a typed empty frame.
    val base = PayloadSink.payloadFrame(results).schema
    val parts = Seq("host_bucket", "crawl_epoch")
    val readBack = org.apache.spark.sql.types.StructType(
      base.filterNot(f => parts.contains(f.name)) ++ parts.map(base(_)))
    log(workDir, spark).commit(s"append-epoch-$epoch", leaves,
      schema = Some(readBack))
  }

  def writeLineage(l: Dataset[PartitionLineage], workDir: String, epoch: Int): Unit =
    PayloadSink.writeLineage(l, workDir, epoch)
  def writeMetrics(m: EpochMetrics, workDir: String, spark: SparkSession): Unit =
    PayloadSink.writeMetrics(m, workDir, spark)
  def writeSeenDelta(delta: DataFrame, workDir: String, epoch: Int): Unit =
    PayloadSink.writeSeenDelta(delta, workDir, epoch)
  def writeCarry(carry: DataFrame, dir: String): Unit =
    PayloadSink.writeCarry(carry, dir)
}
