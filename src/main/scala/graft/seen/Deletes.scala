package graft.seen

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.fs.StoreFiles

/** S10 delete pipeline for the URL-seen store (reference:
  * SolrDocumentRepository.deleteById/deleteByQuery,
  * repository/SolrDocumentRepository.java:159-203). A deleted URL must
  * become re-crawlable on the next epoch.
  *
  * Merge-on-read with the payload table's sequence-number rule
  * (`SnapshotLog.applyDeletes`, Iceberg equality deletes):
  *
  *  - [[delete]] appends the hashes under `seen_tombstones/seq=<s>`, where
  *    `s` is one more than the newest `seen/epoch=N` present. A tombstone
  *    hides only rows written before it, so a URL re-crawled after its
  *    delete is seen again.
  *  - [[read]] is the seen view: one `left_anti` join on `url_hash` under
  *    `epoch < seq`, which Spark plans as a broadcast or a shuffle join.
  *  - [[consolidate]] is the one rewrite of the seen store: it merges the
  *    epoch dirs with the tombstones applied and drops the tombstones that
  *    can hide nothing outside the merge, in one [[StoreFiles.swap]].
  */
object SeenDeletes {

  private def tombDir(workDir: String) = s"$workDir/seen_tombstones"
  private val SeqDir = "seq=(\\d+)".r

  /** Schemas of the seen dirs (read with their `epoch` partition column)
    * and of the tombstone dirs: declared, because inferring them runs a
    * footer-reading job on every read. */
  private[graft] val SeenSchema = StructType.fromDDL("url_hash BIGINT, host_bucket INT, epoch INT")
  private[graft] val TombSchema = StructType.fromDDL("url_hash BIGINT, seq INT")

  /** Tombstone the given url_hashes (column "url_hash") for every seen row
    * written so far. Idempotent; returns the number of hashes. */
  def delete(spark: SparkSession, workDir: String, hashes: DataFrame): Long = {
    val hs = hashes.select(col("url_hash").cast("long").as("url_hash"))
    val n = hs.count()
    if (n > 0L) {
      val seq = StoreFiles.epochs(spark, s"$workDir/seen").lastOption.fold(0)(_ + 1)
      hs.write.mode(SaveMode.Append).parquet(s"${tombDir(workDir)}/seq=$seq")
    }
    n
  }

  /** The rows of the seen dirs `dirs` (`seen/epoch=N`) that no later
    * tombstone hides, as (url_hash, host_bucket). */
  private[graft] def read(spark: SparkSession, workDir: String, dirs: Seq[String]): DataFrame = {
    val seen = spark.read.schema(SeenSchema).option("basePath", s"$workDir/seen")
      .parquet(dirs: _*)
    val live =
      if (StoreFiles.list(spark, tombDir(workDir)).isEmpty) seen
      else {
        val tombs = spark.read.schema(TombSchema).parquet(tombDir(workDir))
          .select(col("url_hash").as("tomb_hash"), col("seq"))
        seen.join(tombs,
          col("url_hash") === col("tomb_hash") && col("epoch") < col("seq"), "left_anti")
      }
    live.select(col("url_hash"), col("host_bucket"))
  }

  // ---- seen-store consolidation (small-files maintenance) ----------------
  // A long crawl accumulates one seen/epoch=N directory per epoch; at 10^4+
  // epochs the per-epoch file listing and tiny-file reads dominate readSeen.
  // Consolidation merges all epochs-so-far into the highest epoch directory
  // with one StoreFiles.swap, so no crash point loses membership.

  /** Merge the seen dirs `seen/epoch=e` (e < uptoEpoch) into the highest
    * one, tombstones applied, and drop every tombstone dir with
    * `seq ≤ uptoEpoch`: such a tombstone hides only rows of the merged
    * dirs. Membership-identical; a no-op with fewer than 2 dirs and no such
    * tombstones. The merge is a plain rewrite, no distinct: the epoch loop
    * writes each key to the store once (a seen delta holds only keys the
    * store lacks), and a tombstone hides a re-crawled key's older row. */
  def consolidate(spark: SparkSession, workDir: String, uptoEpoch: Int): Unit =
    stageConsolidation(spark, workDir, uptoEpoch)
      .foreach(StoreFiles.swap(spark, StoreFiles.swapMarker(workDir), _))

  /** Write the merged store to seen/.consolidate.tmp and return the swap
    * that installs it; None when there is nothing to merge or apply. */
  private[graft] def stageConsolidation(spark: SparkSession, workDir: String,
      uptoEpoch: Int): Option[StoreFiles.Swap] = {
    val dirs = StoreFiles.epochDirs(spark, s"$workDir/seen", uptoEpoch)
    val spent = StoreFiles.list(spark, tombDir(workDir))
      .collect { case d @ SeqDir(s) if s.toInt <= uptoEpoch => s"${tombDir(workDir)}/$d" }
    if (dirs.isEmpty || (dirs.size < 2 && spent.isEmpty)) return None
    val tmp = s"$workDir/seen/.consolidate.tmp"
    read(spark, workDir, dirs).write.mode(SaveMode.Overwrite).parquet(tmp)
    Some(StoreFiles.Swap(Seq(tmp -> dirs.last), dirs.init ++ spent))
  }

}
