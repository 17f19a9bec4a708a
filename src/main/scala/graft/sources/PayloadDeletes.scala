package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** S10's document-delete sinks over the snapshot payload table — the
  * reference's `deleteById` / `deleteByQuery` / `deleteAll`
  * (`repository/SolrDocumentRepository.java:159-203`) re-expressed as the
  * Iceberg `DELETE FROM` SURVEY §2.1 names as S10's nominal mapping:
  * row-level equality deletes on [[SnapshotLog]], merged-on-read until
  * [[vacuum]] materializes them.
  *
  * Division of labor inside S10: `graft.seen.SeenDeletes` removes keys
  * from the URL-SEEN set (sequence-numbered tombstones, the same
  * merge-on-read rule as this table's) so a purged document becomes
  * re-crawlable; THIS object removes the stored document rows themselves
  * from the payload table. The two compose into
  * the reference's full delete semantics (document gone from the store,
  * URL re-admitted by the frontier).
  *
  * Scale: the key frame never lands on the driver — `deleteByIds` hands
  * it straight to [[SnapshotLog.commitDeletes]] (distributed parquet
  * write + O(1) metadata commit), and `deleteWhere` evaluates the
  * predicate as a distributed scan of the head snapshot. A 10^8-key
  * purge costs one parquet write; readers pay one anti-join until the
  * next vacuum.
  */
object PayloadDeletes {

  private def log(workDir: String, spark: SparkSession): SnapshotLog =
    new SnapshotLog(s"$workDir/payload",
      spark.sparkContext.hadoopConfiguration)

  /** `deleteById` (bulk): remove every stored version of the given
    * document ids. `ids` must have a single `image_id` column (extra
    * columns are projected away). Documents re-crawled AFTER this call
    * re-appear — exactly the sequence-number semantics a delete-then-
    * re-fetch needs. Returns the delete snapshot id. */
  def deleteByIds(spark: SparkSession, workDir: String, ids: DataFrame): Long = {
    require(ids.columns.contains("image_id"),
      s"deleteByIds wants an image_id column, got [${ids.columns.mkString(", ")}]")
    log(workDir, spark).commitDeletes(spark, ids.select("image_id").distinct())
  }

  /** `deleteByQuery`: remove every document the predicate matches at the
    * CURRENT head (evaluated once, as a distributed scan — the key set is
    * frozen at call time, like a Solr deleteByQuery snapshot). */
  def deleteWhere(spark: SparkSession, workDir: String, predicate: Column): Long = {
    val l = log(workDir, spark)
    l.commitDeletes(spark,
      l.readLatest(spark).filter(predicate).select("image_id").distinct())
  }

  /** Snapshot-consistent read of the payload table with deletes applied
    * (what a store reader should use instead of the raw parquet path once
    * deletes are in play). */
  def readLatest(spark: SparkSession, workDir: String): DataFrame =
    log(workDir, spark).readLatest(spark)

  /** Materialize outstanding deletes and expire superseded snapshots:
    * returns ((partitionsRewritten, deleteEntriesDropped),
    * (manifestsExpired, dataFilesReclaimed)). After this the head read is
    * a pure scan and purged documents are physically gone — the
    * `deleteAll`-grade cleanup pass. */
  def vacuum(spark: SparkSession, workDir: String,
      keepLast: Int = 2): ((Int, Int), (Int, Int)) = {
    val l = log(workDir, spark)
    val mat = l.materializeDeletes(spark)
    (mat, l.expire(keepLast))
  }

  /** Convenience: purge documents of an entire host (a takedown request
    * shape — the reference's deleteByQuery("host:...") analogue). */
  def deleteHost(spark: SparkSession, workDir: String, host: String): Long =
    deleteWhere(spark, workDir, col("host") === host)
}
