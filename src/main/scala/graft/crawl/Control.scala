package graft.crawl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.fs.StoreFiles

/** Cooperative pause / cancel control surface — the reference polls
  * pause/cancel flags from the progress store between dates and exposes
  * pause/resume/cancel APIs (service/BulkCrawlerService.java:155-241,
  * 435-464). Spark restatement: flag FILES under `workDir/_control/`,
  * polled by the epoch loop between epochs (the epoch is the date
  * analogue — SURVEY.md §3.3). Any process with store access can raise a
  * flag; the driver honors it at the next epoch boundary:
  *
  *  - **pause**: the loop stops committing and returns; the store keeps
  *    every committed epoch. [[resume]] clears the flag and a fresh
  *    `CrawlLoop.run` continues from the checkpoint (reference PAUSED →
  *    resume re-registers and continues).
  *  - **cancel**: the loop writes a terminal `crawl.CANCELLED.json` marker
  *    (reference marks the operation CANCELLED via the same path its
  *    watchdog uses for FAILED) and returns. The store stays RESUMABLE:
  *    clearing the flag and re-running reproduces the uninterrupted crawl
  *    (CrawlSpec asserts exactly that).
  */
object CrawlControl {

  sealed trait State
  case object Running extends State
  case object Paused extends State
  case object Cancelled extends State

  private def ctrl(workDir: String, name: String) = new Path(s"$workDir/_control/$name")

  private def touch(spark: SparkSession, workDir: String, name: String): Unit =
    StoreFiles.writeJson(spark, ctrl(workDir, name).toString, Seq("flag" -> name))

  def requestPause(spark: SparkSession, workDir: String): Unit =
    touch(spark, workDir, "pause")

  def requestCancel(spark: SparkSession, workDir: String): Unit =
    touch(spark, workDir, "cancel")

  /** Clear both flags — the resume/acknowledge step. */
  def resume(spark: SparkSession, workDir: String): Unit = {
    val f = StoreFiles.fs(spark, workDir)
    f.delete(ctrl(workDir, "pause"), false)
    f.delete(ctrl(workDir, "cancel"), false)
  }

  /** Poll the flags (cancel wins over pause, as in the reference's
    * cancellation check preceding the pause wait loop). */
  def poll(spark: SparkSession, workDir: String): State = {
    val f = StoreFiles.fs(spark, workDir)
    if (f.exists(ctrl(workDir, "cancel"))) Cancelled
    else if (f.exists(ctrl(workDir, "pause"))) Paused
    else Running
  }

  /** Terminal cancelled marker (idempotent). */
  private[crawl] def writeCancelledMarker(spark: SparkSession, workDir: String,
      atEpoch: Int): Unit =
    StoreFiles.writeJson(spark, s"$workDir/_commits/crawl.CANCELLED.json",
      Seq("status" -> "CANCELLED", "before_epoch" -> atEpoch))
}
