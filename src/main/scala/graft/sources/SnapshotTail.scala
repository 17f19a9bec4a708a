package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Resumable incremental consumer over a [[SnapshotLog]] — the
  * streaming-read analogue of Iceberg's `stream-from-timestamp` scan and
  * the read-side twin of the crawl loop's own batch-incremental design
  * (ST2/ST4: scheduled micro-batches + checkpointed resume). A downstream
  * job (an indexer, a feature backfill, a replication sink) calls
  * [[poll]] on its cadence; each poll hands it EXACTLY the rows appended
  * since the last acknowledged snapshot, and [[ack]] durably advances the
  * cursor only after the consumer's own write committed — crash anywhere
  * and the next poll replays the same delta (at-least-once; exactly-once
  * when the consumer's sink is idempotent, the same contract the crawl
  * loop's epoch replay gives).
  *
  * The cursor is one tiny atomic file (`<dir>/cursor`), written
  * temp-then-rename like every other commit marker in the engine; no
  * state lives in the JVM, so consumers are freely restartable and
  * relocatable — the cluster-native shape of a "tail -f the table" loop.
  *
  * Scale: a poll costs two manifest reads + the delta's file listing
  * (O(files appended since the cursor)); the data job reads ONLY the
  * appended files — never the table. Rewrites/rollbacks inside the
  * un-consumed range surface as the [[SnapshotLog.changes]] non-append
  * error rather than silent double-delivery; the consumer resolves by
  * re-basing (catch, full re-read, ack head) exactly as an Iceberg
  * streaming reader must.
  */
final class SnapshotTail(log: SnapshotLog, cursorDir: String, conf: Configuration) {

  private def fs = graft.fs.StoreFiles.fs(conf, cursorDir)
  private def cursorPath = new Path(cursorDir, "cursor")

  /** Last acknowledged snapshot id, or None before the first ack. */
  def committed(): Option[Long] = {
    val f = fs
    if (!f.exists(cursorPath)) None
    else {
      val in = f.open(cursorPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Some(s.toLong)
    }
  }

  /** The un-consumed delta: rows appended after the cursor, up to and
    * including the current head — plus the head id to [[ack]] once the
    * consumer's own write has committed. None when fully caught up (or
    * the log is still empty). First poll (no cursor) returns the full
    * table at the head snapshot: the bootstrap read. */
  def poll(spark: SparkSession): Option[(DataFrame, Long)] = {
    val head = log.currentId().getOrElse(return None)
    committed() match {
      case None => Some((log.read(spark, head), head))
      case Some(c) if c >= head => None
      case Some(c) => Some((log.changes(spark, c, head), head))
    }
  }

  /** Durably advance the cursor to `snapshotId` (temp-then-rename, the
    * engine's marker protocol). Call ONLY after the consumer's own write
    * for that delta committed. */
  def ack(snapshotId: Long): Unit = {
    val f = fs
    f.mkdirs(new Path(cursorDir))
    val tmp = new Path(cursorDir, s".cursor-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(snapshotId.toString.getBytes("UTF-8")) finally out.close()
    // last-writer-wins swap: delete + rename (single-consumer cursor; a
    // competing consumer group would keep its own cursorDir)
    f.delete(cursorPath, false)
    if (!f.rename(tmp, cursorPath))
      throw new IllegalStateException(s"cursor swap failed under $cursorDir")
  }
}
