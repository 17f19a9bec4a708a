package graft.fs

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.Json

/** Every metadata write of the crawl store: the file-system handle, JSON
  * marker files, and the one crash-safe swap every store rewrite uses.
  * A swap installs staged directories: publish a marker listing moves and
  * drops (the commit point), run each move whose staged path still exists
  * (delete the target, rename over it), delete the drops, then the marker.
  * Each step is idempotent, so [[recover]] re-running a pending marker
  * finishes a swap killed anywhere; drops run after every move and never
  * name a move target, so nothing is deleted before its replacement is in
  * place. */
object StoreFiles {

  def fs(conf: Configuration, path: String): FileSystem = new Path(path).getFileSystem(conf)
  def fs(spark: SparkSession, path: String): FileSystem =
    fs(spark.sparkContext.hadoopConfiguration, path)

  /** The names under directory `dir` (one listing); empty when it does not
    * exist. */
  def list(spark: SparkSession, dir: String): Seq[String] =
    try fs(spark, dir).listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  private val EpochDir = "epoch=(\\d+)".r

  /** The N of every `epoch=N` directory under `dir`, ascending. */
  def epochs(spark: SparkSession, dir: String): Seq[Int] =
    list(spark, dir).collect { case EpochDir(n) => n.toInt }.sorted

  /** The existing `dir/epoch=N` directories with N < `below`, ascending. */
  def epochDirs(spark: SparkSession, dir: String, below: Int = Int.MaxValue): Seq[String] =
    epochs(spark, dir).filter(_ < below).map(e => s"$dir/epoch=$e")

  /** `staged → target` moves, then paths to drop. */
  final case class Swap(moves: Seq[(String, String)], drops: Seq[String])

  /** The marker every rewrite of the crawl store at `workDir` swaps under.
    * One path suffices: rewrites run one at a time on the driver, and
    * [[begin]] refuses to start while a marker is pending. */
  def swapMarker(workDir: String): String = s"$workDir/_commits/swap.json"

  /** Write a JSON object (a [[graft.Json]] field list) to `path` in place. */
  def writeJson(spark: SparkSession, path: String, fields: Seq[(String, Any)]): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(Json.write(fields).getBytes(UTF_8)) finally out.close()
  }

  /** [[writeJson]] to a temp sibling, then rename it over `path`: a reader
    * sees the whole file or no file, never a partial one. */
  def publishJson(spark: SparkSession, path: String, fields: Seq[(String, Any)]): Unit = {
    val p = new Path(path)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    writeJson(spark, tmp.toString, fields)
    replace(fs(spark, path), tmp, p)
  }

  /** The parsed JSON file at `path`, or None when it does not exist. */
  def readJson(spark: SparkSession, path: String): Option[JsonNode] = {
    val f = fs(spark, path)
    if (!f.exists(new Path(path))) None
    else {
      val in = f.open(new Path(path))
      try Some(Json.parse(new String(in.readAllBytes(), UTF_8))) finally in.close()
    }
  }

  /** Install a staged rewrite under `marker`. */
  def swap(spark: SparkSession, marker: String, s: Swap): Unit = {
    begin(spark, marker, s)
    recover(spark, marker)
  }

  /** Publish the marker alone: the swap is committed, [[recover]] applies it. */
  private[graft] def begin(spark: SparkSession, marker: String, s: Swap): Unit = {
    val targets = s.moves.map(_._2).toSet
    require(!s.drops.exists(targets), s"swap drops its own move target: ${s.drops.filter(targets)}")
    require(!fs(spark, marker).exists(new Path(marker)),
      s"a swap is pending at $marker; recover it first")
    publishJson(spark, marker, Seq(
      "moves" -> Json.Arr(s.moves.map { case (from, to) => Seq("from" -> from, "to" -> to) }),
      "drops" -> Json.Arr(s.drops)))
  }

  /** Finish the swap pending at `marker`; false when none is. */
  def recover(spark: SparkSession, marker: String): Boolean =
    readJson(spark, marker) match {
      case None => false
      case Some(m) =>
        val f = fs(spark, marker)
        m.get("moves").elements.asScala.foreach { mv =>
          val from = new Path(mv.get("from").asText)
          if (f.exists(from)) replace(f, from, new Path(mv.get("to").asText))
        }
        m.get("drops").elements.asScala.foreach(d => f.delete(new Path(d.asText), true))
        f.delete(new Path(marker), false)
        true
    }

  /** Delete `to`, then rename `from` over it (a Hadoop rename onto an
    * existing directory would nest `from` inside it instead). */
  private def replace(f: FileSystem, from: Path, to: Path): Unit = {
    f.delete(to, true)
    f.mkdirs(to.getParent)
    if (!f.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
  }
}
