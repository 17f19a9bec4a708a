package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

object ReadsideWorkload {
  /** Every `SparkEntry.queries` entry, by its short id, in exactly one
    * family. Checked against the live entry table on every run. */
  val Families: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08",
      "q09", "q10", "q11", "q12", "q13", "q15", "q16", "q18", "q25", "q32", "q33",
      "q37", "q43", "q49", "q53", "q59", "q62", "q81", "q82", "q83"),
    "text" -> Seq("q17", "q19", "q20", "q21", "q22", "q23", "q34", "q35", "q40",
      "q44", "q45", "q46", "q47", "q50", "q52", "q64", "q66", "q69", "q70", "q73",
      "q74", "q75", "q76"),
    "near_dup" -> Seq("q24", "q26", "q27", "q28", "q29", "q30", "q31", "q38",
      "q39", "q41", "q42", "q48", "q51", "q60", "q63", "q65", "q78", "q79", "q80"),
    "sketch_stream" -> Seq("q14", "q36", "q54", "q55", "q56", "q57", "q58", "q61",
      "q67", "q68", "q71", "q72", "q77"),
    "crawl_tables" -> (1 to 19).map(i => f"c$i%02d"),
    "snapshot" -> Seq("c20", "c21", "c22"))

  val FamilyOf: Map[String, String] =
    for ((f, ids) <- Families; id <- ids) yield id -> f

  /** Entries timed on every run: cheap entries of each family that needs
    * no crawl fixture. */
  val Timed: Seq[String] = Seq("q01", "q40", "q70", "q24", "q14", "c01")

  /** Entries added in traced runs only: the named heavy entries and the
    * families that read the crawl fixture (built there, untimed). */
  val TracedExtra: Seq[String] = Seq("q27", "q41", "q53", "q56", "q60", "q64",
    "q79", "q83", "c22")

  /** Entries reported one by one in traced runs. */
  val Named: Seq[String] = Seq("q27", "q40", "q41", "q53", "q56", "q60", "q64",
    "q70", "q79", "q83", "c22")

  /** One timed execution of an entry. */
  final case class Sample(id: String, startMs: Double, endMs: Double,
      traced: Boolean) {
    def s: Double = (endMs - startMs) / 1000.0
  }

  final case class EntryStats(id: String, wallS: Double, jobs: Double, tasks: Double,
      runS: Double, gapS: Double)

  /** Order-insensitive digest of a result: row count and the wrapping sum
    * of a 64-bit hash of each row's canonical text. Doubles are rounded to
    * 9 significant digits, so summation order does not change the digest. */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "~"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.8e"
      case f: Float => canon(f.toDouble)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0xbeef).toLong & 0xffffffffL)
      sum += h
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}

/** The read-side workload: one client (the benchmark's main thread) runs one
  * `SparkEntry.queries` entry at a time into the `noop` sink, in passes
  * over a fixed entry set whose order the seed shuffles. */
final class ReadsideWorkload(spark: SparkSession, o: Opts, rec: Record) {
  import ReadsideWorkload._

  private val byId: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.map { case (name, fn) => name.takeWhile(_ != '_') -> fn }

  private def noop(id: String): Unit =
    byId(id)(spark, o.data).write.format("noop").mode("overwrite").save()

  /** Times one entry into the noop sink; None when it throws. */
  private def timeEntry(id: String, traced: Boolean): Option[Sample] = {
    rec.attempted += 1
    val s = Clock.ms()
    try {
      noop(id)
      Some(Sample(id, s, Clock.ms(), traced))
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] $id failed: $t")
        rec.failed += 1
        None
    }
  }

  /** Collects each entry once and records its result digest for the
    * output check. */
  private def collectDigests(ids: Seq[String]): Unit = ids.foreach { id =>
    try rec.info(s"readside.digest.$id", digest(byId(id)(spark, o.data).collect()))
    catch {
      case t: Throwable =>
        rec.check(s"readside.$id.runs", ok = false, t.toString)
    }
  }

  def run(): Unit = {
    // every entry in exactly one family
    val ids = byId.keySet
    val assigned = Families.values.flatten.toSeq
    rec.check("readside.families_cover_entries",
      assigned.toSet == ids && assigned.size == ids.size,
      s"entries=${ids.size} assigned=${assigned.size} " +
        s"missing=${(ids -- assigned).toSeq.sorted.mkString(",")} " +
        s"unknown=${(assigned.toSet -- ids).toSeq.sorted.mkString(",")}")

    // ---- set-up: two untimed warm-up passes, the first of which is also
    // the output check (after a single warm-up pass the first timed pass
    // was measurably slower than later ones)
    collectDigests(Timed)
    Timed.foreach(id => scala.util.Try(noop(id)))

    // ---- timed region: whole passes until --seconds have passed
    val trace = new Trace(spark)
    val rnd = new scala.util.Random(o.seed)
    val samples = ArrayBuffer.empty[Sample]
    val passWalls = ArrayBuffer.empty[(Double, Boolean)]
    val minPasses = if (o.trace) 2 else 1
    rec.mark("timed", o.launchMs)
    val t0 = Clock.ms()
    rec.metric("setup_s", (t0 - o.launchMs) / 1000.0, "s")
    HeapPeak.open()
    val cpu0 = Stats.processCpuS()
    var pass = 0
    while (pass < minPasses || Clock.ms() - t0 < o.seconds * 1000) {
      // traced run: even passes carry the listeners, odd ones do not
      val traced = o.trace && pass % 2 == 0
      if (traced) trace.on()
      val p0 = Clock.ms()
      rnd.shuffle(Timed).foreach(id => samples ++= timeEntry(id, traced))
      passWalls += (((Clock.ms() - p0) / 1000.0, traced))
      if (traced) trace.off()
      pass += 1
    }
    val cpuS = Stats.processCpuS() - cpu0
    val heapMb = HeapPeak.close()
    val wall = passWalls.map(_._1).sum
    rec.metric("op_latency_s_p50", Stats.median(samples.map(_.s).toSeq), "s")
    rec.metric("throughput_per_s", Stats.ratio(samples.size, wall), "1/s")
    rec.metric("cpu_s_per_op", Stats.ratio(cpuS, samples.size), "s")
    rec.metric("readside.heap_peak_mb", heapMb, "MB")
    rec.info("readside.passes", pass)
    rec.info("readside.samples", samples.size)

    if (o.trace) {
      rec.mark("traced_extra", o.launchMs)
      // the crawl fixture, then one traced execution of each traced-only
      // entry; it collects the result for the output check, and it is a
      // first (cold) execution, to keep the traced run well inside 180 s
      val f0 = Clock.ms()
      graft.readside.CrawlQueries.warmFixture(spark)
      rec.metric("readside.fixture_s", (Clock.ms() - f0) / 1000.0, "s")
      trace.on()
      TracedExtra.foreach { id =>
        val s = Clock.ms()
        collectDigests(Seq(id))
        samples += Sample(id, s, Clock.ms(), traced = true)
      }
      trace.off()
      layerMetrics(trace, samples.toSeq, passWalls.toSeq)
    }
  }

  private def layerMetrics(trace: Trace, samples: Seq[Sample],
      passWalls: Seq[(Double, Boolean)]): Unit = {
    val timed = samples.filter(s => Timed.contains(s.id))
    rec.metric("readside.query_s_p90", Stats.quantile(timed.map(_.s), 0.9), "s")
    rec.metric("readside.read_pass_s", Stats.median(passWalls.map(_._1)), "s")
    val on = passWalls.filter(_._2).map(_._1)
    val off = passWalls.filterNot(_._2).map(_._1)
    rec.metric("trace_overhead_frac",
      if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on) / Stats.median(off) - 1, "ratio")

    val traced = samples.filter(_.traced).map { s =>
      val root = rec.span(0, s"entry ${s.id}", s.startMs, s.endMs, "entry")
      val jobs = trace.jobsIn(s.startMs, s.endMs)
      jobs.foreach(j => rec.span(root, s"job ${j.id}", j.startMs, j.endMs, "job"))
      val covered = Stats.covered(jobs.map(j => (j.startMs, j.endMs))) / 1000.0
      EntryStats(s.id, s.s, jobs.size, jobs.map(_.tasks).sum.toDouble,
        jobs.map(_.runMs).sum / 1000.0, s.s - covered)
    }
    val cores = o.cores.toDouble
    Families.keys.toSeq.sorted.foreach { f =>
      val es = traced.filter(e => FamilyOf(e.id) == f)
      def m(name: String, v: Double, unit: String) =
        rec.metric(s"readside.$f.$name", v, unit)
      m("wall_s", Stats.mean(es.map(_.wallS)), "s")
      m("jobs", Stats.mean(es.map(_.jobs)), "count")
      m("tasks", Stats.mean(es.map(_.tasks)), "count")
      m("executor_run_s", Stats.mean(es.map(_.runS)), "s")
      m("driver_gap_s", Stats.mean(es.map(_.gapS)), "s")
      m("core_busy_frac", Stats.ratio(es.map(_.runS).sum, es.map(_.wallS).sum * cores), "ratio")
    }
    Named.foreach { id =>
      val es = traced.filter(_.id == id)
      rec.metric(s"readside.$id.wall_s", Stats.mean(es.map(_.wallS)), "s")
      rec.metric(s"readside.$id.jobs", Stats.mean(es.map(_.jobs)), "count")
    }
    rec.metric("readside.query_executions",
      trace.queries.size.toDouble / math.max(1, traced.size), "count/entry")
  }
}
