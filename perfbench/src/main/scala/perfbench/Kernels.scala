package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.ExprOps

/** Per-row microbenchmarks of the engine's native kernels on seeded inputs
  * generated here. Traced runs only. */
object Kernels {
  /** Median nanoseconds per row over repeated calls of `body` (which
    * processes `rows` rows and returns something, kept live): 300 ms of
    * untimed warm-up calls, then at least five calls and 300 ms. */
  def nsPerRow(rows: Int)(body: => Any): Double = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sink = 0
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 300000000L) sink ^= body.##
    val t0 = System.nanoTime()
    while (samples.size < 5 || System.nanoTime() - t0 < 300000000L) {
      val s = System.nanoTime()
      sink ^= body.##
      samples += (System.nanoTime() - s).toDouble / math.max(1, rows)
    }
    if (sink == 42) System.err.print("")
    Stats.median(samples.toSeq)
  }

  private val Words = Seq("the", "court", "und", "der", "decision", "appeal", "le",
    "judgment", "ist", "pour", "claim", "2024", "§", "ruling", "Verfahren", "état",
    "and", "of", "evidence", "KARE600012345")

  def run(spark: SparkSession, o: Opts, rec: Record): Unit = {
    val rnd = new scala.util.Random(o.seed)
    val texts = Array.fill(2000) {
      val n = 20 + rnd.nextInt(60)
      UTF8String.fromString(Seq.fill(n)(Words(rnd.nextInt(Words.size)))
        .mkString(if (rnd.nextInt(4) == 0) ",  " else " "))
    }
    rec.metric("expressions.word_ngrams.ns_per_row", nsPerRow(texts.length) {
      var n = 0; var i = 0
      while (i < texts.length) { n += ExprOps.wordNgrams(texts(i), 3, true).numElements(); i += 1 }
      n
    }, "ns")
    val en = graft.functions.TextFunctions.EnStop.map(_.getBytes("UTF-8")).toArray
    val de = graft.functions.TextFunctions.DeStop.map(_.getBytes("UTF-8")).toArray
    val fr = graft.functions.TextFunctions.FrStop.map(_.getBytes("UTF-8")).toArray
    rec.metric("expressions.text_stats.ns_per_row", nsPerRow(texts.length) {
      var n = 0L; var i = 0
      while (i < texts.length) { n += ExprOps.textStats(texts(i), en, de, fr).getLong(3); i += 1 }
      n
    }, "ns")

    // q79-shaped argmin: 16 integer centroids of dimension 32
    val dim = 32
    val cids = Array.tabulate(16)(_.toLong)
    val cents = Array.fill(16)(Array.fill(dim)(rnd.nextInt(256).toLong))
    val points = Array.fill(4000)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(dim)(rnd.nextInt(256).toLong)))
    rec.metric("expressions.int_l2_argmin.ns_per_row", nsPerRow(points.length) {
      var n = 0L; var i = 0
      while (i < points.length) { n += ExprOps.intL2ArgMin(points(i), cids, cents); i += 1 }
      n
    }, "ns")

    // gzip-wrapped bodies of the fetch transport
    val bodies = Array.fill(500) {
      val b = new Array[Byte](2048 + rnd.nextInt(4096))
      var i = 0
      while (i < b.length) { b(i) = (rnd.nextInt(16) * 7).toByte; i += 1 }
      graft.crawl.Transport.gzip(b)
    }
    rec.metric("crawl.gzip_decode.ns_per_row", nsPerRow(bodies.length) {
      var n = 0; var i = 0
      while (i < bodies.length) {
        n += graft.crawl.Transport.decodeBody(bodies(i)).map(_.length).getOrElse(-1); i += 1
      }
      n
    }, "ns")

    // seen-store bloom: 200k seeded keys at the engine's 1% target, probed
    // with 100k members and 100k non-members
    val bloom = graft.seen.LongBloom.create(200000, 0.01)
    val members = Array.fill(200000)(rnd.nextLong())
    members.foreach(bloom.put)
    val probes = Array.tabulate(200000)(i => if (i % 2 == 0) members(i) else rnd.nextLong())
    rec.metric("seen.bloom.ns_per_probe", nsPerRow(probes.length) {
      var n = 0; var i = 0
      while (i < probes.length) { if (bloom.mightContain(probes(i))) n += 1; i += 1 }
      n
    }, "ns")

    // URL canonicalization + hash through Spark (codegen expression): wall
    // time of a noop write of the hashes of 1M seeded URLs, minus that of
    // writing the URLs alone, per row
    val rows = 1000000L
    val urls = spark.range(rows).select(concat(lit("https://h"),
      (xxhash64(lit(o.seed), col("id")) % 4000).cast("string"),
      lit(".courts.example/jportal/docs/?quelle=jlink&docid=KARE"),
      col("id").cast("string"), lit("\t&psml=bsjrsprod.psml&max=true")).as("url"))
    val hashed = urls.select(graft.functions.UrlFunctions.urlHash(col("url")).as("h"))
    def wall(df: org.apache.spark.sql.DataFrame): Double = {
      val s = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s).toDouble
    }
    wall(urls); wall(hashed) // warm both plans
    val samples = (1 to 3).map(_ => (wall(hashed) - wall(urls)) / rows)
    rec.metric("functions.url_canon_hash.ns_per_row", Stats.median(samples), "ns")
  }
}
