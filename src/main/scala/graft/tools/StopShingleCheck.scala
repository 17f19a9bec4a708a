package graft.tools

import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** One-off validation harness for the q27 sampled stop-shingle estimator:
  * asserts the sample+confirm stop set EQUALS the exact full-aggregation
  * set on a given sf dir (run at sf0.1, where the sampled path activates).
  * Kept in-tree as the reproducible evidence command:
  * `sbt "runMain graft.tools.StopShingleCheck /root/testdata/sf0.1"`. */
object StopShingleCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.BenchSession("graft-stop-shingle-check", 8)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val raw = docs.select(col("doc_id"),
      explode(GraftFunctions.shingleHashes(col("text"), 5)).as("shingle")).persist()
    val exact = raw.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > nDocs / 2).select("shingle")
      .collect().map(_.getLong(0)).toSet
    val m = 2000L
    val sampleRaw = raw.filter(pmod(xxhash64(col("doc_id")), lit(nDocs)) < m)
    val nSample = sampleRaw.select(col("doc_id")).distinct().count()
    val candidates = sampleRaw.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_s"))
      .filter(col("df_s") >= lit(0.35) * nSample).select("shingle")
    val sampled = raw.join(broadcast(candidates), Seq("shingle"), "left_semi")
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > nDocs / 2).select("shingle")
      .collect().map(_.getLong(0)).toSet
    println(s"nDocs=$nDocs nSample=$nSample exact=${exact.size} sampled=${sampled.size} " +
      s"equal=${exact == sampled}")
    assert(exact == sampled, s"stop-set mismatch: onlyExact=${(exact -- sampled).take(5)} " +
      s"onlySampled=${(sampled -- exact).take(5)}")
    spark.stop()
  }
}
