package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity primitives as column expressions: character shingles and
  * word n-grams (the string references of the native hash kernels),
  * embedding cosine (built-in `zip_with`/`aggregate` double path plus the
  * native codegen float path in [[graft.expressions.GraftFunctions]]) and
  * simhash Hamming distance.
  */
object SimilarityFunctions {

  /** Character k-shingles of `text` (distinct), via a sequence/transform
    * expression tree — no UDF, no explode until the caller wants one. */
  def charShingles(text: Column, k: Int): Column = {
    val t = regexp_replace(lower(text), "\\s+", " ")
    when(length(t) < k, array(t)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(t) - lit(k - 1)),
        i => t.substr(i, lit(k)))))
  }

  /** Word n-grams of `text` (distinct). */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      array_distinct(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Cosine similarity over array<float>/array<double> embeddings using
    * built-in higher-order functions, accumulating in double. Kept for
    * oracle parity; the hot path is GraftFunctions.cosineSim (codegen). */
  def cosineBuiltin(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val d = dot(a, b)
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0 || nb === 0, 0.0).otherwise(d / (na * nb))
  }

  /** Plain-Scala cosine over float arrays (driver/centroid-side helper for
    * the IVF coarse quantizer; the column path is GraftFunctions.cosineSim). */
  def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
