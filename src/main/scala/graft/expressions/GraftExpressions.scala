package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the operators Spark's built-in function
  * library lacks, each with real `doGenCode` so they stay inside
  * whole-stage codegen (no UDF serialization, no codegen fallback):
  *
  *  - [[SimHash64Expr]]   — 64-bit SimHash of a text column (near-dup key);
  *  - [[RollingFingerprintExpr]] — Rabin-Karp min-window document
  *    fingerprint (shift-tolerant content identity);
  *  - [[CosineSimExpr]]   — cosine similarity of two `array<float>`
  *    embedding columns (the ANN hot loop, primitive-typed).
  *
  * Exposed as `Column`s via [[GraftFunctions]].
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.simhash64($c);")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(child = c)
  override def prettyName: String = "simhash64"
}

case class RollingFingerprintExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.rollingFingerprint(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.rollingFingerprint($c, $k);")
  override protected def withNewChildInternal(c: Expression): RollingFingerprintExpr =
    copy(child = c)
  override def prettyName: String = "rolling_fingerprint"
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprOps.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.cosineF($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

case class ShingleHashes64Expr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.shingleHashes(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.shingleHashes($c, $k);")
  override protected def withNewChildInternal(c: Expression): ShingleHashes64Expr =
    copy(child = c)
  override def prettyName: String = "shingle_hashes64"
}

case class WordNgramHashes64Expr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.wordNgramHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.wordNgramHashes($c, $n);")
  override protected def withNewChildInternal(c: Expression): WordNgramHashes64Expr =
    copy(child = c)
  override def prettyName: String = "word_ngram_hashes64"
}

/** Positional word n-gram hashes (all occurrences, array index = token
  * position of the gram start) — backs q65's ExactSubstr-style
  * duplicated-span statistics; see [[ExprOps.wordNgramHashSeq]]. */
case class WordNgramHashSeqExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.wordNgramHashSeq(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.wordNgramHashSeq($c, $n);")
  override protected def withNewChildInternal(c: Expression): WordNgramHashSeqExpr =
    copy(child = c)
  override def prettyName: String = "word_ngram_hash_seq"
}

/** Positional word n-grams as STRINGS (all occurrences, index = token
  * position of the gram start) — the codegen replacement for the
  * interpreted `regexp_replace + split + filter (+ zip_with/slice)`
  * tokenize/n-gram chains on the corpus-scan hot path; see
  * [[ExprOps.wordNgrams]] for the exact equivalence contract. A full
  * pass over the document: a site that filters on the array (or on a
  * value derived from it) projects it behind [[KernelBarrier]], so the
  * filter cannot inline a second tokenizer pass. */
case class WordNgramsExpr(child: Expression, n: Int, lowercase: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.wordNgrams(v.asInstanceOf[UTF8String], n, lowercase)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.wordNgrams($c, $n, $lowercase);")
  override protected def withNewChildInternal(c: Expression): WordNgramsExpr =
    copy(child = c)
  override def prettyName: String = "word_ngrams"
}

case class NgramMaxCountExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.ngramMaxCount(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.ngramMaxCount($c, $n);")
  override protected def withNewChildInternal(c: Expression): NgramMaxCountExpr =
    copy(child = c)
  override def prettyName: String = "ngram_max_count"
}

/** Fused per-row text statistics `[n_chars, n_alpha, n_punct, n_toks,
  * n_bpe, en_hits, de_hits, fr_hits]` — see [[ExprOps.textStats]] for
  * the per-count equivalence contract with the declarative regex chains
  * it replaces (TextFunctions quality/langid/token-count family). The
  * stopword inventories are part of the case-class identity, so plan
  * canonicalization treats distinct inventories as distinct
  * expressions. Sites that derive several counts from one row project
  * the array once behind [[KernelBarrier]] (see
  * `TextFunctions.textStatsCol`). */
case class TextStatsExpr(child: Expression, en: Seq[String], de: Seq[String],
    fr: Seq[String]) extends UnaryExpression {
  @transient private lazy val enB: Array[Array[Byte]] =
    en.map(w => UTF8String.fromString(w).getBytes).toArray
  @transient private lazy val deB: Array[Array[Byte]] =
    de.map(w => UTF8String.fromString(w).getBytes).toArray
  @transient private lazy val frB: Array[Array[Byte]] =
    fr.map(w => UTF8String.fromString(w).getBytes).toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.textStats(v.asInstanceOf[UTF8String], enB, deB, frB)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val enRef = ctx.addReferenceObj("enStop", enB, "byte[][]")
      val deRef = ctx.addReferenceObj("deStop", deB, "byte[][]")
      val frRef = ctx.addReferenceObj("frStop", frB, "byte[][]")
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.textStats($c, $enRef, $deRef, $frRef);"
    })
  override protected def withNewChildInternal(c: Expression): TextStatsExpr =
    copy(child = c)
  override def prettyName: String = "text_stats"
}

case class TermFreqsExpr(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(t => UTF8String.fromString(t).toLowerCase.getBytes).toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.termFreqs(v.asInstanceOf[UTF8String], termBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("termBytes", termBytes, "byte[][]")
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.termFreqs($c, $ref);"
    })
  override protected def withNewChildInternal(c: Expression): TermFreqsExpr =
    copy(child = c)
  override def prettyName: String = "term_freqs"
}

/** Nearest-centroid id by integer squared L2 over an `array<bigint>`
  * vector against a fixed candidate set (the q79 Lloyd assignment):
  * one codegen'd expression evaluation per row instead of the nested
  * transform/aggregate/zip_with higher-order chain, which has no
  * whole-stage codegen path and was the measured per-row cost (r06).
  * `cands` is part of the case-class identity (Seq equality), so plan
  * canonicalization and the codegen cache treat distinct centroid sets
  * as distinct expressions. */
case class IntL2ArgMinExpr(child: Expression, cands: Seq[(Long, Seq[Long])])
    extends UnaryExpression {
  @transient private lazy val cidArr: Array[Long] = cands.map(_._1).toArray
  @transient private lazy val vecArr: Array[Array[Long]] =
    cands.map(_._2.toArray).toArray
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.intL2ArgMin(v.asInstanceOf[ArrayData], cidArr, vecArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "long[]")
      val vecsRef = ctx.addReferenceObj("vecs", vecArr, "long[][]")
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.intL2ArgMin($c, $cidsRef, $vecsRef);"
    })
  override protected def withNewChildInternal(c: Expression): IntL2ArgMinExpr =
    copy(child = c)
  override def prettyName: String = "int_l2_argmin"
}

case class SrpBucketExpr(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ExprOps.srpBucket(v.asInstanceOf[ArrayData], nBits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.srpBucket($c, $nBits, ${seed}L);")
  override protected def withNewChildInternal(c: Expression): SrpBucketExpr = copy(child = c)
  override def prettyName: String = "srp_bucket"
}

/** All `tables` SRP bucket keys of a vector in ONE pass (multi-table
  * OR-amplified LSH: table t uses seed `baseSeed + t`) — the per-row hot
  * loop of the LSH near-dup edge feed (q41). One expression evaluation
  * per row instead of `tables` separate probes. */
case class SrpBucketsExpr(child: Expression, nBits: Int, tables: Int, baseSeed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ExprOps.srpBuckets(v.asInstanceOf[ArrayData], nBits, tables, baseSeed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.ExprOps$$.MODULE$$.srpBuckets($c, $nBits, $tables, ${baseSeed}L);")
  override protected def withNewChildInternal(c: Expression): SrpBucketsExpr = copy(child = c)
  override def prettyName: String = "srp_buckets"
}

/** Column-level entry points for the native expressions. */
object GraftFunctions {
  import org.apache.spark.sql.graftbridge.Bridge

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64Expr(Bridge.expression(c)))

  def rollingFingerprint(c: Column, k: Int = 16): Column =
    Bridge.column(RollingFingerprintExpr(Bridge.expression(c), k))

  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimExpr(Bridge.expression(a), Bridge.expression(b)))

  def srpBucket(vec: Column, nBits: Int = 8, seed: Long = 42L): Column =
    Bridge.column(SrpBucketExpr(Bridge.expression(vec), nBits, seed))

  def srpBuckets(vec: Column, nBits: Int, tables: Int, baseSeed: Long = 1000L): Column =
    Bridge.column(SrpBucketsExpr(Bridge.expression(vec), nBits, tables, baseSeed))

  def shingleHashes(text: Column, k: Int = 5): Column =
    Bridge.column(ShingleHashes64Expr(Bridge.expression(text), k))

  def wordNgramHashes(text: Column, n: Int = 3): Column =
    Bridge.column(WordNgramHashes64Expr(Bridge.expression(text), n))

  def wordNgramHashSeq(text: Column, n: Int): Column =
    Bridge.column(WordNgramHashSeqExpr(Bridge.expression(text), n))

  def wordNgrams(text: Column, n: Int, lowercase: Boolean = true): Column =
    Bridge.column(WordNgramsExpr(Bridge.expression(text), n, lowercase))

  def ngramMaxCount(text: Column, n: Int = 2): Column =
    Bridge.column(NgramMaxCountExpr(Bridge.expression(text), n))

  def textStats(text: Column, en: Seq[String], de: Seq[String],
      fr: Seq[String]): Column =
    Bridge.column(TextStatsExpr(Bridge.expression(text), en, de, fr))

  def termFreqs(text: Column, terms: Seq[String]): Column =
    Bridge.column(TermFreqsExpr(Bridge.expression(text), terms))

  def intL2ArgMin(q: Column, cands: Seq[(Long, Seq[Long])]): Column =
    Bridge.column(IntL2ArgMinExpr(Bridge.expression(q), cands))
}
