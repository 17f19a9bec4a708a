package graft.readside

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{EcliFunctions, SimilarityFunctions, TextFunctions, UrlFunctions}
import graft.expressions.{CmsAggregator, GraftFunctions, KmvAggregator}
import graft.expressions.KernelBarrier.withKernel

/** The read-side query surface (SURVEY.md §2.4-§2.8 + the training-data
  * pipeline operators), one function per operator, each with a DuckDB
  * oracle in [[OracleSql]] where SQL-expressible.
  *
  * Conventions for oracle parity:
  *  - every computed column aliased identically in Spark and SQL;
  *  - money/quantity aggregates are INTEGER-SCALED BIGINTs (units /
  *    cents / ×10⁴): exact for ≤2-decimal sources on both engines, and
  *    immune to decimal-precision-widening type skew (Spark sums
  *    decimal(18,2)→decimal(28,2), DuckDB →decimal(38,2) — value-equal
  *    but type-distinct, which the driver's hasher distinguishes; decimal
  *    outputs failed the gate in rounds 1-2, integer outputs never have);
  *  - DuckDB sums of BIGINT return HUGEINT — wrap the outer sum in
  *    CAST(... AS BIGINT) in the oracle SQL;
  *  - every result carries a total ORDER BY with a unique tie-break;
  *  - no wall-clock, no random: all constants literal.
  */
object Queries {

  /** Reads a table under the schema inferred by its last read while the
    * table's listing is unchanged. Inference runs a one-task Spark job
    * (parquet footer merge) on every plain `read.parquet`; a table whose
    * leaf files (path, length, modification time) and whose session
    * `parquet` settings are the same as at the cached read cannot have a
    * different schema, so the cached one is passed in and no job runs.
    * A rewritten table lists differently and is inferred again. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(s, path) match {
      case Some(key) =>
        val hit = schemas.get(path)
        if (hit != null && hit._1 == key) s.read.schema(hit._2).parquet(path)
        else {
          val df = s.read.parquet(path)
          schemas.put(path, (key, df.schema))
          df
        }
      // unlistable (missing, glob): a plain read reports it as before
      case None => s.read.parquet(path)
    }
  }

  private type Listing = (Seq[(String, String)], Seq[(String, Long, Long)])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Listing, org.apache.spark.sql.types.StructType)]()

  /** The validity key of a cached schema: the session's `parquet` settings
    * (they steer inference: binary-as-string, INT96, NTZ) and every leaf
    * file under `path` with its length and modification time. */
  private def listing(s: SparkSession, path: String): Option[Listing] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
      val leaves = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        leaves += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some((s.conf.getAll.toSeq.filter(_._1.contains(".parquet.")).sorted, leaves.result()))
    } catch { case _: java.io.IOException => None }
  }

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew" /
    * §2.2): a parquet file is splittable only at row-group boundaries, so
    * a table written as one row group can plan as a ONE-task scan and
    * serialize every downstream per-row expression (shingling, quality
    * scoring, regex scrubbing, array folds) on a single core.
    *
    * The gate: `n = min(defaultParallelism, ceil(sizeInBytes /
    * spark.sql.files.openCostInBytes))` from the plan's statistics — the
    * partition count Spark's own split planner gives a splittable input
    * of that size. Only when `n > 1` is the planned partition count
    * computed (a `df.rdd` pass); if it is below `n`, one round-robin
    * exchange to `n` partitions is added. An input below the open cost
    * (sf0.01 `documents`, 65 KB) is cheaper to scan on one core than to
    * plan twice and shuffle, so it gets neither the pass nor the exchange;
    * a 100 TB table plans thousands of scan partitions, so it gets no
    * exchange either. Callers apply it ONLY where downstream aggregation
    * is per-row or integer-exact (row-order/partition-grouping never
    * reaches a floating-point partial aggregate, so results are
    * bit-identical). */
  private def fanout(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val open = s.sessionState.conf.filesOpenCostInBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (BigInt(s.sparkContext.defaultParallelism) min ((size + open - 1) / open)).toInt
    if (n > 1 && df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** A fresh read-side scratch dir, reaped at JVM exit. Base: the
    * `graft.scratch.dir` property (set by the bench session to its tmpfs
    * base) > `SPARK_GRAFT_BENCH_DIR` > `java.io.tmpdir` — the JVM default
    * may sit on slow disk. */
  private[graft] def scratchDir(prefix: String): java.io.File = {
    val base = (sys.props.get("graft.scratch.dir") ++
        sys.env.get("SPARK_GRAFT_BENCH_DIR")).iterator
      .map(java.nio.file.Paths.get(_))
      .find(p => java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p))
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val dir = java.nio.file.Files.createTempDirectory(base, prefix).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir
  }

  /** Materialize `df` to a scratch parquet and read it back: cuts lineage
    * (so upstream caches can be released) WITHOUT collecting a single row
    * to the driver — the at-scale-safe replacement for the
    * collect+createDataFrame pattern (a high-dup corpus labels a large
    * fraction of all rows, so "the result is tiny" does not hold for the
    * clustering output at 100 TB). The scratch dir is reaped at JVM exit. */
  private def materialize(s: SparkSession, df: DataFrame): DataFrame = {
    // q46/q47/q50 all pay this write
    val dir = scratchDir("graft-mat")
    df.write.mode("overwrite").parquet(dir.toString)
    s.read.parquet(dir.toString)
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  // ---- TPC-H-ish relational surface -------------------------------------

  /** A1/A2-style grouped aggregation (pricing summary). Money/quantity
    * aggregates are INTEGER-SCALED BIGINTs (quantity units, price cents,
    * discounted price in ×10⁴ integer space): the source doubles carry ≤2
    * decimals, so `round(x*100)` is exact on both engines and the sums
    * never touch decimal-precision widening (Spark sums decimal(18,2) to
    * decimal(28,2), DuckDB to decimal(38,2) — value-identical but
    * type-distinct, which a type-aware hasher distinguishes). */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("bigint")
    val discPct = round((lit(1.0) - col("l_discount")) * 100).cast("bigint")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(round(col("l_quantity")).cast("bigint")).as("sum_qty"),
        sum(cents).as("sum_base_price_cents"),
        sum(cents * discPct).as("sum_disc_price_x1e4"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** P-style projection+filter, pushed to the parquet scan. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Join + aggregate; the dimension side is broadcast. */
  def q03JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Fact × small-dim broadcast join (part side << lineitem). Quantity sum
    * is an integer-scaled BIGINT (see q01's rationale). */
  def q04PartJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("bigint")).as("sum_qty"))
      .orderBy(col("p_brand"))

  /** 3-way star join, both dims broadcast. */
  def q05RegionRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_name"), col("n_name"))

  /** A7: conditional aggregation (COUNT + CASE-WHEN sums in one pass). */
  def q06ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_open"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_pending"))
      .orderBy(col("o_orderpriority"))

  /** O1/W3: global top-k with unique tie-break. */
  def q07TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** W1-shape: per-group ranking window (top 3 orders per customer). */
  def q08WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** J4: semi join (EXISTS) — customers with at least one urgent order. */
  def q09SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    t(s, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** J1: anti join (NOT EXISTS) — the URL-seen dedup shape. */
  def q10AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
    t(s, dir, "customer")
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** U5: distinct. */
  def q11Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** U4/U6: set operators — intersect / except cardinalities. */
  def q12SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgentKeys = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val finishedKeys = o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val inter = urgentKeys.intersect(finishedKeys).agg(count(lit(1)).as("n"))
      .select(lit("intersect").as("op"), col("n"))
    val exc = urgentKeys.except(finishedKeys).agg(count(lit(1)).as("n"))
      .select(lit("except").as("op"), col("n"))
    val uni = urgentKeys.union(finishedKeys).distinct().agg(count(lit(1)).as("n"))
      .select(lit("union").as("op"), col("n"))
    inter.union(exc).union(uni).orderBy(col("op"))
  }

  /** U1: date-range generation (the discovery date sequence). */
  def q13DateSeries(s: SparkSession, dir: String): DataFrame =
    s.sql("SELECT explode(sequence(DATE'1995-01-01', DATE'1995-03-31', interval 1 day)) AS d")
      .groupBy(month(col("d")).cast("bigint").as("mth"))
      .agg(count(lit(1)).as("n_days"), min(col("d")).as("first_day"),
        max(col("d")).as("last_day"))
      .orderBy(col("mth"))

  /** ST-shape: hourly event rollup (the streaming aggregation, batch form). */
  def q14EventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .filter(col("h") < lit("2024-01-03 00:00:00").cast("timestamp"))
      .orderBy(col("h"), col("event_type"))

  /** J6: retry-candidate selection (FAILED rows older than cutoff). */
  def q15RetrySelection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "error" &&
        col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("ts"))
      .orderBy(col("event_id"))

  /** W3: offset/limit pagination with stable total order. */
  def q16Pagination(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      .offset(40).limit(20)

  /** §3.2 search: multi-field contains + facet filter + top-k. The fixed
    * benched/oracled query routes through the SANITIZED raw-string entry
    * point, so the hostile-input boundary is always live. */
  def q17Search(s: SparkSession, dir: String): DataFrame =
    q17SearchFor(s, dir, "spark join")

  /** [[q17Search]] over a RAW user query string: terms recovered by
    * [[graft.functions.QuerySanitizer.searchTerms]] (the reference's
    * escape/quote layer inverted for a literal engine); a query with no
    * searchable terms returns zero rows instead of the match-everything
    * `contains("")`. */
  def q17SearchFor(s: SparkSession, dir: String, rawQuery: String): DataFrame = {
    val terms = graft.functions.QuerySanitizer.searchTerms(rawQuery)
    val pred = terms.map(t => col("text").contains(t))
      .reduceOption(_ || _).getOrElse(lit(false))
    t(s, dir, "documents")
      .filter(pred && col("lang") === "en")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(20)
  }

  /** A1: count-by-facet. */
  def q18SourceFacet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))

  /** P13-P15: ECLI validation over deterministically constructed ids
    * (exercises country-set, year-range, and format rules). */
  def q19EcliValidate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("ECLI:"),
          when(pmod(col("doc_id"), lit(5)) === 0, "XX").otherwise("DE"),
          lit(":BGH:"),
          (lit(1990) + pmod(col("doc_id"), lit(40))).cast("string"),
          lit(":"), col("doc_id").cast("string")).as("ecli"))
      .withColumn("is_valid", EcliFunctions.isValidEcli(col("ecli"), 2026))
      .orderBy(col("doc_id"))

  /** P3/P4/P6 + exact dedup: canonicalize noisy URLs, derive court, count
    * raw vs distinct-canonical per court. */
  def q20UrlCanon(s: SparkSession, dir: String): DataFrame = {
    val prefixes = array(lit("KARE"), lit("KORE"), lit("KSRE"), lit("WBRE"), lit("JURE"))
    // per-row canonicalization + regex over every event: fan the one-row-
    // group scan out before it (int-only aggs downstream — fanout-safe)
    // concat/lpad instead of format_string (r06: Formatter re-parses the
    // format per row); pmod(event_id, 500) < 10⁷ so lpad ≡ %07d exactly
    val raw0 = fanout(t(s, dir, "events")).select(
      col("event_id"),
      concat(lit("https://h"), pmod(col("user_id"), lit(20)).cast("string"),
        lit(".example.org/?docid="),
        element_at(prefixes, (pmod(col("event_id"), lit(5)) + 1).cast("int")),
        lpad(pmod(col("event_id"), lit(500)).cast("string"), 7, "0"),
        lit("&p=1")).as("raw"))
    val noisy = raw0.withColumn("raw",
      when(pmod(col("event_id"), lit(7)) === 0,
        regexp_replace(col("raw"), "&", " &\t")).otherwise(col("raw")))
    noisy
      .withColumn("url_canon", UrlFunctions.canonicalizeUrl(col("raw")))
      .withColumn("docid", UrlFunctions.extractDocId(col("url_canon")))
      .withColumn("court", UrlFunctions.courtOf(col("docid")))
      .groupBy(col("court"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url_canon")).as("n_distinct"))
      .orderBy(col("court"))
  }

  // ---- Training-data pipeline: text analysis ----------------------------

  /** Token counting (whitespace + BPE-ish) rolled up by language. */
  def q21TokenStats(s: SparkSession, dir: String): DataFrame =
    withKernel(fanout(t(s, dir, "documents")),
        "st__" -> TextFunctions.textStatsCol(col("text")))
      .select(col("lang"),
        TextFunctions.tokenCountFromStats(col("st__")).cast("bigint").as("toks"),
        TextFunctions.bpeTokenCountFromStats(col("st__")).cast("bigint").as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"),
        sum(col("bpe")).as("sum_bpe"))
      .orderBy(col("lang"))

  /** Language-ID prediction distribution. */
  def q22LangId(s: SparkSession, dir: String): DataFrame =
    withKernel(fanout(t(s, dir, "documents")),
        "st__" -> TextFunctions.textStatsCol(col("text")))
      .select(TextFunctions.langIdFromStats(col("text"), col("st__"))
        .as("pred_lang"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pred_lang"))

  /** Per-document quality scores. Integer-scaled (×10⁴, explicit half-up
    * floor) so the DuckDB parity never depends on a round(double) tie. */
  def q23Quality(s: SparkSession, dir: String): DataFrame =
    withKernel(fanout(t(s, dir, "documents")),
        "st__" -> TextFunctions.textStatsCol(col("text")))
      .select(col("doc_id"),
        TextFunctions.qualityScoreX1e4FromStats(col("st__")).as("quality_x1e4"))
      .orderBy(col("doc_id"))

  /** Exact dedup: keep min doc_id per identical text. The group key is a
    * 192-bit content fingerprint (xxhash64 ⊕ md5), NOT the text itself —
    * grouping by the full document would ship every byte of the corpus
    * through the shuffle; the hashes ship 48 bytes/row and induce the
    * same grouping (collision odds ~n²/2¹⁹² — nil at any corpus size). */
  def q24DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("h1__"),
        md5(col("text")).as("h2__"))
      .groupBy(col("h1__"), col("h2__"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** JSON extraction from the events props column. */
  def q25JsonProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_bucket"))

  // ---- Training-data pipeline: similarity / dedup / ANN ------------------
  // (Spark-only where the semantics aren't DuckDB-expressible; each still
  // registered in queries() for the rows-only check + covered by ScalaTest.)

  /** SimHash near-dup pairs at hamming ≤ 3 via pigeonhole multi-table
    * blocking (Manku et al., WWW'07): the 64-bit simhash splits into 4
    * disjoint 16-bit chunks; a pair differing in ≤ 3 bits leaves at least
    * one chunk untouched, so the union of the four exact-chunk equi-joins
    * is COMPLETE for hamming ≤ 3 (SimilaritySpec proves equality with the
    * brute-force pair set). Scale shape: each table has 2¹⁶ block values,
    * so per-block candidates stay ~n/65536 per table — bounded, unlike a
    * single k-bit-prefix block whose within-block pairs grow quadratically
    * with the corpus. Spark-only. */
  def q26SimhashBlocks(s: SparkSession, dir: String): DataFrame = {
    val docs = fanout(t(s, dir, "documents"))
      .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("sh"))
    val chunks = (0 until 4).map(i => struct(lit(i).as("chunk_i"),
      shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("chunk_v")))
    val tabled = docs
      .select(col("doc_id"), col("sh"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("sh"), col("c.chunk_i"), col("c.chunk_v"))
    tabled.as("a").join(tabled.as("b"),
        col("a.chunk_i") === col("b.chunk_i") &&
          col("a.chunk_v") === col("b.chunk_v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        SimilarityFunctions.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct() // a pair can match in more than one chunk table
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash + LSH banding near-dup pairs, verified by exact Jaccard —
    * output contract: pairs colliding in ≥1 LSH band whose exact
    * shingle-Jaccard ≥ 0.35 (after stop-shingle removal), as integer
    * `jaccard_x1e4`. VALUE-EXACT against a DuckDB oracle that replicates
    * the minhash pipeline bit-for-bit (FNV-1a shingles + Spark xxhash64
    * in staged integer SQL) — the LSH mechanics themselves are gated,
    * not just the jaccard arithmetic. Relational shape (the one that
    * scales AND stays inside
    * whole-stage codegen): explode shingles once → hash-aggregate the
    * 16-wide signature (min per seed) → band keys → band self-join for
    * candidates → relational jaccard (shingle equi-join intersection
    * counts). The nested higher-order-function form recomputes the
    * shingle expression per seed×band×comparison under CollapseProject
    * and falls out of codegen — measured ~1000× slower. Shingles are
    * 64-bit hashes from the native codegen ShingleHashes64Expr, not
    * strings: equality is all MinHash/Jaccard needs, and 8-byte keys cut
    * the explode/shuffle volume several-fold. */
  def q27MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val numHashes = 16
    val bands = 4
    val rowsPerBand = 4
    // corpus count from a COLUMN-PRUNED scan (doc_id only — parquet reads
    // no text bytes for it). `raw` (the exploded shingle stream) is NOT
    // cached (r06): the exploded table is BIGGER than the text it came
    // from, so the old persist traded one native re-shingling pass for
    // block-manager bandwidth on a bandwidth-bound box — measured ~12%
    // slower in an interleaved pair — and, persisted, the sample
    // branch's doc_id filter could not push below the explode (now the
    // sample consumer shingles only ~m docs). At 100 TB the recompute
    // shape is the only one that works at all: a corpus-sized shingle
    // cache fits nowhere. Every consumer aggregates globally, so the
    // result is cache-invariant.
    // repartition before the explode — a single parquet file would put the
    // whole shingling in one task
    val nDocs = t(s, dir, "documents").select(col("doc_id")).count()
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
    val raw = docs
      .select(col("doc_id"),
        explode(GraftFunctions.shingleHashes(col("text"), 5)).as("shingle"))
    // stop-shingle removal (Broder-style): shingles present in >50% of the
    // corpus carry no dedup signal but dominate every minhash min —
    // without this, band buckets collapse into O(corpus) blobs and the
    // candidate set goes quadratic.
    //
    // Document frequency is estimated on a DETERMINISTIC ~m-doc sample and
    // the candidates then EXACT-confirmed against the full corpus, instead
    // of group-aggregating the entire exploded shingle table (round 2's
    // single most expensive shuffle). Soundness: a true stop-shingle
    // (df > 0.5) falls below the 0.35 sample threshold with probability
    // ≤ exp(-2·m·0.15²) = e⁻⁹⁰ at m=2000 (Hoeffding) — and the sample is
    // hash-keyed, so the result is bit-reproducible on the same corpus;
    // false positives (sample-df ≥ 0.35 but true df ≤ 0.5) are eliminated
    // by the exact confirm. Scale shape: the sampled agg shuffles O(m·
    // shingles-per-doc) rows REGARDLESS of corpus size, and the confirm is
    // a broadcast semi-join (candidate set is tiny) + a candidate-only
    // count — the full-table shingle shuffle is gone.
    val stopShingles = {
      val m = 2000L
      if (nDocs <= m) {
        raw.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > nDocs / 2)
          .select(col("shingle"))
      } else {
        val sampleRaw = raw.filter(pmod(xxhash64(col("doc_id")), lit(nDocs)) < m)
        // exact sample cardinality from the pruned doc_id scan — same
        // hash predicate as sampleRaw, no shuffle over the shingle table
        val nSample = t(s, dir, "documents").select(col("doc_id"))
          .filter(pmod(xxhash64(col("doc_id")), lit(nDocs)) < m).count()
        val candidates = sampleRaw.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df_s"))
          .filter(col("df_s") >= lit(0.35) * nSample)
          .select(col("shingle"))
        raw.join(broadcast(candidates), Seq("shingle"), "left_semi")
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > nDocs / 2)
          .select(col("shingle"))
      }
    }
    val exploded = raw.join(broadcast(stopShingles), Seq("shingle"), "left_anti")
      .persist()
    // signature: min_i xxhash64(shingle, i) — one hash-agg, map-side
    // partial. The band self-join references it twice; AQE's exchange
    // reuse dedupes the identical agg subtrees (r06 negative result: an
    // explicit scratch-parquet materialize of sig was measured ~0.25 s
    // SLOWER — the write+read jobs cost more than the reuse saves).
    val sig = exploded.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"),
        (0 until numHashes).map(i =>
          min(xxhash64(col("shingle"), lit(i))).as(s"h$i")): _*)
    val bandKeys = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band_i"), xxhash64(concat_ws("_", slice: _*)).as("band_key"))
    }
    val banded = sig.select(col("doc_id"), col("sz"),
      explode(array(bandKeys: _*)).as("band"))
      .select(col("doc_id"), col("sz"), col("band.band_i"), col("band.band_key"))
    // candidates = band-key collisions — pure LSH, the linear-cost path
    // that is the POINT of this operator at 100 TB (an exact-recall
    // set-similarity join is Σdf²-quadratic: a prefix-filter sweep was
    // measured at 88 s vs 8 s on the low-entropy sf0.1 corpus, where
    // nearly every doc pair shares a prefix shingle — the negative-
    // results record). The output contract is therefore LSH recall:
    // pairs colliding in ≥1 of the 4 bands AND exact-confirmed
    // Jaccard ≥ 0.35. That contract is still VALUE-EXACT against DuckDB:
    // the oracle replicates FNV-1a shingle hashing and Spark's xxhash64
    // (XXH64 8-byte/4-byte tail paths) bit-for-bit in staged integer
    // SQL, derives the same 16-component signatures, and compares band
    // components directly (band-KEY equality ⟺ component equality,
    // modulo nil 64-bit concat collisions).
    val sizes = sig.select(col("doc_id"), col("sz"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_i") === col("b.band_i") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct() // single consumer (the broadcast below) — no cache
    // relational jaccard: |A∩B| driven from the candidate-pair table —
    // NOT a raw shingle self-join, which blows up quadratically on
    // high-document-frequency shingles (every common shingle pairs all
    // docs containing it). Expanding pairs→(pair, left-shingle) and
    // hash-joining on (right-doc, shingle) keeps the row count at
    // |pairs| × avg-shingles, independent of shingle popularity.
    // the candidate pair list is BROADCAST into the expansion join (LSH
    // buckets plus the prefix sweep keep it far below the all-pairs
    // square), so the cached shingle table streams through
    // a narrow pass instead of shuffling on doc_id; the second join —
    // whose left side grows with |pairs|×shingles — stays a shuffle join,
    // the scale-safe choice
    val leftSh = exploded.select(col("doc_id").as("id_a"), col("shingle"))
      .join(broadcast(cand.select(col("id_a"), col("id_b"))), Seq("id_a"))
    val inter = leftSh.join(
        exploded.select(col("doc_id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    // jaccard ×10⁴ in INTEGER space (q23/q46 convention): the threshold
    // compares 100·i ≥ 35·|A∪B| and the reported value floors
    // i·10⁴ DIV |A∪B| — no double ever crosses an engine boundary
    val out = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .filter(lit(100) * col("n_inter") >= lit(35) * col("n_union"))
      .select(col("id_a"), col("id_b"),
        expr("(n_inter * 10000) DIV n_union").as("jaccard_x1e4"))
    // materialize to scratch parquet, then release every intermediate
    // cache — without this a bench/verify session silently carries three
    // cached datasets per q27 call for its whole life. No driver collect:
    // the pair list stays distributed end-to-end.
    val result = materialize(s, out)
    exploded.unpersist()
    result.orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force cosine top-k against a fixed query vector (the exact ANN
    * baseline; codegen'd native cosine). */
  def q28KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        SimilarityFunctions.cosineBuiltin(col("embedding"), col("qv")).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Embedding-cosine near-dup pairs above a threshold (exact pass).
    * The LSH-bucketed scale path is q30. */
  def q29CosineNearDup(s: SparkSession, dir: String): DataFrame = {
    // repartition the probe side: a single parquet file otherwise puts the
    // whole O(n²) pair loop in one task
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cos_raw"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ANN via sign-random-projection LSH buckets: candidates share a bucket,
    * then exact cosine re-rank within bucket. Spark-only. Scale path: the
    * bit width GROWS WITH THE CORPUS (nBits ≈ log2(n / targetBucket)), so
    * expected bucket occupancy stays ~targetBucket and the within-bucket
    * self-join stays linear — a fixed width means buckets of n/2^bits rows
    * and a quadratic blowup at 100× the corpus. */
  /** Corpus-scaled SRP bit width: smallest b in [4,24] with 2^b ≥ ⌈n/32⌉ —
    * expected bucket occupancy stays ~32 as the corpus grows. INTEGER
    * arithmetic on both sides of the oracle gate (a float log2 could
    * ceil differently between JVM and DuckDB exactly at powers of two). */
  private[graft] def srpBitsFor(n: Long): Int = {
    val m = math.max(1L, (n + 31) / 32)
    (4 to 24).find(b => (1L << b) >= m).getOrElse(24)
  }

  def q30SrpAnn(s: SparkSession, dir: String): DataFrame = {
    val eAll = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val n = eAll.count() // one cheap count-from-metadata scan
    val nBits = srpBitsFor(n)
    val e = eAll
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("bucket", GraftFunctions.srpBucket(col("embedding"), nBits))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cos_raw"))
      .filter(col("cos_raw") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** IVF-style ANN — the second scale path besides SRP-LSH (q30): a coarse
    * quantizer of K deterministic centroids (hash-ranked corpus sample:
    * the k-means++ seeding step kept iteration-free for determinism), one
    * NARROW assignment pass against the broadcast centroid matrix (no
    * shuffle — mapPartitions argmax), then the query probes only its
    * `nprobe` nearest inverted lists and exact-reranks within them.
    * Scale shape: assignment is embarrassingly parallel; each list holds
    * ~n/K vectors, probe cost nprobe·n/K ≪ n; K grows with the corpus
    * (K ≈ √n is the standard choice). nprobe is K/2 on the BENCHED table
    * because the synthetic embeddings are only weakly clustered — real
    * corpora run nprobe ≈ K/8..K/16 at much higher recall, and
    * ReadsideSpec DEMONSTRATES that on a clustered fixture (recall@10 ≥
    * 0.8 at nprobe = K/8) rather than asserting it. ReadsideSpec also
    * checks recall@10 against the exact q28 top-k on the real table. */
  def q38IvfAnn(s: SparkSession, dir: String): DataFrame =
    ivfAnnOver(s, t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      7L, k => math.max(2, k / 2))

  /** Shared coarse quantizer (q38 IVF + q51 SemDeDup): a deterministic
    * hash-ranked centroid sample of size max(4, min(4096, round(√n))) —
    * the k-means++ seeding step kept iteration-free for determinism —
    * then one NARROW broadcast argmax-cosine assignment pass (no
    * shuffle: mapPartitions over the scan). Returns (centroids,
    * assigned(vec_id, cid, embedding)). */
  private[graft] def coarseQuantize(s: SparkSession, embIn: DataFrame)
      : (Array[(Long, Array[Float])], DataFrame) = {
    import s.implicits._
    val emb = embIn.select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val k = math.max(4, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))
    // deterministic centroid sample: k corpus vectors ranked by key hash
    val cents = emb.withColumn("r__", xxhash64(col("vec_id")))
      .orderBy(col("r__"), col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    // ship each centroid with its norm² precomputed: cosineLocal recomputes
    // BOTH norms per (row, centroid) pair — 3d flops where d suffice. The
    // hoisted form is bit-identical: na/nb accumulate the same terms in the
    // same index order, and the final expression stays dot / sqrt(na*nb).
    val bc = s.sparkContext.broadcast(cents.map { case (cid, cv) =>
      var nb = 0.0; var i = 0
      while (i < cv.length) { val y = cv(i).toDouble; nb += y * y; i += 1 }
      (cid, cv, nb)
    })
    val assigned = emb.as[(Long, Array[Float])].mapPartitions { rows =>
      val cs = bc.value
      rows.map { case (id, v) =>
        val d = v.length
        var na = 0.0
        var i = 0
        while (i < d) { val x = v(i).toDouble; na += x * x; i += 1 }
        var best = -2.0; var bestC = Long.MaxValue
        var j = 0
        while (j < cs.length) {
          val (cid, cv, nb) = cs(j)
          val c =
            if (cv.length == d) {
              if (na == 0.0 || nb == 0.0) 0.0
              else {
                var dot = 0.0; var k = 0
                while (k < d) { dot += v(k).toDouble * cv(k).toDouble; k += 1 }
                dot / math.sqrt(na * nb)
              }
            } else SimilarityFunctions.cosineLocal(v, cv) // ragged dims: exact fallback
          if (c > best || (c == best && cid < bestC)) { best = c; bestC = cid }
          j += 1
        }
        (id, bestC, v)
      }
    }.toDF("vec_id", "cid", "embedding")
    (cents, assigned)
  }

  /** [[q38IvfAnn]]'s engine over any (vec_id, embedding) frame with a
    * caller-chosen nprobe policy — the spec feeds a clustered fixture at
    * the honest nprobe = K/8 here. */
  private[graft] def ivfAnnOver(s: SparkSession, embIn: DataFrame,
      queryId: Long, nprobeOf: Int => Int): DataFrame = {
    import s.implicits._
    val emb = embIn.select(col("vec_id"), col("embedding"))
    val (cents, assigned) = coarseQuantize(s, emb)
    val nprobe = math.max(1, nprobeOf(cents.length))
    val qv = emb.filter(col("vec_id") === queryId)
      .as[(Long, Array[Float])].head()._2
    val probeCids = cents
      .map { case (cid, cv) => (cid, SimilarityFunctions.cosineLocal(qv, cv)) }
      .sortBy { case (cid, c) => (-c, cid) }.take(nprobe).map(_._1).toSeq
    assigned.filter(col("cid").isin(probeCids: _*))
      .select(col("vec_id"),
        GraftFunctions.cosineSim(col("embedding"), typedLit(qv)).as("cos_raw"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** SemDeDup-shape semantic dedup (the published embedding-clustering
    * method: cluster the embedding space, then near-dup prune WITHIN
    * clusters only — Abbas et al. 2023): the [[coarseQuantize]] coarse
    * k-means assigns every vector to its nearest of K ≈ √n deterministic
    * centroids; within each cluster, exact-cosine pairs ≥ 0.4 feed
    * [[connectedComponents]]; each group keeps its min-vec_id
    * representative (deterministic stand-in for SemDeDup's
    * farthest-from-centroid choice). Output: one row per vector with its
    * semantic cluster, dedup-group rep/size, and the keep flag.
    *
    * Scale shape: assignment is a narrow broadcast pass; the pair join is
    * cid-partitioned with occupancy ~n/K, so global pair work is
    * ~K·(n/K)² = n²/K ≈ n^1.5 — never the global all-pairs n² (that's
    * q29, kept as the exactness baseline). Oracle: the full pipeline —
    * hash-ranked centroid pick (Spark-exact xxhash64), double-cosine
    * argmax assignment, within-cluster pairs, recursive-CTE components —
    * replicated in DuckDB ([[SemOracleSql]]). */
  def q51SemDedup(s: SparkSession, dir: String): DataFrame = {
    val (_, assignedRaw) = coarseQuantize(s,
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    // materialize the assignment ONCE (scratch parquet): the argmax pass
    // is the expensive stage (K ≈ √n cosines per row) and a typed
    // mapPartitions subtree does not canonicalize across a self-join, so
    // without the cut Spark plans the pass TWICE — PlanSpec pins the
    // single-pass shape
    val assigned = materialize(s, assignedRaw)
    val a = assigned.repartition(s.sparkContext.defaultParallelism, col("cid"))
    val pairs = a.as("a").join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")) >= 0.4)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val groups = connectedComponents(s, pairs)
    assigned.select(col("vec_id"), col("cid"))
      .join(groups.select(col("id").as("vec_id"), col("rep"),
        col("cluster_size")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("rep"), col("vec_id")).as("group_rep"),
        coalesce(col("cluster_size"), lit(1L)).as("group_size"),
        (coalesce(col("rep"), col("vec_id")) === col("vec_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** q52: DSIR-shape data SELECTION — per-document importance weights
    * under the published hashed-n-gram bag-of-features method (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): fit two add-1-smoothed feature LMs — the TARGET
    * domain (the deterministic doc_id % 17 == 3 slice, q42's benchmark
    * convention) and the RAW pool (everything else) — over unigram +
    * word-bigram features WITH multiplicity, then score every raw doc by
    * its average per-occurrence log-likelihood ratio
    * ln p_target(f) − ln p_raw(f). High scores = target-like docs, the
    * ones importance resampling keeps. Integer ×10⁴ output (q45's
    * floor-half-up convention) so the gate never compares raw doubles.
    *
    * Scale shape, mirroring q45's Zipf split: feature counts are ONE
    * hash-agg shuffle on the 8-byte gram hash (map-side combine; grams
    * ride as xxhash64 ints, never strings — the oracle joins the gram
    * STRINGS, the q39/q42 hash≡string pairing); the λ = log-ratio table
    * is Zipf-headed, so the top-64k features resolve map-side via
    * broadcast and only rare-gram occurrences shuffle; the final per-doc
    * reduce moves slim (doc_id, λ) pairs. Nothing is ever all-pairs and
    * the corpus text is scanned once. */
  def q52DsirSelection(s: SparkSession, dir: String): DataFrame = {
    // feature stream: unigrams + bigrams, multiplicity preserved (DSIR's
    // bag model — the distinct-set wordNgramHashes expr can't count
    // bags; the positional wordNgrams STRING expr can, r06): unigram ++
    // bigram concat in the same order the former toks ++ zip_with chain
    // exploded, hashed with the same xxhash64-of-string
    val feats = t(s, dir, "documents")
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(17)) === 3).as("tgt"),
        explode(concat(GraftFunctions.wordNgrams(col("text"), 1),
          GraftFunctions.wordNgrams(col("text"), 2))).as("g"))
      .select(col("doc_id"), col("tgt"), xxhash64(col("g")).as("ng"))
    val cnt = feats.groupBy(col("ng")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("t_"), sum(col("cr")).as("r_"),
      count(lit(1)).as("v_"))
    val lam = cnt.crossJoin(broadcast(tot))
      .select(col("ng"), (col("ct") + col("cr")).as("n_any"),
        (log((col("ct") + 1) / (col("t_") + col("v_"))) -
         log((col("cr") + 1) / (col("r_") + col("v_")))).as("lam"))
    val raw = feats.filter(!col("tgt")).select(col("doc_id"), col("ng"))
    val head = lam.orderBy(col("n_any").desc, col("ng")).limit(65536)
      .select(col("ng"), col("lam"))
    val headHit = raw.join(broadcast(head), Seq("ng"))
    val tailHit = raw
      .join(broadcast(head.select(col("ng"))), Seq("ng"), "left_anti")
      .join(lam.select(col("ng"), col("lam")), Seq("ng"))
    headHit.unionByName(tailHit)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_feats"),
        floor(avg(col("lam")) * 10000 + 0.5).cast("bigint").as("dsir_e4"))
      .orderBy(col("doc_id"))
  }

  /** q53: host-rank — weighted PageRank over a host-bucket link graph, the
    * classic crawl-prioritization signal (the reference ranks hosts only by
    * recency/politeness; a frontier at 10^10 URLs wants a global importance
    * order too). Edges derive deterministically from `events`:
    * src = user_id % 101, dst = (event_id*31+7) % 101, self-loops dropped,
    * weight = occurrence count. K=10 power iterations, damping 0.85,
    * dangling mass redistributed uniformly.
    *
    * FIXED-POINT arithmetic: ranks live as ×10¹² BIGINTs and every division
    * is integer `div` with an explicitly pinned association —
    * `((rank*85) div 100) * w div wsrc` per edge — so Spark and the DuckDB
    * oracle agree BIT-FOR-BIT regardless of float summation order (the one
    * failure mode an avg-of-doubles PageRank oracle can't close). Overflow
    * headroom: rank ≤ ~1e12, w ≤ |events|, so the largest intermediate
    * (share·w ≤ 8.5e17) sits well under 2^63.
    *
    * Scale shape: edge build is ONE shuffle on (src,dst) + a host-sized
    * out-weight join, then the edge table is materialized once and persisted
    * — every iteration reuses it and moves only the slim (node, rank) frame
    * (at 10^8 hosts that is ~1.6 GB/round, vs re-shuffling the edge list
    * which is O(host-pairs)). Each round is lineage-cut via scratch parquet
    * (the [[connectedComponents]] discipline: `ranks` appears twice per
    * round — contribution join + dangling anti-join — so an uncut plan
    * doubles per round). The dangling term is a 1-row aggregate broadcast.
    * Iteration count is a fixed literal, so all 10 round plans share one
    * codegen shape. */
  def q53HostRank(s: SparkSession, dir: String): DataFrame =
    hostRankOver(s, dir, 1L << 20)

  /** [[q53HostRank]]'s engine with an explicit node-count gate (the spec
    * forces gate = 0 to exercise the distributed loop and asserts both
    * paths bit-equal). */
  private[graft] def hostRankOver(s: SparkSession, dir: String,
      driverGate: Long): DataFrame = {
    import s.implicits._
    val iters = 10
    val total = 1000000000000L // rank mass, ×10¹² fixed point
    val ev = t(s, dir, "events")
      .select(pmod(col("user_id"), lit(101L)).as("src"),
        pmod(col("event_id") * 31 + 7, lit(101L)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val rawEdges = ev.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val outw = rawEdges.groupBy(col("src")).agg(sum(col("w")).as("wsrc"))
    val edges = materialize(s, rawEdges.join(outw, Seq("src"))).persist()
    // nodes: persist only (no scratch write+read — it is never referenced
    // after the unpersist: the gated path returns driver rows and the
    // distributed path's result plan reads only ranks/edges parquet)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count() // one scalar agg — the only driver value the loop needs
    val base = (total * 15L) / (100L * n)
    if (n <= driverGate) {
      // COUNT-GATED broadcast iteration (the q56 discipline): the rank
      // VECTOR is n longs — at the gate (2^20 nodes) 16 MB, an ordinary
      // broadcast — while the EDGE table stays distributed and persisted.
      // Each round is one narrow job: mapPartitions over the cached edges
      // with the broadcast rank map, per-partition partial contrib sums
      // (long adds — order-independent, so bit-identical to the shuffle
      // path), merged on the driver. No per-round scratch parquet, no
      // shuffle, 10 jobs total. Above the gate the slim-frame shuffle
      // loop below runs unchanged — the 10^8-host story.
      val edgesDs = edges.select(col("src"), col("dst"), col("w"), col("wsrc"))
        .as[(Long, Long, Long, Long)]
      val nodeArr = nodes.as[Long].collect()
      // one collect serves both the out-source set and the final wsrc
      // lookup (was two separate distinct+collect jobs)
      val srcW = edges.select(col("src"), col("wsrc")).distinct()
        .as[(Long, Long)].collect()
      val outSrcs = new java.util.HashSet[java.lang.Long]()
      srcW.foreach { case (x, _) => outSrcs.add(x) }
      var ranks = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      nodeArr.foreach(nd => ranks.put(nd, total / n))
      for (_ <- 1 to iters) {
        val bc = s.sparkContext.broadcast(ranks)
        val partials = edgesDs.mapPartitions { it =>
          val r = bc.value
          val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          it.foreach { case (src, dst, w, wsrc) =>
            // same pinned association as the SQL path:
            // ((rank*85) div 100) * w div wsrc
            val share = ((r.get(src) * 85L) / 100L) * w / wsrc
            val c = m.get(dst)
            m.put(dst, if (c == null) share else c.longValue() + share)
          }
          import scala.jdk.CollectionConverters._
          m.entrySet().iterator().asScala
            .map(e => (e.getKey.longValue(), e.getValue.longValue()))
        }.collect()
        bc.destroy()
        var dmass = 0L
        nodeArr.foreach { nd =>
          if (!outSrcs.contains(nd)) dmass += (ranks.get(nd) * 85L) / 100L
        }
        val contrib = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        partials.foreach { case (nd, v) =>
          val c = contrib.get(nd)
          contrib.put(nd, if (c == null) v else c.longValue() + v)
        }
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        val dper = dmass / n
        nodeArr.foreach { nd =>
          val c = contrib.get(nd)
          next.put(nd, base + dper + (if (c == null) 0L else c.longValue()))
        }
        ranks = next
      }
      val wsrcOf = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      srcW.foreach { case (src, w) => wsrcOf.put(src, w) }
      val rows = nodeArr.toSeq.map { nd =>
        val w = wsrcOf.get(nd)
        (nd, if (w == null) 0L else w.longValue(), ranks.get(nd).longValue())
      }
      edges.unpersist(); nodes.unpersist()
      return s.createDataset(rows)
        .toDF("host_bucket", "w_out", "rank_e12")
        .orderBy(col("rank_e12").desc, col("host_bucket"))
    }
    var ranks = materialize(s, nodes.withColumn("rank", lit(total / n)))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("((rank * 85) div 100) * w div wsrc").as("t_"))
        .groupBy(col("node")).agg(sum(col("t_")).as("contrib"))
      val dang = ranks
        .join(edges.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
        .agg(coalesce(sum(expr("(rank * 85) div 100")), lit(0L)).as("dmass"))
      ranks = materialize(s, nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(base) + expr(s"dmass div CAST($n AS BIGINT)") +
            coalesce(col("contrib"), lit(0L))).as("rank")))
    }
    val res = ranks
      .join(edges.select(col("src").as("node"), col("wsrc")).distinct(),
        Seq("node"), "left")
      .select(col("node").as("host_bucket"),
        coalesce(col("wsrc"), lit(0L)).as("w_out"),
        col("rank").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("host_bucket"))
    edges.unpersist(); nodes.unpersist()
    res
  }

  /** q54: as-of join — attribution: for every `purchase` event, the latest
    * exposure (`click`/`view`) by the same user at-or-before the purchase
    * (`ts <=`, the inclusive ASOF convention), ties at equal ts broken by
    * max event_id so the winner is unique. The classic temporal-alignment
    * operator Spark has no built-in for (feature lookup "as of" a label
    * time, point-in-time-correct training joins).
    *
    * Spark-first shape: NOT a range join (a `ts <=` theta join explodes to
    * O(|probes|·|events-per-user|) intermediate rows and Catalyst can only
    * BNLJ it). Instead both sides union into one frame tagged probe/build,
    * ONE shuffle on the join key, and a carry-forward window
    * (`last(..., ignoreNulls)` over rows-unbounded-preceding) resolves
    * every probe in a single linear pass — build rows sort before probes
    * at equal ts, which IS the inclusive semantics. Cost: one exchange +
    * one per-key sort, independent of time-range density. At 100 TB the
    * only hot spot is a pathological single key whose events exceed one
    * task's spill budget; the fix is the q47 two-phase boundary-carry over
    * range partitioning, not a different algorithm. The oracle is the
    * naive ranked range join — exact, and affordable at oracle scale. */
  def q54AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").as("uid"), col("ts"),
        col("event_id"), col("event_type"))
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("uid"), col("ts"), lit(1).as("is_probe__"),
        lit(null).cast("long").as("b_event_id"),
        lit(null).cast("string").as("b_event_type"),
        col("event_id").as("purchase_id"))
    val builds = ev.filter(col("event_type").isin("click", "view"))
      .select(col("uid"), col("ts"), lit(0).as("is_probe__"),
        col("event_id").as("b_event_id"),
        col("event_type").as("b_event_type"),
        lit(null).cast("long").as("purchase_id"))
    // build-before-probe at equal ts (inclusive <=); among equal-ts builds
    // ascending event_id makes last() the max — the unique tiebreak
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("ts"), col("is_probe__"), col("b_event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    builds.unionByName(probes)
      .withColumn("expo_event_id",
        last(col("b_event_id"), ignoreNulls = true).over(w))
      .withColumn("expo_type",
        last(col("b_event_type"), ignoreNulls = true).over(w))
      .withColumn("expo_ts",
        last(when(col("is_probe__") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_probe__") === 1)
      .select(col("purchase_id"), col("uid"), col("ts").as("purchase_ts"),
        col("expo_event_id"), col("expo_type"), col("expo_ts"))
      .orderBy(col("purchase_id"))
  }

  /** q55: sessionization — split each user's event stream into sessions at
    * inactivity gaps > 24 h, then aggregate per session (event count,
    * bounds, exact µs duration, purchase count). The canonical
    * behavioral-log pipeline stage (and the batch twin of the streaming
    * session windows in [[graft.streaming.EventStreams]]).
    *
    * Determinism: timestamps compare as exact µs BIGINTs (`unix_micros` /
    * DuckDB `epoch_us` — no float epoch anywhere), the break predicate is
    * strict `>`, and in-session order ties break on event_id. One shuffle
    * total: the lag/running-sum windows and the (uid, session_seq)
    * aggregation all cluster by uid — HashPartitioning(uid) satisfies the
    * grouped distribution, so Catalyst plans a single exchange (spec-pinned
    * for the analogous shapes in PlanSpec). At 100 TB that is the floor for
    * gap sessionization: per-user order is inherently required. */
  def q55Sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 86400000000L // 24 h
    val wOrd = Window.partitionBy(col("uid")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id").as("uid"), col("event_id"), col("event_type"),
        // ts is TIMESTAMP_NTZ in the parquet; the session TZ is pinned UTC
        // everywhere (tests/Verify/Bench), so the cast + unix_micros is the
        // same integer DuckDB's epoch_us computes on the naive value
        col("ts"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(wRun))
      .groupBy(col("uid"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .orderBy(col("uid"), col("session_seq"))
  }

  /** q56: HEAVY HITTERS — the exact set of word-trigrams with global
    * count > N/φ (φ = 4096) over the corpus, found by the two-pass
    * Misra–Gries protocol (Misra & Gries 1982; the merged-summary
    * completeness bound is Agarwal et al. 2013, "Mergeable Summaries").
    * The frequent-template finder of a training-data pipeline: boilerplate
    * n-grams surface here before they skew dedup or contaminate eval sets.
    *
    * Why not a plain groupBy+HAVING (the oracle's shape): at 100 TB the
    * trigram keyspace is ~corpus-sized, so the full hash-agg shuffles
    * nearly every token in the corpus to find a handful of rows. The
    * two-pass shape instead:
    *   pass 1 — a NARROW mapPartitions MG sketch (k = φ−1 counters per
    *     partition, amortized O(1)/item) over the PRIMITIVE FNV-64
    *     trigram-hash stream (r06 — no string ever reaches the sketch):
    *     any gram with partition count > N_p/φ has a hash with at least
    *     that count, and since global freq > 1/φ forces partition freq
    *     > 1/φ somewhere (a weighted average cannot exceed its max), the
    *     union of hash survivors is a COMPLETE candidate set (collisions
    *     only ADD candidates). Candidates are bounded by k·P rows
    *     regardless of corpus size; each partition also emits one
    *     sentinel row carrying its token count, so N needs no extra scan.
    *   pass 2 — broadcast the candidate hashes back as a semi-join probe
    *     and exact-count matching occurrences at STRING grain: the one
    *     shuffle moves a keyspace of ≤ k·P grams, not the corpus, and
    *     every surviving row is its own exact count, so hash collisions
    *     cannot leak a non-heavy gram through the final threshold.
    * Output is exact (no sketch error in the result — the sketch only
    * prunes), so the DuckDB oracle is the plain relational HAVING query.
    * ReadsideSpec additionally forces heavy eviction (φ = 8) and pins
    * equality with the brute-force pass. */
  def q56HeavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHitters(s, dir, 4096)

  private[graft] def heavyHitters(s: SparkSession, dir: String, phi: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    require(phi >= 2, s"phi must be >= 2, got $phi")
    val k = phi - 1
    // pass 1 runs on the PRIMITIVE FNV-64 trigram-hash stream (r06: the
    // string-keyed MG map — per-item String deserialization + hashing —
    // was the measured residual cost after the tokenizer went native;
    // wordNgramHashSeq emits one long per trigram occurrence, native and
    // codegen-resident). Completeness is unchanged a fortiori:
    // count(hash) ≥ count(gram), so a gram with partition frequency
    // > N_p/φ has a hash with partition frequency > N_p/φ and the hash
    // survivor union remains a COMPLETE candidate superset; FNV
    // collisions can only ADD candidate hashes, and the exact
    // string-grain confirm recount (pass 2) filters every candidate by
    // its own exact count — so the final rows are invariant to both the
    // partitioning and the hashing. Fanned out (scale-adaptive) so both
    // corpus passes run on every core.
    def hashStream = fanout(t(s, dir, "documents"))
      .select(explode(GraftFunctions.wordNgramHashSeq(col("text"), 3)).as("h"))
    val sketch = materialize(s, hashStream.as[Long].mapPartitions { it =>
      // Misra–Gries with k counters: decrement-all on overflow. Each
      // decrement round is O(k) but retires k+1 stream credits, so the
      // whole pass is amortized O(1) per item and O(k) memory.
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      var n = 0L
      it.foreach { h =>
        n += 1L
        m.get(h) match {
          case Some(c) => m.update(h, c + 1L)
          case None if m.size < k => m.update(h, 1L)
          case None =>
            m.mapValuesInPlace((_, c) => c - 1L)
            m.filterInPlace((_, c) => c > 0L)
        }
      }
      // survivors + one sentinel row carrying the partition count (the
      // boolean flag disambiguates — a real trigram hash may be any
      // long, including 0: the Seq variant does NOT 0-remap)
      m.iterator.map { case (h, c) => (h, c, false) } ++
        Iterator((0L, n, true))
    }.toDF("h", "cnt", "sentinel"))
    val cands = sketch.filter(!col("sentinel")).select(col("h")).distinct()
    // COUNT-GATED broadcast (q63 gates its sliver the same way): the
    // candidate bound is k·P, which at φ=4096 × thousands of partitions
    // can reach tens of millions of rows — an unconditional broadcast()
    // hint would collect that to the driver. Counting the materialized
    // sketch is one cheap job over a tiny parquet; above the cap the
    // confirm falls back to a shuffle join, the scale-safe path.
    val bcastCap = s.conf.getOption("graft.hh.broadcastCap")
      .map(_.toLong).getOrElse(1000000L)
    val candSide =
      if (cands.count() <= bcastCap) broadcast(cands) else cands
    val nTot = sketch.filter(col("sentinel"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))
    // pass 2 — exact confirm at STRING grain: gram strings from the
    // native tokenizer, keyed back to the candidate hashes by the same
    // FNV-64 fold pass 1 saw (wordNgramHashSeq over the already-
    // normalized gram covers its whole byte span — the identical value)
    fanout(t(s, dir, "documents"))
      .select(explode(GraftFunctions.wordNgrams(col("text"), 3)).as("g"))
      .withColumn("h",
        element_at(GraftFunctions.wordNgramHashSeq(col("g"), 3), 1))
      .join(candSide, Seq("h"))
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(nTot))
      .filter(col("cnt") * phi > col("n_total"))
      .select(col("g").as("gram"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("gram"))
  }

  /** q57: per-group EXACT discrete quantiles (p50/p90/p99 of document
    * length per source) — the corpus-distribution report every curation
    * run reads before setting length/quality cut-offs (and the exact twin
    * of the reference's storage-stats rollups, §2 A5).
    *
    * Exactness: the disc quantile at q is the element at ascending rank
    * ⌈q·n⌉, computed in INTEGER space on both engines
    * (⌈q·n⌉ = (num·n + den − 1) div den, never a float multiply) — so the
    * oracle match is value-exact with no interpolation or tolerance.
    * Spark's own `percentile_approx` is the sketch alternative; the gate
    * needs exact, so the rank pass is explicit.
    *
    * Scale shape: ONE exchange total. Both window frames (ordered
    * row_number, unordered count) and the final groupBy all cluster by
    * `source` — HashPartitioning(source) satisfies every required
    * distribution downstream (the groupBy key (source, n) is a superset),
    * so Catalyst plans a single shuffle and the per-group rank streams
    * through the in-partition sort. No collect_list: per-group state in
    * the agg is O(1), so a 100 TB group never materializes in one task. */
  def q57GroupQuantiles(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    def at(rankExpr: String) =
      max(when(expr(s"rn = $rankExpr"), col("n_chars")))
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(wOrd).cast("bigint"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("source"), col("n"))
      .agg(
        min(col("n_chars")).as("min_chars"),
        at("(n + 1) div 2").as("p50"),
        at("(9 * n + 9) div 10").as("p90"),
        at("(99 * n + 99) div 100").as("p99"),
        max(col("n_chars")).as("max_chars"))
      .select(col("source"), col("n").as("n_docs"), col("min_chars"),
        col("p50"), col("p90"), col("p99"), col("max_chars"))
      .orderBy(col("source"))
  }

  /** q58: consistent bottom-k sample — the 64 documents with the smallest
    * `xxhash64(doc_id)` (signed compare, doc_id tiebreak). The mergeable
    * uniform-sample sketch (Cohen & Kaplan 2007, bottom-k sketches): the
    * SAME rows are drawn every run, every epoch, and on every subset that
    * contains them, which is what makes cross-epoch eval panels and A/B
    * slices comparable — `TABLESAMPLE`/`rand()` give none of that.
    *
    * Scale shape: orderBy+limit plans as TakeOrderedAndProject — each
    * partition keeps a 64-row heap and only k·P candidate rows ever move;
    * no global sort, no full shuffle. This is also the standalone gate for
    * the primitive q51's centroid pick composes (hash-ranked top-k), and
    * the oracle replicates Spark's xxhash64 bit-for-bit in DuckDB
    * ([[SemOracleSql.q58Sql]]). */
  def q58BottomKSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), xxhash64(col("doc_id")).as("h64"))
      .orderBy(col("h64"), col("doc_id"))
      .limit(64)

  /** q59: deterministic holdout split — every document hash-bucketed into
    * train/valid/test (90/5/5) by `pmod(xxhash64(doc_id), 100)`. The
    * eval-split primitive: assignment is a PURE PER-ROW MAP (zero
    * exchanges, no sampling state, no shuffle), so the split is identical
    * on every run, every cluster size, and every subset of the corpus —
    * a document can never migrate between train and test as the corpus
    * grows, which is the property that keeps longitudinal evals honest
    * (rand()-based splits leak). Oracle replicates Spark's xxhash64 +
    * pmod bit-for-bit ([[SemOracleSql.q59Sql]]); spec pins subset
    * stability and the 90/5/5 proportions. */
  def q59HoldoutSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(xxhash64(col("doc_id")), lit(100)).as("bucket")
    t(s, dir, "documents")
      .select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** q60: CONTAINMENT dedup — the asymmetric member of the dedup family
    * (q24 exact, q26 simhash, q27 minhash-Jaccard, q51 embedding):
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| over distinct word
    * trigrams; A with C ≥ 0.9 is (near-)subsumed by B — the quote/
    * excerpt/superset case symmetric Jaccard misses (a short doc fully
    * quoted inside a long one has low Jaccard but containment 1.0).
    * Thresholds all-integer: flag = 10·common ≥ 9·n_a, n_a ≥ 8 grams.
    *
    * Scale shape — PPJOIN-STYLE PREFIX FILTERING (Xiao et al., WWW'08),
    * never all-pairs: grams within each doc are ranked by global
    * (document-frequency, gram) ascending; any B containing ≥0.9 of A
    * must share a gram with A's (n_a − ⌈0.9·n_a⌉ + 1)-element RAREST
    * prefix (pigeonhole — miss the whole prefix and at most ⌈0.9·n_a⌉−1
    * grams remain), so candidate generation joins only prefix grams
    * against the inverted index: frequent grams almost never rank into a
    * prefix, so posting-list blowup is structurally avoided rather than
    * df-capped (capping would break completeness). Candidates then
    * exact-confirm by counting shared grams — candidate-bounded work.
    * Grams ride as 64-bit FNV hashes (one text scan, native expr); the
    * oracle counts the same trigrams as STRINGS (the q39/q42 hash≡string
    * pairing). */
  def q60ContainmentDedup(s: SparkSession, dir: String): DataFrame = {
    // r06: the gram table is persisted DIRECTLY (no scratch-parquet
    // round-trip — the old materialize+persist paid a full write+read job
    // for lineage the cache cut anyway), and the one-row-group scan fans
    // out first so the explode runs on every core, not one. The final
    // result is eagerly materialized below so the cache can be released
    // before returning (never carried across invocations).
    val grams = fanout(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(GraftFunctions.wordNgramHashes(col("text"), 3)).as("g"))
      .persist()
    val gdf = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // prefix length for t = 0.9: n_a − ceil(0.9·n_a) + 1, all-integer.
    // r06: n_a rides the SAME doc_id-partitioned window pass as the df
    // rank (count over the partition — no ordering needed, one exchange,
    // one sort) instead of a separate size aggregate joined back, and is
    // then CARRIED through prefix → candidates → confirm, which deletes
    // both size joins from the old plan (2 Exchange+Join fewer; values
    // identical — n_a is functionally determined by id_a either way).
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = grams.join(gdf, Seq("g"))
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("g"))))
      .withColumn("n_a", count(lit(1)).over(wDoc))
      .filter(col("n_a") >= 8)
    val prefix = ranked
      .filter(col("rn") <= col("n_a") - expr("(9 * n_a + 9) div 10") + 1)
      .select(col("doc_id").as("id_a"), col("n_a"), col("g"))
    val cand = prefix
      .join(grams.select(col("doc_id").as("id_b"), col("g")), Seq("g"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a")).distinct()
    // exact confirm: candidate-bounded — expand A's grams onto the pair,
    // then count matches against B's gram set
    val common = cand
      .join(grams.select(col("doc_id").as("id_a"), col("g")), Seq("id_a"))
      .join(grams.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("n_common"))
    val out = common
      .filter(col("n_common") * 10 >= col("n_a") * 9)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_common"),
        expr("n_common * 10000 div n_a").as("containment_x1e4"))
    // eager materialize + release (q27 discipline): the gram cache must
    // not outlive the call, and a later identical invocation must
    // recompute from the parquet inputs, never read this call's cache
    val result = materialize(s, out)
    grams.unpersist()
    result.orderBy(col("id_a"), col("id_b"))
  }

  /** q61: corpus NOVELTY drift — per deterministic corpus slice ("epoch":
    * 8 contiguous doc_id ranges), the fraction of its distinct word
    * trigrams never seen in an earlier slice. The standard
    * crawl-freshness / dataset-drift monitor: novelty collapsing toward 0
    * means the frontier is re-fetching what the corpus already holds;
    * a spike flags a domain shift entering the training mix.
    *
    * Scale shape: ONE wide shuffle — (gram, slice) pairs group on the
    * 8-byte gram hash with map-side partial aggregation (min(slice) +
    * slice set ≤ 8 entries per gram), then an 8-row final agg; the corpus
    * text is scanned once and never re-shuffled. */
  def q61NoveltyDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / 8 + 1 // 8 contiguous slices, integer-exact
    val perGram = fanout(docs)
      .select(expr(s"doc_id div $width").as("slice"),
        explode(GraftFunctions.wordNgramHashes(col("text"), 3)).as("g"))
      .groupBy(col("g"))
      .agg(min(col("slice")).as("first_slice"),
        collect_set(col("slice")).as("slices"))
    perGram
      .select(col("first_slice"), explode(col("slices")).as("slice"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_slice") === col("slice"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("slice"), col("n_grams"), col("n_new"),
        expr("n_new * 10000 div n_grams").as("novelty_x1e4"))
      .orderBy(col("slice"))
  }

  /** q62: deterministic SALTED GLOBAL SHUFFLE — the training-order
    * primitive: every document gets a reproducible pseudo-random position
    * inside one of `nShards` output shards, ordered by
    * `xxhash64(doc_id, salt)`. Changing the salt (one per training run /
    * epoch) yields an independent permutation of the SAME corpus, which is
    * how a data pipeline re-shuffles between epochs without RNG state,
    * sampling files, or any cross-run coordination — rerun it anywhere,
    * same order (`rand()`/`repartition` give neither reproducibility nor
    * subset auditability).
    *
    * Scale shape: a pure per-row hash map, then ONE exchange on the shard
    * key; the per-shard rank streams inside the sorted window partition
    * (no global sort — each task ranks its own shard). `nShards` is the
    * scale knob: size it to corpus/target-shard-bytes so a window
    * partition always fits one task (16 here; thousands at 100 TB).
    * Oracle replicates Spark's two-argument xxhash64 — the second value
    * hashed with the FIRST hash as its seed — bit-for-bit in staged
    * HUGEINT SQL ([[ShuffleOracleSql.q62Sql]]). */
  def q62ShardShuffle(s: SparkSession, dir: String): DataFrame =
    shardShuffle(s, dir, salt = 7L, nShards = 16)

  private[graft] def shardShuffle(s: SparkSession, dir: String, salt: Long,
      nShards: Int): DataFrame = {
    val h = xxhash64(col("doc_id"), lit(salt))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h64"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), h.as("h64"))
      .withColumn("shard", pmod(col("h64"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** q63: INCREMENTAL dedup — the read-side twin of the crawl loop's
    * URL-seen anti-join (J1), over content instead of URLs: an incoming
    * corpus slice is deduped against the HISTORY fingerprint store without
    * ever rescanning or reshuffling history text. History/incoming split
    * is q59's deterministic hash bucket (buckets 0-89 = history, 90-99 =
    * incoming — in production the store is the prior epochs' fingerprint
    * table); verdict per incoming doc: `dup_history` (content already in
    * the store), `dup_incoming` (a smaller-doc_id incoming copy exists —
    * keep-first discipline, q24's), else `novel`.
    *
    * Scale shape: everything rides the 48-byte (xxhash64, md5) content
    * fingerprint, q24's collision-proof key — text never shuffles. The
    * incoming sliver is distinct-ed and COUNT-GATED (the q56
    * discipline): under the cap it broadcasts into
    * a semi-join probe of the raw history fingerprint stream — history is
    * scanned narrowly ONCE and never exchanged, the inverted-broadcast
    * shape of `SeenSet` — and only the matched-fingerprint sliver
    * (≤ |incoming| rows) flows back. Above the cap both joins fall back to
    * fingerprint-key shuffles, the scale-safe path (spec pins the two
    * paths bit-equal). */
  def q63IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val fpCols = Seq(xxhash64(col("text")).as("h1__"), md5(col("text")).as("h2__"))
    val keys = Seq("h1__", "h2__")
    val docs = t(s, dir, "documents")
      .withColumn("bucket__", pmod(xxhash64(col("doc_id")), lit(100)))
    val hist = docs.filter(col("bucket__") < 90)
      .select(fpCols: _*) // raw fingerprint stream — no distinct: never shuffled
    val inc = docs.filter(col("bucket__") >= 90)
      .select(col("doc_id") +: fpCols: _*)
    val incFps = inc.select(keys.map(col): _*).distinct()
    val cap = s.conf.getOption("graft.incdedup.broadcastCap")
      .map(_.toLong).getOrElse(1000000L)
    val gated = incFps.count() <= cap // incoming epoch ≪ history, usually
    val hits = (if (gated) hist.join(broadcast(incFps), keys, "leftsemi")
                else hist.join(incFps, keys, "leftsemi"))
      .distinct() // dedups the hit SLIVER (≤ |incoming| rows), not history
      .withColumn("in_hist__", lit(true))
    val first = inc.groupBy(keys.map(col): _*)
      .agg(min(col("doc_id")).as("first_id__"))
    inc
      .join(if (gated) broadcast(hits) else hits, keys, "left")
      .join(if (gated) broadcast(first) else first, keys)
      .select(col("doc_id"),
        when(col("in_hist__"), "dup_history")
          .when(col("doc_id") > col("first_id__"), "dup_incoming")
          .otherwise("novel").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** q64: PII REDACTION — the scrub pass every training-data pipeline
    * runs before text leaves curation: emails, international phone
    * numbers, and IPv4 addresses are replaced by typed placeholders and
    * counted per class (the counts feed the compliance report; the
    * redacted text feeds packing). PII is INJECTED deterministically from
    * doc_id (the q35 discipline — the fixture corpus has none) around a
    * real text snippet, so every row exercises all three classes.
    *
    * Patterns are deliberately RE2-safe (no backreferences, no lookaround,
    * only greedy quantifiers over character classes) so Java's regex and
    * DuckDB's RE2 match identically — that cross-dialect determinism is
    * itself part of the contract (a pattern that redacts differently on
    * two engines is a compliance bug). Scale shape: a pure per-row map,
    * zero exchanges before the output sort. */
  def q64PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+[0-9]{1,3}[ 0-9]{6,14}"
    val ipPat = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val body = format_string(
      "contact user%d@example.com or +49 30 %07d office 10.0.%d.%d note: %s",
      col("doc_id"), col("doc_id"), pmod(col("doc_id"), lit(256L)),
      pmod(col("doc_id") * 7, lit(256L)),
      // coalesce: format_string renders a null %s as the literal "null",
      // which DuckDB's || concatenation would instead propagate as NULL —
      // pin the one place the two engines disagree on null handling
      substring(coalesce(col("text"), lit("")), 1, 80))
    fanout(t(s, dir, "documents"))
      .select(col("doc_id"), body.as("body"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("body"), lit(emailPat), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("body"), lit(phonePat), lit(0)))
          .cast("bigint").as("n_phones"),
        size(regexp_extract_all(col("body"), lit(ipPat), lit(0)))
          .cast("bigint").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("body"),
          emailPat, "[EMAIL]"), phonePat, "[PHONE]"), ipPat, "[IP]")
          .as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** q65: SUBSTRING-duplication SPANS — the token-level member of the
    * dedup family (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", 2021: ExactSubstr): a window of L=8
    * consecutive tokens that occurs ≥2 times ANYWHERE in the corpus
    * (another doc or the same one) marks its tokens duplicated; per doc,
    * overlapping/adjacent duplicated windows merge into maximal spans
    * (the units ExactSubstr cuts out) and the output is the per-doc span
    * count, covered-token count, and integer coverage fraction. This
    * catches what the whole-doc family can't: boilerplate headers,
    * quoted rulings, and template paragraphs inside otherwise-novel
    * documents (doc-level Jaccard stays low while 30% of the tokens are
    * verbatim copies).
    *
    * Scale shape — the suffix-array build the paper uses is replaced by
    * the equivalent-for-fixed-L relational form: ONE text scan computes
    * positional gram hashes natively ([[GraftFunctions.wordNgramHashSeq]],
    * codegen); only (doc_id, pos, 8-byte gram hash) rows ever shuffle
    * (text never does). Duplicated grams come from a map-side-combined
    * count on the hash; the position join back is a semi-join AQE
    * broadcasts when the dup set is small (boilerplate-light corpora) and
    * shuffles otherwise — no per-gram position lists are ever collected,
    * so a pathological million-fold boilerplate gram costs its row count,
    * not a collect. The span merge is per-row arithmetic over each doc's
    * own sorted positions (`aggregate` over ≤n_tokens ints — strictly
    * smaller than the doc's text, so it cannot be the row that breaks
    * memory). Oracle: same grams as STRINGS + gaps-and-islands windows
    * (the q39/q42 hash≡string pairing). */
  def q65SubstringDupSpans(s: SparkSession, dir: String): DataFrame = {
    val L = 8
    val docs = fanout(t(s, dir, "documents"))
    // blank test COLLAPSES whitespace runs first, then trims (r06, ADVICE
    // fix): Spark's trim strips only 0x20 spaces, so a tab/newline-only
    // document passed the old raw-text trim test and got n_tokens = 1
    // (split of "" yields [""]) while the oracle, the spec's driver
    // reimplementation (String.trim), and the shared tokenizer
    // (ExprOps.tokenize) all yield 0 — a latent engine⇄oracle divergence
    // the fixture never hit. Collapse-then-trim matches all three;
    // fixture outputs unchanged (verified bit-identical).
    val base = docs.select(col("doc_id"),
      when(col("text").isNull ||
          trim(regexp_replace(col("text"), "\\s+", " ")) === "", 0L)
        .otherwise(size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
          .cast("bigint")).as("n_tokens"))
    val occ = docs
      .select(col("doc_id"),
        posexplode(GraftFunctions.wordNgramHashSeq(col("text"), L))
          .as(Seq("pos", "g")))
    val dupG = occ.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("g"))
    val dupPos = occ.join(dupG, Seq("g"), "leftsemi")
    // per-doc island merge: windows [p, p+L-1] chain while the start gap
    // ≤ L; covered tokens accumulate as (p - prev) inside a chain, L at
    // each chain start — identical to the oracle's gaps-and-islands form
    val merged = dupPos
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
              named_struct('cov', 0L, 'spans', 0L, 'prev', ${-2 * L}L),
              (acc, p) -> named_struct(
                'cov', acc.cov + IF(p - acc.prev <= $L, p - acc.prev, ${L}L),
                'spans', acc.spans + IF(p - acc.prev <= $L, 0L, 1L),
                'prev', CAST(p AS BIGINT)))""").as("st"))
      .select(col("doc_id"), col("st.cov").as("dup_tokens"),
        col("st.spans").as("n_spans"))
    base.join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("dup_frac_x1e4",
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("dup_tokens * 10000 div n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** q66: PMI BIGRAM COLLOCATIONS — corpus-association statistics, the
    * prep pass for tokenizer merges and collocation vocabularies: for
    * every adjacent (ordered) token pair with support ≥ 5, pointwise
    * mutual information ln(p(a,b) / (p(a)·p(b))) with p(a,b) over total
    * bigrams and p(w) over total tokens; top-100 by PMI. High-PMI pairs
    * are the multi-word units ("new york") a subword tokenizer should
    * merge and a stopword-frequency filter would miss (both words can be
    * rare while the pair is near-deterministic).
    *
    * Scale shape: pairs are a pure per-row higher-order transform over
    * each doc's own token array (codegen, no self-join, no window) —
    * exploded (a, b) rows shuffle ONCE with map-side combine; unigram
    * counts are a second narrow scan (recompute-over-cache, the q45
    * discipline — memory bandwidth is the measured ceiling); the two
    * vocab-sized count joins AQE-broadcast at fixture scale and degrade
    * to word-key shuffles beyond, never row-count-sized; the final
    * top-100 is TakeOrderedAndProject (map-side heaps, no global sort).
    * PMI doubles are composed in ONE parenthesization shared bit-for-bit
    * with the DuckDB oracle, and the ×10⁴ half-up floor (q23 convention)
    * absorbs ULP noise. */
  def q66PmiBigrams(s: SparkSession, dir: String): DataFrame = {
    // both corpus passes tokenize via the native codegen n-gram expr
    // (r06): the bigram pass emits "a b" gram strings — tokens contain
    // no spaces, so splitting the gram at its single space with
    // substring_index (codegen) recovers exactly the (a, b) pair the
    // former interpreted transform/sequence/struct chain built; docs
    // under 2 tokens emit nothing in both shapes (empty-below-n).
    val docs = fanout(t(s, dir, "documents"))
    val pairs = docs
      .select(explode(GraftFunctions.wordNgrams(col("text"), 2)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("a"),
        substring_index(col("g"), " ", -1).as("b"))
    val pairCnt = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val uni = docs.select(explode(GraftFunctions.wordNgrams(col("text"), 1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val nBig = pairCnt.agg(sum(col("n_ab")).as("n_big"))
    pairCnt.filter(col("n_ab") >= 5)
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("a"), col("b"), col("n_ab"),
        floor(log(
          (col("n_ab").cast("double") * col("n_tok").cast("double") * col("n_tok").cast("double")) /
            (col("n_big").cast("double") * col("c_a").cast("double") * col("c_b").cast("double"))
        ) * 10000 + 0.5).cast("bigint").as("pmi_x1e4"))
      .orderBy(col("pmi_x1e4").desc, col("a"), col("b"))
      .limit(100)
  }

  /** q67: RATE-SPIKE ANOMALY over the event stream — the ops-side monitor
    * a crawl/ingest pipeline runs continuously: per event type, hourly
    * arrival counts on a DENSE hour grid (missing hours count 0 — a grid
    * join, not just a groupBy, or silence hides the outage), each hour
    * z-scored against its own trailing 24 full hours; z ≥ 3 flags a
    * spike, a zero-variance trailing day flags any arrival.
    *
    * Scale shape: the ONLY row-count-sized work is the first hour×type
    * hash aggregation (one shuffle, map-side combined); everything after
    * runs on #hours × #types rows (8 760/year × a handful — thousands),
    * so the per-type serial window is trivially small no matter the
    * event volume. Cross-engine exactness: the window stats (w, Σn, Σn²)
    * are BIGINT — associative, order-free — and the z-score is composed
    * from them in ONE shared parenthesization of correctly-rounded IEEE
    * ops (×, −, /, sqrt are all exactly rounded, unlike ln), so the
    * double is bit-identical in DuckDB; ×10⁴ half-up floor as usual.
    * Zero-variance windows emit NULL z rather than ±Inf. */
  def q67RateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
    val cnt = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = cnt.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val dense = grid.join(cnt, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
    val fr = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-24, -1)
    dense
      .withColumn("w", count(lit(1)).over(fr))
      .withColumn("s", sum(col("n")).over(fr))
      .withColumn("q", sum(col("n") * col("n")).over(fr))
      .filter(col("w") === 24)
      .withColumn("num",
        col("n").cast("double") * col("w").cast("double") - col("s").cast("double"))
      .withColumn("den2",
        col("w").cast("double") * col("q").cast("double") -
          col("s").cast("double") * col("s").cast("double"))
      .select(col("event_type"), col("h"), col("n"),
        when(col("den2") <= 0, lit(null))
          .otherwise(floor(col("num") / sqrt(col("den2")) * 10000 + 0.5)
            .cast("bigint")).as("z_x1e4"),
        when(col("den2") <= 0, col("num") > 0)
          .otherwise(col("num") / sqrt(col("den2")) >= 3.0).as("is_spike"))
      .orderBy(col("event_type"), col("h"))
  }

  /** q68: WEIGHTED consistent bottom-k sample — priority sampling for
    * weighted corpora (a doc that deserves w× the selection mass of a
    * unit doc should be picked as if present w times; q58's uniform
    * bottom-k can't express that). Weight is an integer w ∈ [1,8]
    * (1 + ⌊bytes/512⌋, capped — any deterministic integer weight slots
    * in); the sample key is the MIN of w independent Spark-exact
    * draws (two-argument xxhash64(doc_id, r), r < w — no id arithmetic
    * to overflow or collide; the replica
    * trick from bottom-k sketch theory, Cohen & Kaplan 2007: the key
    * distribution is exactly that of w copies of the doc, so inclusion
    * probability scales with weight while staying deterministic and
    * repeatable); the sample is the 64 smallest (key, doc_id).
    *
    * Scale shape: the key is a PURE PER-ROW fold — `aggregate` over
    * sequence(0, w−1) collapses the w hashes WITHOUT exploding a row
    * stream (no shuffle, no sampling state), and the top-64 plans as
    * TakeOrderedAndProject (map-side partial heaps, PlanSpec-pinned).
    * Mergeable exactly like q58: bottom-64 of a union ≡ bottom-64 of
    * per-shard bottom-64s — the distributed-merge property the spec
    * pins. Oracle replicates weight, hash chain, min, and signed sort
    * bit-for-bit ([[SemOracleSql.q68Sql]]). */
  def q68WeightedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        least(lit(8L), lit(1L) +
          floor(coalesce(octet_length(col("text")), lit(0)) / 512)).as("wt"))
      .withColumn("key64",
        aggregate(sequence(lit(0L), col("wt") - 1), lit(Long.MaxValue),
          (acc, r) => least(acc, xxhash64(col("doc_id"), r))))
      .orderBy(col("key64"), col("doc_id"))
      .limit(64)

  /** q69: FILL-IN-THE-MIDDLE split — the training-objective prep step
    * (Bavarian et al. 2022: FIM transforms a fraction of pretraining
    * docs into prefix/suffix/middle order with sentinels so the model
    * learns infilling). Two DETERMINISTIC cut points per document —
    * pmod(xxhash64(doc_id, k), n_tokens + 1), k ∈ {0,1}, sorted —
    * split the whitespace-normalized token stream into prefix [0,lo),
    * middle [lo,hi), suffix [hi,n); the emitted text is the PSM
    * reordering `<PRE>prefix<SUF>suffix<MID>middle`. Hash-derived cuts
    * (not rand()) make the transform reproducible per document across
    * runs, cluster sizes, and corpus subsets — the q59 discipline
    * applied to data augmentation.
    *
    * Scale shape: a PURE PER-ROW MAP (tokenize, two hashes, three
    * slices, one concat) — zero exchanges before the output sort; at
    * 100 TB this is scan-bound. Oracle replicates tokenization, the
    * xxhash64 chain, Spark's pmod, 1-based slicing, and the sentinel
    * assembly exactly ([[SemOracleSql.q69Sql]]). */
  def q69FimSplit(s: SparkSession, dir: String): DataFrame = {
    fanout(t(s, dir, "documents"))
      // native codegen tokenizer (ExprOps.tokenize), case-preserving;
      // coalesce maps a null doc to [] (it must still emit its
      // "<PRE><SUF><MID>" sentinel row, not a null)
      .select(col("doc_id"),
        coalesce(GraftFunctions.wordNgrams(col("text"), 1, lowercase = false),
          array().cast("array<string>")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("a", pmod(xxhash64(col("doc_id"), lit(0L)), col("n_tokens") + 1))
      .withColumn("b", pmod(xxhash64(col("doc_id"), lit(1L)), col("n_tokens") + 1))
      .withColumn("lo", least(col("a"), col("b")))
      .withColumn("hi", greatest(col("a"), col("b")))
      .select(col("doc_id"), col("n_tokens"), col("lo"), col("hi"),
        concat(lit("<PRE>"),
          array_join(slice(col("t"), lit(1), col("lo").cast("int")), " "),
          lit("<SUF>"),
          array_join(slice(col("t"), (col("hi") + 1).cast("int"),
            (col("n_tokens") - col("hi")).cast("int")), " "),
          lit("<MID>"),
          array_join(slice(col("t"), (col("lo") + 1).cast("int"),
            (col("hi") - col("lo")).cast("int")), " ")).as("fim_text"))
      .orderBy(col("doc_id"))
  }

  /** q70: BEST-PASSAGE SNIPPET — the search-result highlighting step the
    * reference serves via Solr's highlighter next to every ranked hit
    * (q46 ranks; this extracts what the user sees). For each document
    * matching the fixed query (q46's "spark window vector"), find the
    * 32-token window holding the MOST query-term occurrences; ties
    * break to the earliest window. Canonical snippet anchoring: an
    * optimal window can always start AT a hit (sliding right to the
    * first covered hit never drops one), so anchors range over hit
    * positions only and the result is the (max-hits, min-anchor) hit.
    *
    * Scale shape: computed as a PURE PER-ROW FOLD — hit positions via
    * an indexed transform+filter over the token array, then an O(h²)
    * aggregate over the (tiny) hit list picks the best anchor — so the
    * whole operator is map-only, ZERO exchanges before the output sort
    * (PlanSpec-pinned); the naive formulation (explode positions,
    * window-count, argmax, join text back) shuffles every token AND
    * re-shuffles the corpus for snippet assembly. The oracle IS that
    * naive formulation in DuckDB — two independent shapes, equal
    * integer counts, exact snippet strings. */
  def q70BestPassage(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "window", "vector")
    // native codegen tokenizer (ExprOps.tokenize): null docs yield a null
    // token array, which the size(hp) > 0 filter below drops like an
    // empty one
    val toks = GraftFunctions.wordNgrams(col("text"), 1, lowercase = true)
    val hitPos = filter(
      transform(col("t"), (x, i) =>
        when(x.isInCollection(terms), i.cast("long")).otherwise(lit(-1L))),
      p => p >= 0)
    val best = aggregate(col("hp"),
      struct(lit(0L).as("cnt"), lit(0L).as("pos")),
      (acc, p) => {
        val c = size(filter(col("hp"), q => q >= p && q <= p + 31)).cast("long")
        when(c > acc.getField("cnt"),
          struct(c.as("cnt"), p.as("pos"))).otherwise(acc)
      })
    // tokens and hit positions each behind a barrier: the size(hp) filter
    // stays above both, so neither is evaluated a second time inside it
    withKernel(withKernel(fanout(t(s, dir, "documents")), "t" -> toks), "hp" -> hitPos)
      .filter(size(col("hp")) > 0)
      .withColumn("best", best)
      .select(col("doc_id"),
        col("best").getField("cnt").as("n_hits"),
        col("best").getField("pos").as("start"),
        array_join(slice(col("t"),
          (col("best").getField("pos") + 1).cast("int"),
          least(lit(32L), size(col("t")) - col("best").getField("pos"))
            .cast("int")), " ").as("snippet"))
      .orderBy(col("doc_id"))
  }

  /** q71: SAMPLE QUANTILES — the sketch path for q57: exact nearest-rank
    * quantiles computed over each source's CONSISTENT bottom-32 sample
    * (q58's primitive, per group) instead of the full partition. The
    * estimator every 100 TB profiler actually runs: q57's exact form
    * sorts every row of every group; this touches 32 rows per group
    * after a slim projection, the sample is the SAME every run/subset
    * (deterministic hash ranks, no RNG state), and per-shard samples
    * merge by re-ranking — so group profiles stay comparable across
    * epochs while costing a bounded sort. Quantile picks reuse q57's
    * exact integer nearest-rank arithmetic over the sample size m.
    *
    * Scale shape: one exchange of the slim (source, doc_id, n_chars)
    * projection on the group key; both windows co-partition on it
    * (q57's discipline), and everything after the rank filter runs on
    * ≤32 rows per group. Oracle replicates hash rank, cutoff, and
    * rank picks bit-for-bit ([[SemOracleSql.q71Sql]]). */
  def q71SampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    val wHash = Window.partitionBy(col("source")).orderBy(col("h64"), col("doc_id"))
    val wOrd = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("h64", xxhash64(col("doc_id")))
      .withColumn("rh", row_number().over(wHash))
      .filter(col("rh") <= 32)
      .withColumn("rn", row_number().over(wOrd).cast("bigint"))
      .withColumn("m", count(lit(1)).over(wAll))
      .groupBy(col("source"), col("m"))
      .agg(
        max(when(expr("rn = (m + 1) div 2"), col("n_chars"))).as("p50_est"),
        max(when(expr("rn = (9 * m + 9) div 10"), col("n_chars"))).as("p90_est"))
      .select(col("source"), col("m").as("m_sample"),
        col("p50_est"), col("p90_est"))
      .orderBy(col("source"))
  }

  /** q72: KMV DISTINCT-VOCABULARY estimate — per source, the number of
    * distinct tokens, estimated by the [[graft.expressions.KmvAggregator]]
    * k-minimum-values sketch (k = 256) over the native per-token FNV-64
    * hashes: D̂ = (k−1)·2⁶⁴ div u₍ₖ₎ when the sketch is full, the exact
    * count otherwise. The COUNT(DISTINCT)-at-100-TB primitive: an exact
    * per-group distinct shuffles every distinct token key; the sketch
    * crosses the exchange as ≤256 longs per partition per group
    * (PlanSpec-pinned: ONE source-key exchange, 2-phase ObjectHashAggregate,
    * the token stream never shuffles).
    *
    * Everything is integer arithmetic — the estimate divides in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so no double-rounding
    * hazard — and the sketch is deterministic for the fixed hash, so the
    * oracle replicates it relationally: FNV-1a folded over token bytes
    * with list_reduce, distinct, unsigned rank ≤ k
    * ([[SemOracleSql.q72Sql]]). */
  def q72KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val num = (BigInt(k) - 1) * (BigInt(1) << 64)
    val two64 = BigInt(1) << 64
    t(s, dir, "documents")
      .select(col("source"),
        explode(GraftFunctions.wordNgramHashes(col("text"), 1)).as("h"))
      .groupBy(col("source"))
      .agg(KmvAggregator.kmvAgg(col("h"), k).as("sk"))
      .select(col("source"), size(col("sk")).cast("long").as("n_sketch"),
        when(size(col("sk")) >= k, element_at(col("sk"), k)).as("kth"))
      .select(col("source"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(
            s"""CAST($num AS DECIMAL(38,0)) div
                (CAST(kth AS DECIMAL(38,0)) +
                 CASE WHEN kth < 0 THEN CAST($two64 AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END)"""))
          .as("est_distinct"))
      .orderBy(col("source"))
  }

  /** q73: CHARACTERISTIC TERMS per source — the data-card vocabulary
    * report: for each source, the 10 tokens with the highest
    * tf·ln(N/df) where tf is the source's token count, df the number of
    * sources containing the token, N the source count. Terms every
    * source shares score 0 (ln 1); terms unique to a source score
    * highest — the cross-source contrast a mixture designer reads
    * before weighting (q49/q52's qualitative sibling).
    *
    * Scale shape: ONE corpus-sized exchange — the (source, token) hash
    * agg with map-side combine; everything after runs at VOCABULARY
    * grain (df via a token-partitioned window on the aggregate, N a
    * broadcast scalar, top-10 a source-partitioned row_number). The
    * ln input domain is the ≤N distinct ratios N/df, so cross-engine ln
    * agreement is checkable by enumeration (q66's ln discipline);
    * score composed in ONE shared parenthesization, ×10⁴ half-up
    * floor. */
  def q73TfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("source").isNotNull)
    val tf = docs
      // one row per lowered token of ExprOps.tokenize (native, r06)
      .select(col("source"),
        explode(GraftFunctions.wordNgrams(col("text"), 1)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // driver scalar over the slim source column (q47's bucket-sizing
    // discipline) — NOT over tf, which would run the big agg twice;
    // null sources are excluded on BOTH sides (DuckDB count(DISTINCT)
    // ignores NULL, Spark distinct() would count it)
    val nSrc = docs.select(col("source")).distinct().count()
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("score_x1e4",
        floor(log(lit(nSrc.toDouble) / col("df").cast("double")) *
          col("tf").cast("double") * 10000 + 0.5).cast("bigint"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("score_x1e4").desc, col("tok"))))
      .filter(col("rn") <= 10)
      .select(col("source"), col("tok"), col("tf"), col("df"),
        col("score_x1e4"))
      .orderBy(col("source"), col("score_x1e4").desc, col("tok"))
  }

  /** q74: INVERTED-INDEX BUILD — the postings construction the reference
    * delegates to Solr at indexing time (every crawled document is
    * committed into Solr's inverted index;
    * repository/SolrDocumentRepository.java's save path): per (term,
    * doc) the term frequency, per term the document frequency — the
    * exact relation BM25 (q46) consumes, materialized as an index
    * artifact instead of recomputed per query. Emitted at posting grain
    * (term, doc_id, tf, df), df stamped onto each posting so a reader
    * scans one relation; terms with df = 1 are kept (they are the
    * high-idf matches).
    *
    * Scale shape: ONE corpus-sized exchange — the map-side-combined
    * (term, doc) count; df is a term-partitioned window over the
    * aggregate (vocabulary grain, co-partitioned with nothing bigger).
    * At 100 TB this is the textbook MapReduce index build, expressed
    * declaratively. Oracle is the plain relational form. */
  def q74InvertedIndex(s: SparkSession, dir: String): DataFrame =
    fanout(t(s, dir, "documents"))
      // one row per lowered token of ExprOps.tokenize (native, r06);
      // null/blank docs emit no rows
      .select(col("doc_id"),
        explode(GraftFunctions.wordNgrams(col("text"), 1)).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .orderBy(col("term"), col("doc_id"))

  /** q75: VOCABULARY-GROWTH statistics per source — the Heaps-law data
    * card: total tokens, distinct types, hapax legomena (types seen
    * once), type-token ratio and hapax fraction as ×10⁴ integers. The
    * per-source lexical-diversity report a mixture designer reads next
    * to q73's characteristic terms: a low TTR flags boilerplate/spam
    * sources, a high hapax fraction flags OCR noise or code. Sources
    * whose documents are all blank contribute no tokens and drop out
    * (both engines agree by construction — no 0-division anywhere).
    *
    * Scale shape: ONE corpus-sized exchange — the (source, tok) hash agg
    * with map-side combine; the per-source rollup runs at VOCABULARY
    * grain. All-integer outputs (BIGINT `div`), so the oracle is the
    * plain relational form. */
  def q75VocabGrowth(s: SparkSession, dir: String): DataFrame =
    fanout(t(s, dir, "documents"))
      .filter(col("source").isNotNull)
      // one row per lowered token of ExprOps.tokenize (native, r06)
      .select(col("source"),
        explode(GraftFunctions.wordNgrams(col("text"), 1)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 10000 div n_tokens").as("ttr_x1e4"),
        expr("n_hapax * 10000 div n_types").as("hapax_x1e4"))
      .orderBy(col("source"))

  /** q76: BIGRAM-LM next-token table — for every token w1 occurring ≥ 5
    * times as a bigram head, the most frequent follower w2 and the
    * conditional probability P(w2|w1) as a ×10⁴ integer (exact BIGINT
    * division — no floats anywhere). The cheapest useful language model:
    * its argmax table drives autocomplete-style quality probes and the
    * "predictable text" redundancy signal (q44's repetition rule is the
    * within-document sibling; this is the corpus-level one). Ties break
    * to the lexicographically smaller follower.
    *
    * Scale shape: bigrams never exist as a materialized corpus — one
    * exchange at (w1, w2) grain with map-side combine; head totals are a
    * w1-partitioned window over the aggregate (vocabulary grain) and the
    * argmax a row_number over the same partitioning, so both window
    * passes reuse ONE sort within the same exchange. */
  def q76BigramLm(s: SparkSession, dir: String): DataFrame = {
    val wHead = Window.partitionBy(col("w1"))
    // native codegen bigram stream (r06): "w1 w2" gram strings split at
    // their single space via substring_index — row-for-row equal to the
    // zip_with/slice struct chain over ExprOps.tokenize's tokens (docs
    // under 2 tokens emit nothing in both shapes)
    fanout(t(s, dir, "documents"))
      .select(explode(GraftFunctions.wordNgrams(col("text"), 2)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(wHead))
      .filter(col("c1") >= 5)
      .withColumn("rn", row_number().over(wHead.orderBy(col("c12").desc, col("w2"))))
      .filter(col("rn") === 1)
      .select(col("w1"), col("w2"), col("c1").cast("bigint").as("c1"),
        col("c12"), expr("c12 * 10000 div c1").as("p_x1e4"))
      .orderBy(col("w1"))
  }

  /** q77: COUNT-MIN-SKETCH term frequencies — build one 4×1024 CMS over
    * the corpus's token-occurrence stream with the
    * [[graft.expressions.CmsAggregator]], then answer point queries for a
    * deterministic probe set (the distinct tokens of every 17th
    * document), reporting the exact count next to the sketch estimate.
    * The at-scale frequency primitive: an exact per-token count shuffles
    * the whole vocabulary; the CMS crosses the exchange as ONE 32 KB
    * matrix per partition and answers any point query from it (est ≥
    * exact always — CMS never underestimates).
    *
    * Scale shape: sketch build is a map-side pass over the native
    * token-hash stream (2-phase ObjectHashAggregate, matrix partials
    * only); the probe set broadcasts into the exact-count pass; estimates
    * are computed DECLARATIVELY — bucket indices via the built-in
    * `xxhash64(h, r)` + `pmod` over the broadcast matrix, no UDF on the
    * query path. Exactness of `exact_n` is per 64-bit FNV token key
    * (q24/q72's collision caveat). Oracle: the sketch content rebuilt
    * relationally at vocabulary grain ([[SketchOracleSql.q77Sql]] —
    * FNV char fold + the validated two-argument xxhash64 chain). */
  def q77CmsFreq(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 1024
    val docs = t(s, dir, "documents")
    val occ = fanout(docs).select(
      explode(GraftFunctions.wordNgramHashSeq(col("text"), 1)).as("h"))
    val sketch = occ.agg(CmsAggregator.cmsAgg(col("h"), d, w).as("sk"))
    val probes = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select(explode(GraftFunctions.wordNgrams(col("text"), 1)).as("tok"))
      .distinct()
      .withColumn("h", element_at(GraftFunctions.wordNgramHashes(col("tok"), 1), 1))
    val exact = occ.join(broadcast(probes), Seq("h"))
      .groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).as("exact_n"))
    val est = least((0 until d).map { r =>
      element_at(col("sk"),
        (lit(r * w) + pmod(xxhash64(col("h"), lit(r.toLong)), lit(w.toLong)) + 1)
          .cast("int"))
    }: _*)
    exact.crossJoin(broadcast(sketch))
      .select(col("tok"), col("exact_n"), est.cast("bigint").as("est_n"))
      .orderBy(col("tok"))
  }

  /** q78: ALL-PAIRS document similarity over the INVERTED INDEX — sparse
    * tf·idf cosine between documents that share at least one rare term,
    * computed relationally from q74's postings (the similarity-join the
    * index build exists to serve): weight w = tf · idf_x1e4 (idf the q73
    * ln discipline, half-up ×10⁴ integer), dot products and norms exact
    * BIGINT sums, cosine composed in ONE shared parenthesization
    * `CAST(dot AS DOUBLE) / sqrt(CAST(n1 AS DOUBLE) · CAST(n2 AS
    * DOUBLE))`, top-100 pairs by (cos desc, d1, d2).
    *
    * Scale shape: the DF-CUT (terms with df > 64 never enter the pair
    * join — the standard all-pairs prefix trick: stop-terms generate
    * quadratic candidate mass but carry near-zero idf) bounds every
    * posting list, so the term-keyed self-join emits ≤ df²/2 pairs per
    * term; the join reuses the df-window's term partitioning (no extra
    * exchange), pairs aggregate once on (d1, d2), and the two norm
    * lookups join a pair-grain stream against the doc-grain norm table
    * (AQE broadcasts it at small SF; sort-merge at 100 TB). */
  def q78PostingsSimilarity(s: SparkSession, dir: String): DataFrame = {
    val dfCut = 64
    val docs = t(s, dir, "documents")
    val nDocs = docs.count() // driver scalar: idf's corpus constant
    val tf = docs
      // one row per lowered token of ExprOps.tokenize (native, r06)
      .select(col("doc_id"),
        explode(GraftFunctions.wordNgrams(col("text"), 1)).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val posts = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .filter(col("df") <= dfCut)
      .withColumn("idf_x1e4",
        floor(log(lit(nDocs.toDouble) / col("df").cast("double")) * 10000 + 0.5)
          .cast("bigint"))
      .select(col("term"), col("doc_id"), (col("tf") * col("idf_x1e4")).as("w"))
    // a doc whose kept terms ALL have df = N carries a zero vector (idf 0
    // on every kept term — possible when the corpus has ≤ dfCut docs);
    // dropping it here keeps the cosine's denominator nonzero in BOTH
    // engines (0/0 would be NaN in Spark but a CAST error in DuckDB)
    val norms = posts.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("n2"))
      .filter(col("n2") > 0)
    val pairs = posts.as("a")
      .join(posts.as("b"), col("a.term") === col("b.term") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    pairs
      .join(norms.withColumnRenamed("doc_id", "d1").withColumnRenamed("n2", "na"), "d1")
      .join(norms.withColumnRenamed("doc_id", "d2").withColumnRenamed("n2", "nb"), "d2")
      .select(col("d1"), col("d2"),
        floor(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")) * 10000 + 0.5)
          .cast("bigint").as("cos_x1e4"))
      .orderBy(col("cos_x1e4").desc, col("d1"), col("d2"))
      .limit(100)
  }

  /** q79: DISTRIBUTED K-MEANS (Lloyd) over the embedding table on an
    * EXACT INTEGER GRID — the corpus-clustering primitive behind
    * semantic mixing/curricula (q51's quantizer is one assignment pass;
    * this iterates). Coordinates quantize to floor(x·10⁶) BIGINTs, so
    * squared-Euclidean distances, argmins, and centroid updates are all
    * exact integer arithmetic: k = 8 seeds are the hash-ranked bottom-k
    * by xxhash64(vec_id) (q51/q58's consistent pick), two Lloyd rounds
    * run assign → update with centroids floored back onto the grid via
    * `(v − pmod(v, n)) div n` (sign-safe floor division, identical in
    * both engines), empty clusters keep their previous centroid, ties
    * break to the smaller centroid id. Deterministic end to end — no
    * RNG, no float accumulation order — so the whole ITERATION is
    * value-exact oracle-checkable, not just the final projection.
    *
    * Scale shape: assignment is a MAP-ONLY pass — the k×dim centroid
    * matrix is a constant-size literal (k·dim·8 bytes, the q46
    * broadcast-scalar discipline: per-round driver state is O(k·dim),
    * never O(rows)) folded per row with zip_with/aggregate, no explode,
    * no 8× candidate blowup, no shuffle; the update is ONE exchange at
    * (cid, coordinate) grain with map-side partial sums. Two rounds =
    * two map passes + two tiny aggregations. */
  def q79KmeansLloyd(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    // fanned out: the one-row-group scan otherwise runs all three Lloyd
    // assignment passes (8 × dim integer distances per row) on one core;
    // all aggregates are integer sums, so partitioning never moves a result
    val emb = fanout(t(s, dir, "embeddings")).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("q"))
    val init = emb.withColumn("hs", xxhash64(col("vec_id")))
      .orderBy(col("hs"), col("vec_id")).limit(k)
      .select(col("vec_id"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // assignment via the native codegen argmin (guide §4): the previous
    // transform/aggregate/zip_with chain has no whole-stage-codegen path
    // and its interpreted lambda evaluation was the measured per-row cost;
    // IntL2ArgMinExpr replicates its distance fold and (d, cid) tie order
    // exactly (ExtensionsSpec pins native ≡ declarative on random vectors)
    def assigned(cents: Array[(Long, Array[Long])]): DataFrame =
      emb.withColumn("cid", GraftFunctions.intL2ArgMin(col("q"),
        cents.map { case (cid, v) => (cid, v.toSeq) }.toSeq))
    def updated(a: DataFrame,
        prev: Array[(Long, Array[Long])]): Array[(Long, Array[Long])] = {
      val sums = a.select(col("cid"), posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(i, sv))), x -> x.sv)").as("s"),
          max(col("n")).as("n"))
        .select(col("cid"),
          expr("transform(s, v -> (v - pmod(v, n)) div n)").as("c"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
      prev.map { case (cid, c0) => (cid, sums.getOrElse(cid, c0)) }
    }
    val c1 = updated(assigned(init), init)
    val c2 = updated(assigned(c1), c1)
    assigned(c2).select(col("vec_id"), col("cid")).orderBy(col("vec_id"))
  }

  /** q80: CROSS-SOURCE SHARED-PASSAGE MATRIX — for every pair of
    * sources, how many distinct word-8-gram passages they BOTH contain:
    * the mixing diagnostic that catches syndication, mirror feeds, and
    * boilerplate families BETWEEN corpus slices (q61 measures novelty
    * along time; this measures redundancy across the mixture axis — two
    * sources sharing most of their passages should not both get full
    * mixture weight). Docs shorter than 8 tokens contribute nothing
    * (wordNgramHashSeq's empty-below-n contract, the q65 grain); gram
    * identity is the 64-bit FNV hash (gram-string grouping modulo
    * collisions — q24's exactness argument, stated over gram STRINGS in
    * the oracle).
    *
    * Scale shape: gram text never exists as rows — only (source, hash)
    * pairs shuffle, ONE gram-grain exchange with map-side-combined
    * distinct + a gram-grain source-set agg; pair expansion runs AFTER
    * the agg, bounded by (#sources choose 2) per gram, and the final
    * matrix is ≤ #sources² rows. */
  def q80SharedPassages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source").isNotNull)
      .select(col("source"),
        explode(GraftFunctions.wordNgramHashSeq(col("text"), 8)).as("g"))
      .groupBy(col("g"))
      // collect_set dedups (source, gram) occurrences itself, with a
      // map-side partial — a separate distinct() would add a second
      // corpus-scale exchange for nothing (PlanSpec pins the single
      // gram-grain exchange)
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
             transform(slice(srcs, i + 2, size(srcs) - i - 1),
               b -> named_struct('src_a', a, 'src_b', b))))""")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("src_a"), col("src_b"))

  /** q81: COHORT RETENTION over the event stream — users cohorted by
    * first-seen day; for every (cohort day, day offset) the number of
    * cohort members active that day and the retention fraction as an
    * exact ×10⁴ integer. The classic warehouse curve (the crawl analogue
    * reads host re-visit cadence the same way); offsets only exist for
    * days a user was actually active, so the curve is sparse, and
    * offset 0 always carries retained_x1e4 = 10000 (every member is
    * active on their own first day — spec-asserted).
    *
    * Scale shape: ONE user-grain exchange (map-side-combined
    * collect_set of active days); first-day, offsets, and the per-user
    * explode all derive from that one pass — the (cohort, offset) agg
    * runs at user-days grain and the cohort-size table (≤ #days rows)
    * broadcasts back. No distinct-count anywhere: set membership is
    * established once, so the final counts are plain sums. */
  def q81CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val byUser = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_set(col("d"))).as("days"))
      .withColumn("d0", element_at(col("days"), 1))
    val cohorts = byUser.groupBy(col("d0"))
      .agg(count(lit(1)).as("cohort_size"))
    byUser.select(col("d0"), explode(col("days")).as("d"))
      .withColumn("offset_d", datediff(col("d"), col("d0")).cast("bigint"))
      .groupBy(col("d0"), col("offset_d"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohorts), "d0")
      .select(col("d0").as("cohort_day"), col("offset_d"),
        col("cohort_size"), col("n_active"),
        expr("n_active * 10000 div cohort_size").as("retained_x1e4"))
      .orderBy(col("cohort_day"), col("offset_d"))
  }

  /** q82: SEQUENTIAL FUNNEL (view → click → purchase, strictly
    * increasing timestamps) — the ordered-sequence analytic a plain
    * aggregation cannot express: a click only counts AFTER the user's
    * first view, a purchase only after that click. One output row with
    * the per-stage user counts and exact ×10⁴ stage-to-stage
    * conversions (0-divide guarded: an empty prior stage yields 0).
    *
    * Scale shape: ONE user-grain exchange — per user the (ts, type)
    * pairs collect and sort ONCE, then a declarative `aggregate` fold
    * walks them in time order carrying (t1, t2, t3) state: no second
    * scan of the event table per stage, no join cascade, no
    * mapGroups/UDF. The oracle is deliberately the naive 3-scan
    * relational form (min-after-min joins), so the gate proves
    * fold ≡ relational. Tie discipline: events sort by (ts, type) and
    * later stages require STRICTLY greater timestamps, so equal-time
    * events can never double-advance the funnel in either engine. */
  def q82Funnel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        struct(col("ts"), col("event_type").as("et")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("e"))).as("evs"))
      .select(expr("""
        aggregate(evs,
          named_struct('t1', CAST(NULL AS TIMESTAMP),
                       't2', CAST(NULL AS TIMESTAMP),
                       't3', CAST(NULL AS TIMESTAMP)),
          (acc, x) -> named_struct(
            't1', CASE WHEN acc.t1 IS NULL AND x.et = 'view'
                       THEN x.ts ELSE acc.t1 END,
            't2', CASE WHEN acc.t2 IS NULL AND acc.t1 IS NOT NULL
                            AND x.et = 'click' AND x.ts > acc.t1
                       THEN x.ts ELSE acc.t2 END,
            't3', CASE WHEN acc.t3 IS NULL AND acc.t2 IS NOT NULL
                            AND x.et = 'purchase' AND x.ts > acc.t2
                       THEN x.ts ELSE acc.t3 END))""").as("st"))
      .agg(count(lit(1)).as("n_base"),
        count(col("st.t1")).as("n_view"),
        count(col("st.t2")).as("n_click"),
        count(col("st.t3")).as("n_purchase"))
      .select(col("n_base"), col("n_view"), col("n_click"), col("n_purchase"),
        expr("CASE WHEN n_base = 0 THEN 0 ELSE n_view * 10000 div n_base END")
          .as("conv1_x1e4"),
        expr("CASE WHEN n_view = 0 THEN 0 ELSE n_click * 10000 div n_view END")
          .as("conv2_x1e4"),
        expr("CASE WHEN n_click = 0 THEN 0 ELSE n_purchase * 10000 div n_click END")
          .as("conv3_x1e4"))

  /** q83: TRIANGLE COUNT + local clustering coefficient over the q29
    * similarity graph — the graph-shape report on the near-dup edge set:
    * a high clustering coefficient says near-dups come in dense families
    * (template clusters, q41's connected components will be large), a
    * low one says isolated pairs. Per vertex: degree, triangles through
    * it, and 2·tri/(deg·(deg−1)) as an exact ×10⁴ integer.
    *
    * Scale shape: the textbook DEGREE-ORDERED orientation — every
    * undirected edge points from its (deg, id)-smaller endpoint to the
    * larger, so each triangle is found exactly once from its
    * lowest-degree corner and the wedge join fans out O(m^1.5) total
    * (never deg² on a hub — the skew lever high-degree template
    * clusters would otherwise hit). The O(n²) cosine edge build is
    * q29's (at scale the q41 LSH-confirmed feed is the drop-in edge
    * source); edges materialize ONCE to scratch and feed the degree
    * agg, the wedge self-join, and the closure probe without
    * recomputing the pair scan. All-integer outputs; the oracle
    * replicates orientation, wedges, and closure relationally over the
    * same value-gated cosine edges. */
  def q83TriangleStats(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism)
    val ed = materialize(s,
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")) >= 0.4)
        .select(col("a.vec_id").as("u"), col("b.vec_id").as("v")))
    val deg = ed.select(col("u").as("x")).union(ed.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val withDeg = ed
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("p"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("q"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.p") === col("e2.p") && col("e1.q") < col("e2.q"))
      .join(ed.as("e3"),
        least(col("e1.q"), col("e2.q")) === col("e3.u") &&
        greatest(col("e1.q"), col("e2.q")) === col("e3.v"))
      .select(col("e1.p").as("a"), col("e1.q").as("b"), col("e2.q").as("c"))
    val triPerV = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerV, Seq("x"), "left")
      .select(col("x").as("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering_x1e4",
        expr("""CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
                ELSE n_tri * 2 * 10000 div (deg * (deg - 1)) END"""))
      .orderBy(col("vec_id"))
  }

  /** Document fingerprints (rolling-hash winnowing): fingerprint collision
    * groups. Spark-only (native codegen expression). */
  def q31Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), GraftFunctions.rollingFingerprint(col("text"), 16).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .filter(col("n") >= 2)
      .orderBy(col("keep_id"))

  /** O3: generic "field asc|desc" sort-string parser (reference parses
    * Solr sort strings at repository/SolrDocumentRepository.java:339-364). */
  def q32SortParam(s: SparkSession, dir: String): DataFrame = {
    val sortSpec = "o_totalprice desc" // would arrive from the API caller
    val Array(field, dirn) = sortSpec.split("\\s+")
    val sortCol = if (dirn.equalsIgnoreCase("desc")) col(field).desc else col(field).asc
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(sortCol, col("o_orderkey"))
      .limit(15)
  }

  /** U2: deterministic strided sampling of a date range (recent-first
    * discovery stride, service/SitemapDiscoveryService.java:408-441). */
  def q33StridedSample(s: SparkSession, dir: String): DataFrame =
    s.sql("SELECT explode(sequence(DATE'1995-01-01', DATE'1995-12-31', interval 1 day)) AS d")
      .withColumn("i", datediff(col("d"), lit("1995-01-01").cast("date")).cast("bigint"))
      .filter(pmod(col("i"), lit(7)) === 0)
      .select(col("d"), col("i"))
      .orderBy(col("d"))

  /** P11+P12: full-text assembly (concat_ws over fields, len>threshold
    * guard) + text cleaning (collapse \s+, strip |, trim). */
  def q34FulltextAssembly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(
          concat_ws(" | ", col("source"), col("lang"),
            when(length(col("text")) > 10, col("text")).otherwise(lit(""))),
          "\\s+", " "), "\\|", "/")).as("full_text"))
      .withColumn("ft_len", length(col("full_text")).cast("bigint"))
      .orderBy(col("doc_id"))

  /** A12/P16: distinct valid ECLIs extracted per document from constructed
    * mixed-validity text (regexp_extract_all → validate → array_distinct). */
  def q35EcliExtract(s: SparkSession, dir: String): DataFrame =
    fanout(t(s, dir, "documents"))
      .select(col("doc_id"),
        format_string("ruling ECLI:DE:BGH:2023:%d cites ecli:de:bag:2021:%d and ECLI:XX:BGH:2023:%d dup ECLI:DE:BGH:2023:%d",
          col("doc_id"), col("doc_id"), col("doc_id"), col("doc_id")).as("body"))
      .select(col("doc_id"),
        array_sort(EcliFunctions.extractEclis(col("body"), 2026)).as("eclis"))
      .withColumn("n_eclis", size(col("eclis")).cast("bigint"))
      .select(col("doc_id"), col("n_eclis"), concat_ws(",", col("eclis")).as("eclis_csv"))
      .orderBy(col("doc_id"))

  /** Word n-gram Jaccard near-dup evidence (the n-gram variant of the
    * dedup family) in fully RELATIONAL form: distinct word-3grams per
    * doc → explode → equi-self-join for intersection counts → sizes
    * joined back. Integer outputs only (n_inter, n_union) so the DuckDB
    * parity never touches float rounding; jaccard = n_inter/n_union is
    * derivable. Restricted to a deterministic doc subset — the all-pairs
    * form is quadratic by design here; the scale path is the MinHash
    * pipeline (q27) whose candidates this measure confirms. */
  def q39NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // hashed n-grams (native codegen expr): equality is all the
    // intersection join and the integer outputs need, and the interpreted
    // higher-order string form measured ~10s on 40 docs (FunctionsSpec
    // proves hash/string jaccard equivalence)
    val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"),
        GraftFunctions.wordNgramHashes(col("text"), 3).as("ngs"))
    val sizes = docs.select(col("doc_id"), size(col("ngs")).as("sz"))
    val g = docs.select(col("doc_id"), explode(col("ngs")).as("ng"))
    g.as("a").join(g.as("b"),
        col("a.ng") === col("b.ng") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .filter(col("n_inter") >= 2)
      .select(col("id_a"), col("id_b"),
        col("n_inter").cast("bigint").as("n_inter"),
        (col("sz_a") + col("sz_b") - col("n_inter")).cast("bigint").as("n_union"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q40: the end-to-end training-data CURATION pipeline the LLM-data
    * operators exist to serve, composed as ONE declarative plan so
    * Catalyst fuses the stages: language filter (en) → quality floor →
    * exact near-dup removal (min doc_id per identical text, grouped by
    * the 192-bit content fingerprint so document bytes never shuffle) →
    * deterministic 1-in-5 stride over the survivors. Every stage is
    * DuckDB-expressible, so the whole composition is value-exact against
    * the oracle — the integration check that the per-stage oracles
    * (q21/q22/q23/q24/q33) can't give. Scale shape: one scan, one
    * hash-aggregate shuffle on 48-byte keys, no window, no driver state. */
  def q40CurationPipeline(s: SparkSession, dir: String): DataFrame =
    // ONE native text_stats pass feeds all three derived columns
    withKernel(fanout(t(s, dir, "documents")),
        "st__" -> TextFunctions.textStatsCol(col("text")))
      .select(col("doc_id"), col("text"),
        TextFunctions.langIdFromStats(col("text"), col("st__")).as("pred_lang"),
        TextFunctions.qualityScoreX1e4FromStats(col("st__")).as("quality_x1e4"),
        TextFunctions.tokenCountFromStats(col("st__")).cast("bigint").as("n_tokens"))
      .filter(col("pred_lang") === "en" && col("quality_x1e4") >= 5000)
      .select(col("doc_id"), col("quality_x1e4"), col("n_tokens"),
        xxhash64(col("text")).as("h1__"), md5(col("text")).as("h2__"))
      .groupBy(col("h1__"), col("h2__"))
      // identical text ⇒ identical derived columns, so min() IS the value;
      // min over scalars keeps the agg in codegen HashAggregate (a
      // min_by/struct variant drops to ObjectHashAggregate — measured
      // slower on the crawl spine, same trap here)
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("quality_x1e4")).as("quality_x1e4"),
        min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_copies"))
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("quality_x1e4"), col("n_tokens"),
        col("n_copies"))
      .orderBy(col("doc_id"))

  /** P9/P10 metadata-table extraction: label/value lines parsed into a
    * `MapType(String,String)` column (the reference's td.TD30-label /
    * td.TD70-value walk, service/HtmlContentExtractionService.java:100-138),
    * known labels pulled into typed fields, the REST kept as a map-typed
    * "additional fields" column (`Map<String,String>` analogue).
    *
    * The label/value document is assembled from STORED row data — the
    * source/lang fields plus a cleaned excerpt and length drawn from the
    * `text` column — so the extraction round-trips real unpredictable
    * content and the DuckDB oracle must independently derive the same
    * values from the table (it cannot synthesize them from doc_id
    * arithmetic, the round-1/2 weakness). The synthetic corpus text
    * itself carries no labeled structure to parse; the FULLY-stored-data
    * form of this extraction is c17 ([[CrawlQueries.captionExtraction]]),
    * which regex-parses the persisted crawl captions and is verified
    * against typed columns it never reads. */
  def q37MetadataMap(s: SparkSession, dir: String): DataFrame = {
    // excerpt cleaned of the structural chars (line/pair/kv separators) so
    // the parse is unambiguous — the reference's extractor does the same
    // class of cleanup before keying its map (text cleaning P12)
    val excerpt = regexp_replace(
      substring(coalesce(col("text"), lit("")), 1, 24), "[\\n\\r:,=]", " ")
    val body = concat(
      lit("Quelle: "), col("source"),
      lit("\nSprache: "), col("lang"),
      lit("\nAuszug: "), excerpt,
      lit("\nZeichen: "), col("n_chars").cast("string"))
    t(s, dir, "documents")
      .select(col("doc_id"), str_to_map(body, lit("\n"), lit(": ")).as("meta"))
      .select(col("doc_id"),
        element_at(col("meta"), "Quelle").as("src"),
        element_at(col("meta"), "Sprache").as("lng"),
        map_filter(col("meta"), (k, _) =>
          !k.isin("Quelle", "Sprache")).as("extras"))
      .select(col("doc_id"), col("src"), col("lng"),
        size(col("extras")).cast("bigint").as("n_extras"),
        concat_ws(",", array_sort(transform(map_entries(col("extras")),
          e => concat(e.getField("key"), lit("="), e.getField("value")))))
          .as("extras_csv"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-segment UDAF (2-phase aggregation contract): one bloom per
    * host-bucket over the synthetic frontier; emits bucket + filter size +
    * a probe self-check (all own keys found — no false negatives).
    * Spark-only. */
  def q36BloomUdaf(s: SparkSession, dir: String): DataFrame = {
    import graft.seen.{BloomAggregator, LongBloom}
    val spark = s
    import spark.implicits._
    val keyed = graft.crawl.FrontierSynth.key(
      graft.crawl.FrontierSynth.frontier(s, 5000, 40, 42L, 0), 8).toDF()
      .select(col("host_bucket"), col("url_hash"))
    val segs = keyed.groupBy(col("host_bucket"))
      .agg(BloomAggregator.bloomAgg(col("url_hash"), 4096, 0.01).as("bloom"))
    // self-check runs DISTRIBUTED: broadcast-join the (tiny) segment table
    // back to the keys on host_bucket and probe executor-side, one bloom
    // deserialization per bucket per partition — never collect the keyed
    // frontier to the driver (that pattern is a driver OOM at any real
    // frontier size).
    keyed.join(broadcast(segs), Seq("host_bucket"))
      .select(col("host_bucket"), col("url_hash"), col("bloom"))
      .as[(Int, Long, Array[Byte])]
      .mapPartitions { rows =>
        val cache = scala.collection.mutable.Map.empty[Int, LongBloom]
        rows.map { case (bucket, h, bytes) =>
          val f = cache.getOrElseUpdate(bucket, LongBloom.deserialize(bytes))
          (bucket, bytes.length, if (f.mightContain(h)) 1L else 0L)
        }
      }
      .toDF("host_bucket", "bloom_bytes", "found")
      .groupBy(col("host_bucket"))
      .agg(max(col("bloom_bytes")).as("bloom_bytes"),
        count(lit(1)).as("n_keys"), sum(col("found")).as("n_found"))
      .orderBy(col("host_bucket"))
  }

  /** LSH-confirmed near-dup EDGES — the sub-quadratic edge feed for the
    * q41 clustering: multi-table SRP bucket candidates (OR-amplified LSH,
    * table t seeded `1000 + t`, bit width from [[srpBitsFor]]) joined
    * within (table, bucket), then EXACT cosine confirm ≥ `threshold`.
    *
    * Scale shape: candidate volume ~ n · tables · bucket-occupancy with
    * occupancy held ~constant by the growing bit width — never the
    * all-pairs O(n²) theta join (q29, kept as the exactness baseline).
    * Precision is exact (every emitted edge is confirmed ≥ threshold);
    * recall is the standard LSH trade and is MEASURED, not assumed:
    * ReadsideSpec pins the per-fixture recall vs q29 (deterministic for
    * fixed seeds). On the near-random synthetic fixture at the weak
    * threshold 0.4 the measured recall is 0.95 at sf0.01 / 0.67 at sf0.1
    * with 16 tables — real near-dup corpora sit at far higher cosine
    * where the same parameters recall ≈ 1; pushing THIS fixture to full
    * recall at 0.4 costs more candidate pairs than the exact join
    * (measured: b=4/L=64 generates 8.3M candidate slots vs 2.0M exact
    * pairs at sf0.1), so the exact pass stays the right tool at small n
    * and LSH the right tool at scale. */
  private[graft] def lshNearDupEdges(s: SparkSession, dir: String,
      threshold: Double = 0.4, tables: Int = 16): DataFrame = {
    val eAll = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val nBits = srpBitsFor(eAll.count())
    val e = eAll.repartition(s.sparkContext.defaultParallelism)
    val keyed = e.select(col("vec_id"),
      posexplode(GraftFunctions.srpBuckets(col("embedding"), nBits, tables))
        .as(Seq("t", "bucket")))
    // slim (id, table, bucket) rows shuffle for the bucket join; the
    // embeddings join back by id only for the ≤ candidate-sized confirm
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct() // a pair can collide in several tables
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("emb_a"), col("emb_b")).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Near-dup CLUSTERING: connected components over the LSH-confirmed
    * near-dup edge set ([[lshNearDupEdges]] — NOT the all-pairs q29 join,
    * which stays the exactness/recall baseline) by iterative min-label
    * propagation to a fixpoint — the step that turns pair LISTS into
    * dedup DECISIONS (canonical representative = min vec_id per
    * component; everything else in the component is a near-duplicate of
    * it). Value-gated end to end: the DuckDB oracle replicates the SRP
    * projections, bucket keys, cosine confirm AND the transitive closure
    * bit-for-bit (SrpOracleSql), so the LSH mechanics are part of the
    * gate, exactly as q27's minhash oracle gates its banding.
    *
    * Scale shape: each round is one broadcast-able join + one hash-agg
    * min; rounds = component diameter, which for near-dup graphs is tiny
    * (near-dups of a doc are near-dups of each other). The fixpoint
    * check is a count of changed labels per round; for adversarial
    * diameters swap in alternating large-star/small-star (same relational
    * building blocks, O(log n) rounds — Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Every round's
    * result is cache-materialized so lineage stays one round deep. */
  def q41DedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(s, lshNearDupEdges(s, dir))
      .select(col("id").as("vec_id"), col("rep").as("cluster_rep"),
        col("cluster_size"))
      .orderBy(col("vec_id"))

  /** q42: benchmark DECONTAMINATION — the training-data hygiene pass that
    * flags corpus documents sharing word n-grams with a held-out eval set
    * (the standard n-gram-overlap contamination check, e.g. GPT-3 App. C /
    * Llama eval decontamination). The "benchmark" here is a deterministic
    * slice of the documents table (doc_id % 17 == 3 — stored rows, not
    * synthesized text); a corpus doc is contaminated if any of its
    * distinct word 4-grams appears in any benchmark doc.
    *
    * Scale shape: the benchmark n-gram set is SMALL BY DEFINITION (eval
    * suites are fixed-size regardless of corpus scale), so it broadcasts;
    * the corpus side is one scan whose exploded hashed n-grams hit the
    * broadcast hash table map-side — corpus text never shuffles, and the
    * only exchange is the per-doc count of MATCHED grams (sparse). Same
    * hashed-gram trick as q39: Spark joins 64-bit FNV gram hashes, the
    * DuckDB oracle joins the gram STRINGS — counts agree absent hash
    * collisions (FunctionsSpec pins hash≡string gram equivalence). */
  def q42Contamination(s: SparkSession, dir: String): DataFrame = {
    val grams = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(GraftFunctions.wordNgramHashes(col("text"), 4)).as("ng"))
    val bench = grams.filter(pmod(col("doc_id"), lit(17)) === 3)
      .select(col("ng")).distinct()
    grams.filter(pmod(col("doc_id"), lit(17)) =!= 3)
      .join(broadcast(bench), Seq("ng")) // grams are distinct per doc
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** q43: STRATIFIED sampling — deterministic 1-in-7 per SOURCE stratum
    * by doc_id rank, the corpus-mixing primitive q33's global stride
    * can't give: every stratum is represented (rank 1 always kept) and
    * each contributes ceil(n_g/7) rows, so small sources aren't washed
    * out by large ones. Scale shape: one shuffle on the stratum key +
    * a streamed rank — no driver state; a stratum bigger than one
    * partition's memory is fine (window ranks stream), and a pathological
    * single mega-stratum degrades to q33's global-stride shape (where
    * per-stratum exactness is vacuous anyway). */
  def q43StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(pmod(col("rn") - 1, lit(7)) === 0)
      .orderBy(col("doc_id"))
  }

  /** q44: REPETITION detection — the Gopher/C4-style curation rule that
    * flags boilerplate/spam by the occurrence count of the most common
    * word 2-gram (a doc whose top bigram covers ≳20% of its tokens is
    * template noise, not prose). Pure per-row map over a native codegen
    * expression ([[GraftFunctions.ngramMaxCount]]) — no shuffle, no
    * exploded token stream; integer outputs so the DuckDB parity (which
    * counts string bigrams relationally) never touches float rounding. */
  def q44RepetitionStats(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    fanout(t(s, dir, "documents"))
      .select(col("doc_id"),
        size(split(norm, " ")).cast("bigint").as("n_tokens"),
        GraftFunctions.ngramMaxCount(col("text"), 2).as("max_bigram_n"))
      .withColumn("repetitive", col("max_bigram_n") * 10 >= col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q45: unigram cross-entropy vs the corpus's own LM — the classic
    * perplexity-proxy quality filter (CCNet/Gopher-style: a document whose
    * tokens are improbable under the corpus unigram distribution is noise
    * or out-of-domain). Two aggregate passes: global word counts, then a
    * token→count join folded per document into −avg(ln(c/total)).
    *
    * Scale shape: the token→vocabulary join is Zipf-skewed — a handful of
    * stopwords carry most of the token mass. Rather than shuffling the
    * full exploded token stream on `w` (and relying on AQE skew splits),
    * the join is split: the top-64k head of the vocabulary (covering
    * almost all token instances) is BROADCAST, and only rare-word tokens
    * take the shuffle path — the wide exchange carries the Zipf tail,
    * a small fraction of the stream. Head size is a constant because the
    * head's coverage is a property of the distribution, not the corpus
    * size. Output integer-scaled ×10⁴ (explicit half-up floor, q23
    * convention) so the DuckDB parity never rides a round(double) tie. */
  def q45UnigramXent(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    // tok is deliberately NOT cached: it appears in both join branches,
    // and a scan+split+explode re-run is cheaper at scale than caching a
    // full token stream (memory bandwidth is the measured ceiling).
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(norm, " ")).as("w"))
      .filter(col("w") =!= "")
    val cnt = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = cnt.agg(sum(col("c")).as("t"))
    val head = cnt.orderBy(col("c").desc, col("w")).limit(65536)
    val headHit = tok.join(broadcast(head), Seq("w"))
    val tailHit = tok
      .join(broadcast(head.select(col("w"))), Seq("w"), "left_anti")
      .join(cnt, Seq("w"))
    headHit.unionByName(tailHit)
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_toks"),
        floor(-avg(log(col("c") / col("t"))) * 10000 + 0.5)
          .cast("bigint").as("xent_e4"))
      .orderBy(col("doc_id"))
  }

  /** q46: BM25 relevance ranking — the analogue of the reference's
    * Solr-scored search (SolrDocumentRepository queries rank by Lucene
    * BM25; the engine's q17 was only a boolean LIKE filter). Fixed
    * 3-term query; Lucene's idf form ln((N−df+0.5)/(df+0.5)+1), k1=1.2,
    * b=0.75.
    *
    * Scale shape — ZERO wide exchanges: per-document term frequencies and
    * document length are computed INLINE on the row (array ops over the
    * split token array — no explode, the token stream never exists as
    * rows, nothing shuffles on a word key); corpus stats (N, avgdl, per-
    * term df) are ONE scalar aggregate broadcast back; ranking is
    * orderBy+limit → TakeOrderedAndProject (map-side partial top-k, no
    * global sort). The text is TOKENIZED ONCE: the slim per-doc stats
    * (~40 B/row, ≪0.1% of the text) are materialized to scratch parquet
    * and both the stats aggregate and the scoring pass read that —
    * re-scanning the raw corpus for the second pass would double the
    * dominant I/O at 100 TB. Integer-scaled ×10⁴ score, ordered and CUT
    * by the integer (both engines), so the top-k boundary never rides a
    * double comparison. */
  def q46Bm25Search(s: SparkSession, dir: String): DataFrame =
    q46Bm25SearchFor(s, dir, "spark window vector")

  /** [[q46Bm25Search]] over a RAW user query string, k-term general:
    * terms recovered by [[graft.functions.QuerySanitizer.searchTerms]]
    * (empty/duplicate terms would otherwise match everything /
    * double-count contributions). Contributions are summed in sanitized
    * term order — fixed-input results byte-identical to the fixed-term
    * form the oracle checks. */
  def q46Bm25SearchFor(s: SparkSession, dir: String, rawQuery: String): DataFrame = {
    val terms = graft.functions.QuerySanitizer.searchTerms(rawQuery)
    require(terms.nonEmpty, s"no searchable terms in query: '$rawQuery'")
    val k = terms.length
    // [n_tokens, tf(t_0), …, tf(t_{k-1})] in ONE tokenize pass (native
    // codegen TermFreqsExpr) — vs 1 + k split/array_remove scans of
    // every document; the materialized slim table is projected from the
    // array AFTER the scratch write so the kernel runs once per row.
    val perdoc = materialize(s, t(s, dir, "documents").select(
      col("doc_id"),
      GraftFunctions.termFreqs(col("text"), terms).as("tf")))
      .select(col("doc_id") +:
        element_at(col("tf"), 1).cast("double").as("dl") +:
        (0 until k).map(i =>
          element_at(col("tf"), i + 2).cast("double").as(s"f$i")): _*)
    val glob = perdoc.agg(
      count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl") +:
        (0 until k).map(i =>
          count(when(col(s"f$i") > 0, 1)).cast("double").as(s"df$i")): _*)
    def contrib(fc: org.apache.spark.sql.Column,
        dfc: org.apache.spark.sql.Column) =
      log((col("n") - dfc + 0.5) / (dfc + 0.5) + 1) * (fc * 2.2) /
        (fc + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    perdoc.filter((0 until k).map(i => col(s"f$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(glob))
      .select(col("doc_id"),
        floor((0 until k).map(i => contrib(col(s"f$i"), col(s"df$i")))
          .reduce(_ + _) * 10000 + 0.5)
          .cast("bigint").as("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id"))
      .limit(20)
  }

  /** q47: SEQUENCE PACKING — the GPT-style concat-and-chunk assignment of
    * documents to fixed-length training sequences: tokens are laid out in
    * doc_id order and cut every 512, and each document reports the token
    * span and the first/last sequence it lands in (the map a training-data
    * loader needs to shard example files).
    *
    * The global running token offset is the textbook distributed PREFIX
    * SUM, not a single-partition `Window.orderBy` over the corpus (which
    * serializes the whole table through one task): docs are range-bucketed
    * by a monotone function of doc_id into O(parallelism) buckets, the
    * within-bucket running sum is a bucket-partitioned window (parallel),
    * and the cross-bucket offsets are an exclusive prefix over the
    * O(parallelism)-row bucket-total table — the only unpartitioned window
    * in the plan runs over ~hundreds of rows regardless of corpus size,
    * then broadcasts back. Two scalar driver values (min/max doc_id) size
    * the buckets; all outputs are BIGINTs (token counts and integer
    * divisions — nothing rides a double).
    *
    * The text is TOKENIZED ONCE: the slim (doc_id, n_tok) table (16 B/row)
    * is materialized to scratch parquet and all three consumers (min/max
    * scalar, within-bucket window, bucket totals) read that — otherwise
    * each would re-scan and re-tokenize the raw corpus. */
  def q47SequencePacking(s: SparkSession, dir: String): DataFrame =
    q47WithBuckets(s, dir, s.sparkContext.defaultParallelism.toLong * 8)

  /** q47 with an explicit bucket count — the result is INVARIANT to it
    * (prefix sums are associative; ReadsideSpec pins equality across
    * bucket counts 1, 3, and 1000), so the public entry is free to size
    * buckets from the session's parallelism. */
  private[graft] def q47WithBuckets(s: SparkSession, dir: String,
      nb: Long): DataFrame = {
    val seqLen = 512L
    // native codegen token count (r06): size(wordNgrams(text, 1)) ≡
    // size(array_remove(split(norm, " "), "")) — blank docs 0 both
    // ways, null docs null both ways (filtered below either way)
    val perdoc = materialize(s, withKernel(t(s, dir, "documents"),
        "n_tok" -> size(GraftFunctions.wordNgrams(col("text"), 1, lowercase = true))
          .cast("bigint"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok")))
    prefixStartTok(s, perdoc, nb)
      .select(col("doc_id"), col("n_tok"), col("start_tok"),
        expr(s"start_tok DIV $seqLen").as("first_seq"),
        expr(s"(start_tok + n_tok - 1) DIV $seqLen").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .orderBy(col("doc_id"))
  }

  /** Distributed EXCLUSIVE prefix sum: adds `start_tok` = Σ n_tok over all
    * rows with smaller doc_id, passing every other input column through.
    * Two-phase shape (see q47's scaladoc): bucket-partitioned windows in
    * parallel + an O(nb)-row cross-bucket offset table broadcast back —
    * never a single-task global window over the data. The input is
    * consumed three times (bounds scalar, bucket totals, ranked window):
    * callers materialize/cache it first. */
  private[graft] def prefixStartTok(s: SparkSession, perdoc: DataFrame,
      nb: Long): DataFrame = {
    val mm = perdoc.agg(min(col("doc_id")), max(col("doc_id"))).head
    if (mm.isNullAt(0)) // empty input: empty result, schema + start_tok
      return perdoc.withColumn("start_tok", lit(0L)).limit(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val bWidth = math.max(1L, (hi - lo + nb) / nb) // ceil((hi-lo+1)/nb)
    val bucketed = perdoc
      .withColumn("bucket", expr(s"(doc_id - $lo) DIV $bWidth"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val within = bucketed.withColumn("cum_in", sum(col("n_tok")).over(wIn))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(wB), lit(0L)))
      .select(col("bucket"), col("boff"))
    within.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start_tok", col("boff") + col("cum_in") - col("n_tok"))
      .drop("bucket", "cum_in", "boff")
  }

  /** q48: CHUNK-LEVEL exact dedup — the tractable relational form of
    * exact-substring training-data dedup (Lee et al. 2022's observation
    * that duplicated PASSAGES, not just duplicated documents, drive
    * memorization): each document is cut into non-overlapping 16-word
    * chunks, a chunk occurring in several places is kept only at its
    * first occurrence (lowest doc_id, then chunk position), and each
    * document is reassembled from its surviving chunks.
    *
    * Scale shape: the chunk TEXT crosses exactly ONE wide exchange. The
    * dedup decision runs on a slim (192-bit fingerprint, doc_id,
    * chunk_id) stream — the q24 convention, ~40 B/row — and the ranked
    * keep/drop verdicts are joined back to the text co-partitioned: both
    * sides are explicitly hash-partitioned on doc_id (a subset of the
    * join key, which satisfies the join's clustering requirement), so the
    * text-bearing side shuffles once and the final per-document
    * reassembly aggregate REUSES that partitioning — no doc_id+chunk_id
    * exchange ever materializes (PlanSpec-pinned). The corpus IS scanned
    * twice (decision stream + text side) — here that is the right
    * trade, unlike q46/q47: the reusable intermediate (the chunk table)
    * is corpus-sized, so materializing it would cost a full-corpus
    * write+read against a plain second scan. The DuckDB oracle groups by
    * the chunk STRING — equal results absent 192-bit collisions
    * (~n²/2¹⁹²). */
  def q48ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val cw = 16
    // native codegen tokenizer (r06): wordNgrams(text, 1) ≡
    // array_remove(split(norm, " "), "") (null → null, dropped by the
    // size filter in both shapes)
    val d = withKernel(t(s, dir, "documents"),
        "toks" -> GraftFunctions.wordNgrams(col("text"), 1, lowercase = true))
      .filter(size(col("toks")) > 0)
    val chunks = d
      .withColumn("chunk_id",
        explode(sequence(lit(0L), (ceil(size(col("toks")) / lit(cw.toDouble)) - 1).cast("long"))))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("toks"), (col("chunk_id") * cw + 1).cast("int"), lit(cw))).as("chunk"))
    val w = Window.partitionBy(col("h1__"), col("h2__"))
      .orderBy(col("doc_id"), col("chunk_id"))
    // slim decision stream: fingerprints + ids only, never the text
    val kept = chunks
      .select(col("doc_id"), col("chunk_id"),
        xxhash64(col("chunk")).as("h1__"), md5(col("chunk")).as("h2__"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("chunk_id"), col("rn"))
    chunks.repartition(col("doc_id"))
      .join(kept.repartition(col("doc_id")), Seq("doc_id", "chunk_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_chunks"),
        count(when(col("rn") === 1, 1)).cast("bigint").as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("chunk_id"), col("chunk"))))),
            x => x.getField("chunk"))).as("dedup_text"))
      .orderBy(col("doc_id"))
  }

  /** q49: TEMPERATURE-MIX resampling — the LLaMA/DoReMi-style corpus
    * mixing step q43's fixed 1-in-7 stride can't express: per-source
    * quotas ∝ n_g^α (α=0.5) flatten the source distribution so small
    * sources are upweighted relative to their share, then each source
    * contributes its quota of deterministically scrambled picks.
    *
    * Cross-engine exactness: weights use floor(sqrt(n_g)) — IEEE sqrt is
    * correctly rounded, so the floor is identical on both engines — and
    * everything downstream is INTEGER math (quota = N·w_g DIV Σw — no
    * double sum whose addition order could differ between engines). The
    * per-source pick order is a Lehmer-style integer scramble
    * ((doc_id·48271) mod 65537) — deterministic, identical in SQL, and
    * uncorrelated with doc_id order, i.e. a seeded shuffle, not a prefix.
    * Scale shape: one scalar aggregate over the slim (doc_id, source)
    * projection for the quota table (broadcast back), one shuffle on the
    * source key for the ranked picks — same spine as q43. */
  def q49TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val target = 100L
    val slim = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val counts = slim.groupBy(col("source"))
      .agg(count(lit(1)).as("n_g"))
      .withColumn("w_g", floor(sqrt(col("n_g"))).cast("bigint"))
    val quotas = counts
      .crossJoin(broadcast(counts.agg(sum(col("w_g")).as("w_sum"))))
      .withColumn("quota", expr(s"($target * w_g) DIV w_sum"))
      .select(col("source"), col("n_g"), col("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(pmod(col("doc_id") * 48271, lit(65537L)), col("doc_id"))
    slim
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rn"), col("quota"))
      .orderBy(col("doc_id"))
  }

  /** q50: TRAINING-RUN ASSEMBLY — the end-to-end composition of the
    * round's curation operators as ONE fused pipeline, the integration
    * check the per-stage oracles can't give (q40's role for the earlier
    * stage set): repetition gate (q44's Gopher/C4 top-bigram rule) →
    * length floor → exact content dedup at first occurrence (q24's
    * 192-bit fingerprint convention) → temperature-mix selection (q49's
    * integer-exact α=0.5 quotas) → sequence packing of the selected docs
    * (q47's distributed prefix sum, 256-token sequences).
    *
    * Scale shape: ONE corpus scan computes every per-row stat and the
    * dedup key in a single pass (native `ngram_max_count` + hashes; the
    * text itself never leaves the scan), materialized as a ~60 B/row slim
    * table; dedup shuffles fingerprints, quotas broadcast, packing is the
    * bucket-parallel prefix sum — no stage ever touches the text again.
    * All-integer outputs; value-exact DuckDB oracle over the whole
    * composition. */
  def q50TrainingAssembly(s: SparkSession, dir: String): DataFrame = {
    val seqLen = 256L
    val target = 200L
    // native codegen token count (r06): ≡ size(array_remove(split(norm,
    // " "), "")) — the q47 argument; both per-row kernels sit behind the
    // barrier so the gate below evaluates neither a second time
    val base = materialize(s, withKernel(t(s, dir, "documents"),
        "n_tok" -> size(GraftFunctions.wordNgrams(col("text"), 1, lowercase = true))
          .cast("bigint"),
        "maxbg__" -> GraftFunctions.ngramMaxCount(col("text"), 2))
      .select(col("doc_id"), col("source"), col("n_tok"), col("maxbg__"),
        xxhash64(col("text")).as("h1__"), md5(col("text")).as("h2__"))
      .filter(col("n_tok") >= 16 && col("maxbg__") * 10 < col("n_tok")))
    val wd = Window.partitionBy(col("h1__"), col("h2__"))
      .orderBy(col("doc_id"))
    val surv = base.withColumn("rnd__", row_number().over(wd))
      .filter(col("rnd__") === 1)
      .select(col("doc_id"), col("source"), col("n_tok"))
    val counts = surv.groupBy(col("source"))
      .agg(floor(sqrt(count(lit(1)))).cast("bigint").as("w_g"))
    val quotas = counts
      .crossJoin(broadcast(counts.agg(sum(col("w_g")).as("w_sum"))))
      .withColumn("quota", expr(s"($target * w_g) DIV w_sum"))
      .select(col("source"), col("quota"))
    val wr = Window.partitionBy(col("source"))
      .orderBy(pmod(col("doc_id") * 48271, lit(65537L)), col("doc_id"))
    val sel = materialize(s, surv
      .withColumn("rn", row_number().over(wr).cast("bigint"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("n_tok")))
    prefixStartTok(s, sel, s.sparkContext.defaultParallelism.toLong * 8)
      .select(col("doc_id"), col("source"), col("n_tok"), col("start_tok"),
        expr(s"start_tok DIV $seqLen").as("first_seq"),
        expr(s"(start_tok + n_tok - 1) DIV $seqLen").as("last_seq"))
      .orderBy(col("doc_id"))
  }

  /** Unsigned UTF-8 byte order — the ordering Spark's min/sort uses for
    * StringType (UTF8String binary comparison). Java's String.compareTo
    * is UTF-16 code-unit order, which diverges above the BMP. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side union-find (path-halving + union-by-size) for the
    * count-gated CC path: same output contract as the distributed loop —
    * one (id, rep = min key of component under `lt`, component size) per
    * node appearing in at least one edge. */
  private def localComponents[K](edges: Array[(K, K)],
      lt: (K, K) => Boolean): Seq[(K, K, Long)] = {
    val idx = new java.util.HashMap[K, Integer]()
    val keys = new scala.collection.mutable.ArrayBuffer[K]()
    var parent = new Array[Int](1024)
    var size = new Array[Int](1024)
    def intern(k: K): Int = {
      val e = idx.get(k)
      if (e != null) e.intValue()
      else {
        val i = keys.length
        idx.put(k, Integer.valueOf(i)); keys += k
        if (i >= parent.length) {
          parent = java.util.Arrays.copyOf(parent, parent.length * 2)
          size = java.util.Arrays.copyOf(size, size.length * 2)
        }
        parent(i) = i; size(i) = 1; i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(intern(a)); val rb = find(intern(b))
      if (ra != rb) {
        if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
        else { parent(ra) = rb; size(rb) += size(ra) }
      }
    }
    val n = keys.length
    val minOf = new java.util.HashMap[Integer, Integer]()
    val cnt = new java.util.HashMap[Integer, java.lang.Long]()
    var i = 0
    while (i < n) {
      val r = Integer.valueOf(find(i))
      val cur = minOf.get(r)
      if (cur == null || lt(keys(i), keys(cur.intValue())))
        minOf.put(r, Integer.valueOf(i))
      val c = cnt.get(r)
      cnt.put(r, java.lang.Long.valueOf(if (c == null) 1L else c.longValue() + 1L))
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(K, K, Long)](n)
    i = 0
    while (i < n) {
      val r = Integer.valueOf(find(i))
      out += ((keys(i), keys(minOf.get(r).intValue()), cnt.get(r).longValue()))
      i += 1
    }
    out.toSeq
  }

  /** Reusable min-label connected components over any (id_a, id_b) pair
    * list (the q41 engine, also composed with the c14 image-phash pair
    * graph as c15): returns one (id, rep, cluster_size) row per node that
    * appears in at least one pair, rep = min id of the component.
    *
    * COUNT-GATED (the q56 discipline): the pair list is materialized and
    * counted once; at or under `driverGate` edges (default 2^20 — ~16 MB
    * of key pairs, affordable on any driver) the components are solved in
    * one driver-side union-find pass over the collected edges — zero
    * iteration jobs, bit-identical output (component membership is
    * algorithm-independent; rep = min id under Spark's own ordering, size
    * = exact count). Above the gate, the distributed min-label
    * propagation loop below runs unchanged — near-dup graphs at 100 TB
    * keep the loop; the gate only removes per-round scratch round-trips
    * when the edge set is small by measurement, never by assumption. */
  def connectedComponents(s: SparkSession, pairsIn: DataFrame,
      driverGate: Long = 1L << 20): DataFrame = {
    import s.implicits._
    // materialize the pair list ONCE and cut its lineage: edges references
    // pairs twice (forward + swapped) and every propagation round
    // references edges again — without the cut each round's plan embeds
    // several copies of the pair-producing subtree (measured: OOM at sf0.1
    // from concurrent broadcast/sort copies). The cut is STORAGE-BACKED
    // (scratch parquet), not localCheckpoint: local checkpoints live in
    // executor block storage, so on a real cluster an executor loss
    // mid-loop kills the job and the blocks pin executor memory for the
    // loop's whole life.
    val pairs = materialize(s, pairsIn.select(col("id_a"), col("id_b")))
    val nEdges = pairs.count() // parquet metadata count — no recompute
    if (nEdges <= driverGate) {
      import org.apache.spark.sql.types.{LongType, StringType}
      pairs.schema("id_a").dataType match {
        case LongType =>
          val rows = localComponents[Long](
            pairs.as[(Long, Long)].collect(), _ < _)
          return s.createDataset(rows.toSeq).toDF("id", "rep", "cluster_size")
        case StringType =>
          // min over StringType in Spark compares UTF8String bytes
          // (unsigned UTF-8 order, = code-point order) — NOT Java's
          // UTF-16 compareTo; match it exactly
          val rows = localComponents[String](
            pairs.as[(String, String)].collect(), utf8Lt)
          return s.createDataset(rows.toSeq).toDF("id", "rep", "cluster_size")
        case _ => // unsupported key type: fall through to the loop
      }
    }
    val edges = materialize(s, pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
      .persist()
    // each round MUST cut lineage (scratch parquet), not merely cache:
    // `labels` appears three times in a round's plan (propagation union,
    // join, convergence check), so without the cut the analyzed logical
    // plan TREBLES per round — exponential plan growth that OOMs the
    // driver long before the data (bytes) matters. Caching does not help:
    // Spark still carries and re-analyzes the full logical tree.
    var labels = materialize(s, edges.select(col("id_a").as("id")).distinct()
      .withColumn("rep", col("id")))
    var changed = 1L
    var rounds = 0
    val maxRounds = 50
    while (changed > 0 && rounds < maxRounds) {
      val viaEdges = edges
        .join(labels.select(col("id").as("id_b"), col("rep").as("nrep")), Seq("id_b"))
        .select(col("id_a").as("id"), col("nrep").as("rep"))
      // (a pointer-jumping variant — also adopt the rep OF the rep, for
      // O(log D) rounds — measured NEUTRAL here: near-dup components have
      // tiny diameters, so the extra join per round buys nothing; kept
      // out per the negative-results record. It, or large-star/small-star,
      // is the swap-in if component diameters ever grow adversarial.)
      val next = materialize(s, labels.unionByName(viaEdges)
        .groupBy(col("id")).agg(min(col("rep")).as("rep")))
      changed = next
        .join(labels.select(col("id"), col("rep").as("old")), Seq("id"))
        .filter(col("rep") =!= col("old")).count()
      labels = next
      rounds += 1
    }
    // fail loudly on non-convergence: silently returning partial labels
    // would diverge from the recursive-CTE oracle with no error signal
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents: min-label propagation did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — component diameter exceeds the " +
          "cap; swap in the large-star/small-star O(log n) variant")
    val sizes = labels.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    val out = labels
      .join(sizes, Seq("rep"))
      .select(col("id"), col("rep"), col("cluster_size"))
    // scratch-parquet lineage cut instead of collect+createDataFrame: the
    // labeled node set is NOT small relative to the corpus on a high-dup
    // corpus — never materialize it on the driver
    val result = materialize(s, out)
    edges.unpersist()
    result
  }
}
