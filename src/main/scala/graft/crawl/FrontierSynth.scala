package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.UrlFunctions

/** Deterministic seeded frontier generator — the synthetic stand-in for the
  * reference's sitemap-index → sitemap → url expansion
  * (service/SitemapCrawlerService.java:57-169). Pure column expressions
  * over `spark.range(n)`: no data movement, no RNG state, generation is
  * embarrassingly parallel and identical at any partitioning — which is
  * what lets the same generator drive a 10^10-row frontier on a cluster.
  *
  * Fixture properties (FIXTURES.md §1):
  *  - Zipf-ish host skew (log-uniform over `numHosts`, so host 0 is hot);
  *  - ~20% of rows duplicate an earlier row's URL (dedup fixture): rows
  *    with `id >= 0.8n` re-draw their identity from the GLOBAL id-domain
  *    `[0, 0.8·(epochOffset+n))` — spanning all earlier epochs — so an
  *    epoch-1+ dup row can hit an epoch-0 identity and exercise the
  *    URL-seen skip / forceUpdate / delete-re-crawl paths end-to-end
  *    (an epoch-local domain leaves the cross-epoch seen store unhit);
  *  - ~5% of URLs carry injected whitespace noise (canonicalization
  *    fixture) — noise position varies but canonical form is identical;
  *  - 1/8 of the dup-class rows are MIRRORS: same docid + host under a
  *    second path (/jportal/mirror) — a distinct URL serving the same
  *    document (image content is docid-keyed), the cross-URL
  *    content-dedup fixture (c14);
  *  - ~3% of URLs live under a /private/ path (robots fixture);
  *  - docid prefixes cycle {KARE,KORE,KSRE,WBRE,JURE} (court-map fixture,
  *    JURE → UNKNOWN);
  *  - `sitemap_seq`/`entry_seq` = position indices (1000 entries per
  *    sitemap) — they define the reference crawl order.
  */
object FrontierSynth {

  val UrlsPerSitemap = 1000L

  /** Generate `n` frontier rows for `epoch`, deterministically from `seed`.
    * Row ids are globally unique across epochs via `epochOffset`.
    *
    * Epoch-varying values (`epoch`, `epochOffset`, `dupDomain`) enter the
    * plan as [[graft.expressions.ParamLit]] bound parameters, not literals:
    * every epoch's frontier plan then generates byte-identical code and the
    * whole-stage-codegen cache hits instead of recompiling per epoch. */
  def frontier(spark: SparkSession, n: Long, numHosts: Int, seed: Long,
      epoch: Int, epochOffset: Long = 0L): DataFrame = {
    import graft.expressions.ParamLit
    val freshPerEpoch = math.max(1L, (n * 4) / 5)
    val dupDomain = math.max(1L, ((epochOffset + n) * 4) / 5)
    val pOffset = ParamLit.long(epochOffset)
    // one select per dependency level (the shape the optimizer collapses a
    // per-column chain into): each builder call re-analyses the whole plan
    val id = col("id")
    val seq = col("frontier_seq")
    val (r1, r2, r3) = (col("r1"), col("r2"), col("r3"))
    val hostIdx = col("host_idx")
    spark.range(n)
      // identity key: last 20% of each slice re-draw from the global
      // domain (duplicate fixture, cross-epoch); the rest are fresh
      .select((id + pOffset).as("frontier_seq"), id,
        when(id >= freshPerEpoch,
          pmod(xxhash64(lit(seed), lit(7L), id + pOffset), ParamLit.long(dupDomain)))
          .otherwise(id + pOffset).as("doc_key"))
      .select(seq, id,
        xxhash64(lit(seed), col("doc_key")).as("r1"),
        xxhash64(lit(seed + 1), col("doc_key")).as("r2"),
        xxhash64(lit(seed + 2), seq).as("r3")) // per-row, not per-key: noise
      // Zipf-ish host: log-uniform index over [0, numHosts)
      .select(seq, id, r1, r2, r3,
        least(floor(pow(lit(numHosts.toDouble),
          pmod(r1, lit(1000003L)).cast("double") / 1000003.0)) - 1.0,
          lit((numHosts - 1).toDouble)).cast("long").as("host_idx"))
      // r06: concat/lpad instead of format_string — java.util.Formatter
      // re-parses the format per ROW and was ~19% of busy executor
      // samples in the 32-core crawl profile; lpad/concat are codegen
      // string ops. Byte-identical: %04d pads to AT LEAST 4 (never
      // truncates), hence the >9999 guard mirroring Formatter semantics.
      .select(seq, r1, r3,
        concat(lit("h"),
          when(hostIdx > 9999L, hostIdx.cast("string"))
            .otherwise(lpad(hostIdx.cast("string"), 4, "0")),
          lit(".courts.example")).as("host"),
        element_at(
          array(lit("KARE"), lit("KORE"), lit("KSRE"), lit("WBRE"), lit("JURE")),
          (pmod(r1, lit(5L)) + 1).cast("int")).as("prefix"),
        pmod(r2, lit(10000000L)).as("docnum"),
        // mirror fixture: 1/8 of the dup-class rows (per-ROW r3 draw, so
        // the same doc_key re-drawn elsewhere stays a plain URL-dup)
        // republish their document under a second path — same host, same
        // docid, DIFFERENT canonical URL. These are what give the crawled
        // corpus true cross-URL duplicate images (the content is keyed by
        // docid, Outcomes.contentKey): the c14 phash near-dup query and
        // any content dedup over the payload table have real work to do.
        when(pmod(r2, lit(31L)) === 0, lit("/private/docs"))
          .otherwise(when(id >= freshPerEpoch && pmod(r3, lit(8L)) === 0,
            lit("/jportal/mirror"))
            .otherwise(lit("/jportal/docs"))).as("path"))
      // docnum ∈ [0, 10⁷) by construction (pmod), so lpad(…, 7, "0") is
      // exactly %07d here — no truncation case exists
      .select(seq, r1, r3, col("host"), concat(
        lit("https://"), col("host"), col("path"), lit("/?quelle=jlink&docid="),
        col("prefix"), lpad(col("docnum").cast("string"), 7, "0"),
        lit("&psml=bsjrsprod.psml&max=true")).as("url_clean"))
      .select(seq,
        // whitespace-noise fixture: ~5% of ROWS get a tab+newline injected
        when(pmod(r3, lit(20L)) === 0,
          regexp_replace(col("url_clean"), "&psml", "\t\n&psml"))
          .otherwise(col("url_clean")).as("url"),
        col("host"),
        (seq / UrlsPerSitemap).cast("long").as("sitemap_seq"),
        pmod(seq, lit(UrlsPerSitemap)).as("entry_seq"),
        timestamp_add("DAY", pmod(r1, lit(365L)),
          to_timestamp(lit("2025-01-01 00:00:00"))).as("lastmod"),
        ParamLit.int(epoch).as("discovered_epoch"))
  }

  /** Canonicalize + key a frontier (P3-P6): the columns every downstream
    * stage joins/partitions on. `buckets` = salted host-bucket count. */
  def key(frontier: DataFrame, buckets: Int): Dataset[KeyedUrl] = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val canon = col("url_canon")
    val carried = Seq("host", "sitemap_seq", "entry_seq", "lastmod", "discovered_epoch").map(col)
    frontier
      .select(carried ++ Seq(UrlFunctions.canonicalizeUrl(col("url")).as("url_canon"),
        UrlFunctions.urlHash(col("url")).as("url_hash")): _*)
      .select(carried ++ Seq(canon, col("url_hash"),
        UrlFunctions.extractDocId(canon).as("docid")): _*)
      .select(canon, $"url_hash", $"docid", UrlFunctions.courtOf($"docid").as("court"),
        $"host", UrlFunctions.hostBucket($"host", buckets).as("host_bucket"),
        regexp_extract(canon, "^https?://[^/]+(/[^?]*)", 1).as("path"),
        $"sitemap_seq", $"entry_seq", $"discovered_epoch", $"lastmod")
      .as[KeyedUrl]
  }
}
