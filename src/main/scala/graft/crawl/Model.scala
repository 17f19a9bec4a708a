package graft.crawl

import java.sql.Timestamp

/** Typed rows of the crawl engine (SURVEY.md §1.3).
  *
  * Reference analogues:
  *  - [[FrontierUrl]] ↔ `SitemapCrawlerService.DocumentEntry` (url, lastmod)
  *    plus its position in the sitemap tree (the reference crawl order:
  *    date asc → sitemap position → entry position,
  *    service/CrawlerOrchestrationService.java:59-76);
  *  - [[KeyedUrl]]    ↔ the entry after docid extraction + canonicalization
  *    (service/SitemapCrawlerService.java:174-186,203-214);
  *  - [[FetchResult]] ↔ `LegalDocument` after download+extraction, with the
  *    image+caption payload shape from BASELINE.json input_hint
  *    (image_id, bytes, w, h, fmt, caption, phash);
  *  - [[EpochMetrics]] ↔ `BulkCrawlProgress` counters
  *    (model/BulkCrawlProgress.java:50-121).
  */
case class FrontierUrl(
    frontier_seq: Long,
    url: String,
    host: String,
    sitemap_seq: Long,
    entry_seq: Long,
    lastmod: Timestamp,
    discovered_epoch: Int)

case class KeyedUrl(
    url_canon: String,
    url_hash: Long,
    docid: String,
    court: String,
    host: String,
    host_bucket: Int,
    path: String,
    sitemap_seq: Long,
    entry_seq: Long,
    discovered_epoch: Int,
    lastmod: Timestamp)

/** A keyed URL admitted for fetch this epoch with its politeness slot
  * (1-based sequential position within its host's per-epoch budget). */
case class AdmittedUrl(
    url_canon: String,
    url_hash: Long,
    docid: String,
    court: String,
    host: String,
    host_bucket: Int,
    path: String,
    sitemap_seq: Long,
    entry_seq: Long,
    discovered_epoch: Int,
    lastmod: Timestamp,
    slot: Int)

/** Crawl status machine — reference
  * model/LegalDocument.java:129-131 (PENDING→DOWNLOADED→PROCESSED/FAILED)
  * plus REJECTED for sanitizer-style refusals (util/XmlSanitizer.java). */
object Status {
  val Pending = "PENDING"
  val Downloaded = "DOWNLOADED"
  val Processed = "PROCESSED"
  val Failed = "FAILED"
  val Rejected = "REJECTED"
}

case class FetchResult(
    image_id: String,
    url_hash: Long,
    url_canon: String,
    host: String,
    host_bucket: Int,
    crawl_epoch: Int,
    slot: Int,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    status: String,
    psnr: Double,
    /** Typed failure/reject classification (P19/P26 analogue of the
      * reference's XmlValidationException error types,
      * util/XmlSanitizer.java:33-46): OVERSIZE | DIMENSION_BOMB |
      * NET_TRANSIENT | DECODE_ERROR | PSNR_FLOOR | META_MISMATCH,
      * empty for PROCESSED rows. */
    reject_reason: String,
    /** Multimodal features computed AT FETCH TIME from the decode the
      * validator already paid for (Multimodal.lumaEdgeStats) — the
      * single-decode discipline: the read side (c11) aggregates these
      * stored columns and never touches `bytes` again. Zero for rows
      * that never decoded. */
    mean_luma: Double = 0.0,
    std_luma: Double = 0.0,
    edge_energy: Double = 0.0)

case class EpochMetrics(
    epoch: Int,
    n_candidates: Long,
    n_robots_denied: Long,
    n_dup_in_epoch: Long,
    n_seen_skipped: Long,
    n_admitted: Long,
    n_deferred: Long,
    n_processed: Long,
    n_failed: Long,
    n_rejected: Long,
    bytes_written: Long,
    n_hosts: Long,
    /** A8/A9/A11 derived progress metrics (reference
      * model/BulkCrawlProgress.java:254-329: rate, ETA, progress-%).
      * Wall-clock measurements — NOT part of the deterministic
      * equivalence surface (the counters above are). */
    duration_ms: Long = 0L,
    urls_per_sec: Double = 0.0,
    progress_pct: Double = 0.0,
    eta_ms: Long = 0L)

/** Per-(epoch, host_bucket) lineage row — which partition wrote what.
  * `n_hosts` is the exact distinct-host count of the partition, counted
  * as its `slot = 1` rows (hosts never span buckets, so these sum to the
  * epoch's global host count). */
case class PartitionLineage(
    epoch: Int,
    host_bucket: Int,
    n_rows: Long,
    n_bytes: Long,
    n_hosts: Long,
    min_url_hash: Long,
    max_url_hash: Long)
