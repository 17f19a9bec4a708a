package graft.crawl

import org.apache.spark.sql.Dataset

/** Typed security/validation predicates over the declared wire header —
  * the P17/P19 analogue of the reference's XmlSanitizer guards
  * (util/XmlSanitizer.java:33-46,53-54,201-241): each reject carries a
  * typed reason routed to the payload/metrics tables, like the
  * reference's XmlValidationException error types. */
object SecurityPredicates {
  /** 10 MB cap analogue (util/XmlSanitizer.java:53-54). */
  val MaxDeclaredBytes: Long = 10L * 1024 * 1024
  /** Decompression-bomb guard: declared pixel count vs what a sane
    * payload can hold (billion-laughs analogue,
    * util/XmlSanitizer.java:201-241). */
  val MaxDeclaredPixels: Long = 1L << 26

  object Reason {
    val Oversize = "OVERSIZE"
    val DimensionBomb = "DIMENSION_BOMB"
    val NetTransient = "NET_TRANSIENT"
    val DecodeError = "DECODE_ERROR"
    val PsnrFloor = "PSNR_FLOOR"
    val MetaMismatch = "META_MISMATCH"
  }

  /** Reject reason for a declared (length, width, height), or None. */
  def check(declaredLen: Long, declaredW: Long, declaredH: Long): Option[String] =
    if (declaredLen > MaxDeclaredBytes) Some(Reason.Oversize)
    else if (declaredW * declaredH > MaxDeclaredPixels) Some(Reason.DimensionBomb)
    else None
}

/** S2 gzip-aware transport decode — the reference decompresses
  * `Content-Encoding: gzip` responses before parsing
  * (service/SitemapCrawlerService.java:100-124). ~5% of the simulated wire
  * payloads arrive gzip-wrapped ([[Outcomes.isGzip]]); [[decodeBody]]
  * sniffs the gzip magic and inflates with a hard expansion cap (the
  * decompression-bomb guard — P19's zip-bomb analogue on the transport
  * layer) before the image decode sees the body. */
object Transport {
  private val Magic0: Byte = 0x1f.toByte
  private val Magic1: Byte = 0x8b.toByte

  // r06: GZIPOutputStream/GZIPInputStream construct a fresh
  // Deflater/Inflater PER CALL, and each construction + close
  // registers/deregisters a Cleaner entry on a globally SYNCHRONIZED
  // linked list — at 32 fetch threads `PhantomCleanable.remove` was a
  // top busy leaf frame in jstack samples of the crawl stage. The wire
  // bytes are transient (the DECOMPRESSED body is what is validated and
  // stored), so the codec needs round-trip fidelity, not cross-JVM byte
  // stability: one Deflater/Inflater/CRC32 per THREAD, reset per call —
  // zero per-call native-state churn. Same RFC 1952 single-member frame
  // GZIPOutputStream writes (fixed 10-byte FLG=0 header, deflate body,
  // CRC32+ISIZE trailer), and the decoder verifies both trailer fields
  // like GZIPInputStream does. Deliberate narrowing: concatenated
  // multi-member streams (which GZIPInputStream transparently joins) are
  // rejected — no producer in this engine or its fixtures emits them.
  private val deflTL = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true))
  private val inflTL = ThreadLocal.withInitial[java.util.zip.Inflater](() =>
    new java.util.zip.Inflater(true))
  private val crcTL = ThreadLocal.withInitial[java.util.zip.CRC32](() =>
    new java.util.zip.CRC32)

  def gzip(body: Array[Byte]): Array[Byte] = {
    val d = deflTL.get(); d.reset()
    val crc = crcTL.get(); crc.reset(); crc.update(body)
    val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0), 0, 10)
    d.setInput(body); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      bos.write(buf, 0, n)
    }
    val v = crc.getValue
    val isize = body.length.toLong
    bos.write(Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte,
      (isize & 0xff).toByte, ((isize >> 8) & 0xff).toByte,
      ((isize >> 16) & 0xff).toByte, ((isize >> 24) & 0xff).toByte), 0, 8)
    bos.toByteArray
  }

  def isGzipped(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 && b(0) == Magic0 && b(1) == Magic1

  /** Transparent body decode: passthrough for identity encoding, inflate
    * for gzip; None on a corrupt stream (bad deflate data, truncation,
    * CRC or ISIZE mismatch) or past the expansion cap. Accepts the full
    * RFC 1952 member header (FEXTRA/FNAME/FCOMMENT/FHCRC skipped like
    * GZIPInputStream parses them; the header CRC16 itself is not
    * verified — the content CRC32 still guards every output byte). */
  def decodeBody(wire: Array[Byte],
      maxLen: Long = SecurityPredicates.MaxDeclaredBytes): Option[Array[Byte]] = {
    if (!isGzipped(wire)) return Option(wire)
    try {
      if (wire.length < 18 || wire(2) != 8) return None // CM must be deflate
      val flg = wire(3) & 0xff
      var p = 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > wire.length) return None
        p += 2 + ((wire(p) & 0xff) | ((wire(p + 1) & 0xff) << 8))
      }
      if ((flg & 8) != 0) { while (p < wire.length && wire(p) != 0) p += 1; p += 1 }
      if ((flg & 16) != 0) { while (p < wire.length && wire(p) != 0) p += 1; p += 1 }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p >= wire.length - 8) return None
      val inf = inflTL.get(); inf.reset()
      inf.setInput(wire, p, wire.length - p)
      val out = new java.io.ByteArrayOutputStream(math.min(wire.length * 4L, 1 << 16).toInt)
      val buf = new Array[Byte](8192)
      val crc = crcTL.get(); crc.reset()
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // zero progress while unfinished = truncated input or a needed
        // preset dictionary — both corrupt for this transport (also the
        // loop-termination guarantee: every iteration progresses or exits)
        if (n == 0 && !inf.finished()) return None
        out.write(buf, 0, n)
        crc.update(buf, 0, n)
        if (out.size() > maxLen) return None // bomb guard
      }
      val rem = inf.getRemaining
      if (rem != 8) return None // exactly one member + trailer
      val tOff = wire.length - 8
      def le32(o: Int): Long = (wire(o) & 0xffL) | ((wire(o + 1) & 0xffL) << 8) |
        ((wire(o + 2) & 0xffL) << 16) | ((wire(o + 3) & 0xffL) << 24)
      if (le32(tOff) != crc.getValue ||
          le32(tOff + 4) != (out.size().toLong & 0xffffffffL)) return None
      Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }
}

/** Simulated fetch → decode → validate stage (SURVEY.md §2.1 S4, §2.2
  * P17-P26) as a typed `mapPartitions`: in production one HTTP client per
  * partition; here a deterministic generator keyed on url_hash. The
  * validation path is real:
  *  - security predicates on the declared header BEFORE fetch/decode
  *    (P17 oversize + P19 bomb guard), rejects carry typed reasons;
  *  - decode the wire bytes (well-formedness, P21 analogue);
  *  - lossy payloads must reach PSNR ≥ 40dB vs the source pixels,
  *    lossless must be bit-exact (input_hint invariant);
  *  - caption must equal the expected caption exactly;
  * violations land as FAILED/REJECTED with the status machine of
  * model/LegalDocument.java:129-131 plus a typed reject_reason column.
  */
/** Ad-hoc payload validation — the on-demand analogue of the reference's
  * `XmlValidationController` (validate a user-supplied document outside
  * the crawl path) over an arbitrary binary column: the same security
  * predicates + transport decode + structural decode + meta-consistency +
  * PSNR checks the fetch pipeline applies, but as a standalone query
  * returning one typed (ok, reason, psnr) row per payload, not an
  * aggregate (c05/c09 only expose the rolled-up outcomes). */
object Validate {

  /** Input columns: (image_id, bytes, w, h, fmt, url_canon) — w/h/fmt are
    * the DECLARED metadata; the docid extracted from url_canon (same P4
    * semantics as the keying stage) is the content identity that keys the
    * source pixels for the PSNR invariant (pass any frame with those
    * columns; extra columns are ignored). Output: (image_id, ok, reason,
    * psnr).
    *
    * A gzip-wired body must be ONE gzip member ([[Transport.decodeBody]]):
    * a legal concatenated multi-member stream, which `GZIPInputStream`
    * would join, is a DECODE_ERROR here, as is a truncated member. An
    * optional FHCRC header CRC is skipped, not verified. */
  def validatePayload(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import SecurityPredicates.Reason
    val docidRe = java.util.regex.Pattern.compile("docid=([A-Z0-9]+)")
    df.select("image_id", "bytes", "w", "h", "fmt", "url_canon")
      .as[(String, Array[Byte], Int, Int, String, String)]
      .map { case (id, bytes, dw, dh, dfmt, urlCanon) =>
        val declaredLen = if (bytes == null) 0L else bytes.length.toLong
        val sec = SecurityPredicates.check(declaredLen, dw.toLong, dh.toLong)
        if (sec.isDefined) (id, false, sec.get, 0.0)
        else Transport.decodeBody(bytes).flatMap(ImageCodec.decode) match {
          case None => (id, false, Reason.DecodeError, 0.0)
          case Some((w, h, fmt, px)) =>
            if (w != dw || h != dh || fmt != dfmt)
              (id, false, Reason.MetaMismatch, 0.0)
            else {
              val m = docidRe.matcher(if (urlCanon == null) "" else urlCanon)
              val docid = if (m.find()) m.group(1) else ""
              val ck = Outcomes.contentKey(docid)
              val p = ImageCodec.psnr(ImageCodec.pixels(ck, w, h), px)
              val capped = if (p.isPosInfinity) 99.0 else math.floor(p * 100) / 100
              val ok = if (fmt == "png") p.isPosInfinity else p >= Fetch.PsnrFloorDb
              (id, ok, if (ok) "" else Reason.PsnrFloor, capped)
            }
        }
      }
      .toDF("image_id", "ok", "reason", "psnr")
  }

  /** Typed error/warning codes emitted by [[deepValidate]]. */
  object Deep {
    val DocidFormat = "DOCID_FORMAT"
    val CaptionGrammar = "CAPTION_GRAMMAR"
    val CaptionDocid = "CAPTION_DOCID_MISMATCH"
    val CaptionHost = "CAPTION_HOST_MISMATCH"
    val UrlHost = "URL_HOST_MISMATCH"
    val PsnrFloor = "PSNR_FLOOR"
    val LosslessInexact = "LOSSLESS_INEXACT"
    val EmptyBody = "EMPTY_BODY"
    val NoReason = "MISSING_REJECT_REASON"
    val Dimensions = "DIMENSIONS"
    val WPsnrNearFloor = "PSNR_NEAR_FLOOR"
    val WFlatImage = "FLAT_IMAGE"
    val WSlot = "SLOT_OUT_OF_RANGE"
    val WOversizeNear = "NEAR_SIZE_CAP"
  }

  /** P23 deep structural validator — the analogue of the reference's
    * per-element LegalDocML walk (validator/LegalDocMLValidator.java:
    * 184-383: eId/wId/GUID regex per element, FRBR cross-references,
    * collected into errors/warnings lists): a per-row STRUCTURED
    * validation over the stored payload producing a
    * `validation: struct<errors: array<string>, warnings: array<string>>`
    * column, not just a scalar reason. Every check parses STRINGS the
    * fetch pipeline wrote (caption grammar, docid format, URL host) and
    * cross-references them against the row's typed columns — the c17
    * soundness discipline, element by element:
    *  - errors: docid format (court prefix + 7 digits), caption grammar +
    *    caption⇄typed docid/host consistency, url_canon⇄host consistency,
    *    PSNR floor (lossy) / bit-exactness (lossless), empty stored body
    *    on PROCESSED, missing typed reason on non-PROCESSED, dimension
    *    sanity vs the bomb ceiling;
    *  - warnings: near-floor PSNR, flat (zero-variance) image, politeness
    *    slot out of range, body near the size cap.
    * Pure Column expressions (no UDF): stays inside whole-stage codegen
    * and never reads `bytes`. */
  def deepValidate(payload: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val capRe = "^Decision document (\\S+) published by (\\S+)$"
    val docid = expr("substring(image_id, 1, length(image_id) - 17)")
    val capDocid = regexp_extract(col("caption"), capRe, 1)
    val capHost = regexp_extract(col("caption"), capRe, 2)
    val urlHost = regexp_extract(col("url_canon"), "^https?://([^/]+)/", 1)
    val processed = col("status") === Status.Processed
    def e(cond: Column, code: String): Column = when(cond, lit(code))
    val errors = array_compact(array(
      e(!docid.rlike("^(KARE|KORE|KSRE|WBRE|JURE)\\d{7}$"), Deep.DocidFormat),
      e(processed && !col("caption").rlike(capRe), Deep.CaptionGrammar),
      e(processed && col("caption").rlike(capRe) && capDocid =!= docid,
        Deep.CaptionDocid),
      e(processed && col("caption").rlike(capRe) && capHost =!= col("host"),
        Deep.CaptionHost),
      e(urlHost =!= col("host"), Deep.UrlHost),
      e(processed && col("fmt") =!= "png" &&
        col("psnr") < lit(Fetch.PsnrFloorDb), Deep.PsnrFloor),
      e(processed && col("fmt") === "png" && col("psnr") < lit(99.0),
        Deep.LosslessInexact),
      e(processed && col("n_bytes") === 0L, Deep.EmptyBody),
      e(!processed && length(col("reject_reason")) === 0, Deep.NoReason),
      e(processed && (col("w") <= 0 || col("h") <= 0 ||
        col("w").cast("long") * col("h") > lit(SecurityPredicates.MaxDeclaredPixels)),
        Deep.Dimensions)))
    val warnings = array_compact(array(
      e(processed && col("fmt") =!= "png" &&
        col("psnr") >= lit(Fetch.PsnrFloorDb) && col("psnr") < lit(42.0),
        Deep.WPsnrNearFloor),
      e(processed && col("std_luma") === 0.0, Deep.WFlatImage),
      e(processed && (col("slot") < 1), Deep.WSlot),
      e(col("n_bytes") > lit((SecurityPredicates.MaxDeclaredBytes * 9) / 10),
        Deep.WOversizeNear)))
    payload.select(col("image_id"), col("crawl_epoch"), col("status"),
      struct(errors.as("errors"), warnings.as("warnings")).as("validation"))
  }
}

object Fetch {

  val PsnrFloorDb = 40.0
  import SecurityPredicates.Reason

  def fetch(admitted: Dataset[AdmittedUrl], epoch: Int): Dataset[FetchResult] = {
    val spark = admitted.sparkSession
    import spark.implicits._
    admitted.mapPartitions { rows =>
      rows.map { a =>
        val outcome = Outcomes.of(a.url_hash, epoch)
        // manual zero-padded hex ≡ f"%016x" (r06: the f-interpolator
        // compiles to String.format — java.util.Formatter re-parses the
        // format string on EVERY fetched row, a sampled hot frame)
        val hex = java.lang.Long.toHexString(a.url_hash)
        val imageId = new java.lang.StringBuilder(a.docid.length + 17)
          .append(a.docid).append('-')
          .append("0000000000000000", 0, 16 - hex.length)
          .append(hex).toString
        if (outcome == Status.Rejected) {
          // the declared header is hostile: either an oversize length or a
          // decompression-bomb dimension pair; the predicate — not the
          // fixture — decides the typed reason, and no body is fetched
          val (dLen, dW, dH) =
            if (Outcomes.isBomb(a.url_hash)) (1024L, 65535L, 65535L)
            else (SecurityPredicates.MaxDeclaredBytes + 1 +
              java.lang.Long.remainderUnsigned(a.url_hash, 4096L), 64L, 64L)
          val reason = SecurityPredicates.check(dLen, dW, dH)
            .getOrElse(Reason.MetaMismatch) // unreachable for these fixtures
          FetchResult(imageId, a.url_hash, a.url_canon, a.host, a.host_bucket,
            epoch, a.slot, Array.emptyByteArray, 0, 0, "oversize",
            "", 0L, Status.Rejected, 0.0, reason)
        } else if (outcome == Status.Failed && !Outcomes.isCorrupt(a.url_hash)) {
          // transient network failure: no payload, retry next epoch
          FetchResult(imageId, a.url_hash, a.url_canon, a.host, a.host_bucket,
            epoch, a.slot, Array.emptyByteArray, 0, 0, "none",
            "", 0L, Status.Failed, 0.0, Reason.NetTransient)
        } else {
          // fetched: DOWNLOADED → validate → PROCESSED | FAILED.
          // Content (pixels + dimensions) is keyed by the DOCUMENT
          // (contentKey(docid)) — a mirror URL serves its primary's image;
          // the encoding (fmt) stays a per-URL transport property, so a
          // jpg mirror of a png original is a true near-duplicate (small
          // phash hamming), not a byte-identical copy.
          val ck = Outcomes.contentKey(a.docid)
          val w = Outcomes.width(ck)
          val h = Outcomes.height(ck)
          val fmt = Outcomes.fmt(a.url_hash)
          val src = ImageCodec.pixels(ck, w, h)
          val wire0 = ImageCodec.encode(src, w, h, fmt)
          // corrupt-payload fixture: flip the magic byte after encoding —
          // structurally undecodable, so validation fails DETERMINISTICALLY
          // (a flipped body byte could stay above the PSNR floor on a large
          // image, silently diverging engine status from the simulator's)
          val body0 = if (Outcomes.isCorrupt(a.url_hash)) {
            val c = wire0.clone(); c(0) = (c(0) ^ 0xff).toByte; c
          } else wire0
          // S2: ~5% of payloads travel gzip-wrapped; the transport decode
          // is transparent and the DECOMPRESSED body is what gets
          // validated and stored (the reference stores the decompressed
          // content, service/DocumentDownloadService.java:183-195) — so
          // the stored table, statuses, and engine⇄sim equivalence are
          // unchanged by the wire encoding.
          val transport =
            if (Outcomes.isGzip(a.url_hash)) Transport.gzip(body0) else body0
          val wire = Transport.decodeBody(transport).getOrElse(Array.emptyByteArray)
          val caption = Outcomes.caption(a.docid, a.host)
          // phash describes the STORED pixels (post-encode), not the
          // source: the perceptual hash is the dedup key for what the
          // table actually holds, and lossy re-encodes of the same
          // document should land at small-but-nonzero hamming
          // ONE decode serves validation, phash AND the multimodal
          // features (mean/std luma, edge energy) — the stored table
          // carries them so the read side never re-decodes (c11)
          val (status, psnr, reason, ph, feats) = ImageCodec.decode(wire) match {
            case Some((dw, dh, dfmt, px)) if dw == w && dh == h && dfmt == fmt =>
              val p = ImageCodec.psnr(src, px)
              val ok =
                if (fmt == "png") p.isPosInfinity // lossless: bit-exact
                else p >= PsnrFloorDb // lossy: 40dB floor
              val hash = ImageCodec.phash(px, w, h)
              val st = graft.multimodal.Multimodal.lumaEdgeStats(px, w, h)
              if (ok) (Status.Processed, p, "", hash, st)
              else (Status.Failed, p, Reason.PsnrFloor, hash, st)
            case Some(_) => (Status.Failed, 0.0, Reason.MetaMismatch, 0L, (0.0, 0.0, 0.0))
            case None => (Status.Failed, 0.0, Reason.DecodeError, 0L, (0.0, 0.0, 0.0))
          }
          FetchResult(imageId, a.url_hash, a.url_canon, a.host, a.host_bucket,
            epoch, a.slot, wire, w, h, fmt, caption, ph, status,
            if (psnr.isPosInfinity) 99.0 else math.floor(psnr * 100) / 100,
            reason, feats._1, feats._2, feats._3)
        }
      }
    }
  }
}
