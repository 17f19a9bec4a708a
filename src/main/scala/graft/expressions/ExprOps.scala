package graft.expressions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernels referenced from generated (whole-stage codegen) Java as
  * `graft.expressions.ExprOps$.MODULE$.<fn>(...)`. Pure, allocation-light,
  * deterministic — safe at any parallelism.
  */
object ExprOps {

  /** FNV-1a 64-bit over UTF-8 bytes — the per-token hash for simhash. */
  def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over whitespace tokens of `text`.
    * Each token hashed with FNV-64; per-bit vote; sign → bit.
    * Empty/blank text → 0L. */
  def simhash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val votes = new Array[Int](64)
    var i = 0
    val n = bytes.length
    var any = false
    while (i < n) {
      // skip whitespace
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        any = true
        val h = fnv64(bytes, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    if (!any) return 0L
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0b

  /** Power-of-2 open-addressing capacity for `n` entries at ≤0.5 load.
    * Computed in Long: `n * 2` overflows Int for n > 2^30 (a ~2 GB
    * single-char-token document is within UTF8String's limit), which
    * left cap at 4 and spun the probe loop forever. Clamped at 2^30
    * slots — beyond that the 8 GB table allocation fails loudly
    * (OutOfMemoryError) instead of looping. */
  @inline private def tableCap(n: Int): Int = {
    val need = math.min(n.toLong * 2, 1L << 30)
    var cap = 4L
    while (cap < need) cap <<= 1
    cap.toInt
  }

  /** Loud failure when an open-addressing table saturates: at the 2^30
    * clamp with > 2^30 DISTINCT entries the linear-probe insert loop
    * would otherwise spin forever once load factor hits 1.0 — and on a
    * 30 GB+ heap the 8 GB allocation succeeds, so the allocation failure
    * the clamp comment used to rely on never fires. Checked after every
    * NEW insert, so the throw is guaranteed regardless of heap size. */
  @inline private def checkTableFull(cnt: Int, cap: Int): Unit =
    if (cnt >= cap)
      throw new IllegalStateException(
        s"open-addressing table saturated: $cnt distinct entries at capacity $cap " +
          "(input has more distinct windows/grams than the 2^30-slot clamp)")

  /** Document fingerprint: minimum of Rabin-Karp rolling hashes over all
    * `k`-byte windows (winnowing with a single global window — a compact,
    * shift-tolerant content fingerprint). Text shorter than k hashes whole. */
  def rollingFingerprint(text: UTF8String, k: Int): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    val kk = if (n < k) n else k
    val B = 1000000007L
    // precompute B^(kk-1)
    var pow = 1L
    var j = 1
    while (j < kk) { pow *= B; j += 1 }
    var h = 0L
    var i = 0
    while (i < kk) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = mix(h)
    i = kk
    while (i < n) {
      h = (h - (bytes(i - kk) & 0xffL) * pow) * B + (bytes(i) & 0xffL)
      val m = mix(h)
      if (java.lang.Long.compareUnsigned(m, min) < 0) min = m
      i += 1
    }
    min
  }

  /** xorshift-style finalizer so rolling-hash structure doesn't leak. */
  @inline def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** A text after [[tokenize]]: `bytes(0 until len)` is the normalized
    * text, `starts(0 until count)` the offset of each token in it. */
  private final class Tokens(val bytes: Array[Byte], val len: Int,
      val starts: Array[Int], val count: Int) {
    /** Number of n-token grams: 0 when the text has fewer than n tokens. */
    def grams(n: Int): Int = math.max(count - n + 1, 0)
    /** End (exclusive) of the gram of `n` tokens starting at token `i`:
      * the tokens and their single separating spaces, i.e. the
      * `concat_ws(" ", ...)` form of the gram. */
    def gramEnd(i: Int, n: Int): Int = if (i + n < count) starts(i + n) - 1 else len
  }

  /** The one tokenizer of the text kernels — the engine side of the
    * read side's tokenization contract, which the DuckDB oracles restate
    * in SQL: ASCII `\s` runs collapse to one space, the ends are
    * trimmed, and the text splits on spaces; blank text has no tokens.
    * `trim = false` keeps a leading and a trailing run as one space each
    * (the character-shingle form). `lowercase` lowers with
    * `UTF8String.toLowerCase`, the lowering Spark's `lower()` performs.
    *
    * Byte scanning is exact: Java's `\s` is exactly the six ASCII bytes
    * [[isWs]] tests, those bytes never occur inside a multi-byte UTF-8
    * sequence (continuation bytes are >= 0x80), and no Unicode lowering
    * maps a non-whitespace char onto ASCII whitespace. So the tokens are
    * those of `filter(split(trim(regexp_replace([lower(]text[)], "\\s+",
    * " ")), " "), x -> x != "")`, without regex or String churn. */
  private def tokenize(text: UTF8String, lowercase: Boolean, trim: Boolean): Tokens = {
    val src = (if (lowercase) text.toLowerCase else text).getBytes
    val buf = new Array[Byte](src.length)
    val starts = new Array[Int]((src.length + 1) / 2)
    var m = 0
    var count = 0
    var inWs = false
    var i = 0
    while (i < src.length) {
      val b = src(i)
      if (isWs(b)) {
        if (!inWs && (m > 0 || !trim)) { buf(m) = ' '; m += 1 }
        inWs = true
      } else {
        if (inWs || m == 0) { starts(count) = m; count += 1 }
        buf(m) = b; m += 1; inWs = false
      }
      i += 1
    }
    if (trim && m > 0 && buf(m - 1) == ' ') m -= 1
    new Tokens(buf, m, starts, count)
  }

  /** FNV-1a hash of every n-token gram of `t`, in token order. */
  private def gramHashes(t: Tokens, n: Int): Array[Long] = {
    val out = new Array[Long](t.grams(n))
    var i = 0
    while (i < out.length) { out(i) = fnv64(t.bytes, t.starts(i), t.gramEnd(i, n)); i += 1 }
    out
  }

  /** The distinct values of `h` in first-occurrence order, a hash of 0
    * remapped to 1 (0 marks an empty slot of the open-addressing table).
    * Reuses `h` as the output buffer. */
  private def distinctHashes(h: Array[Long]): ArrayData = {
    val cap = tableCap(h.length)
    val table = new Array[Long](cap)
    var cnt = 0
    var i = 0
    while (i < h.length) {
      val x = if (h(i) == 0L) 1L else h(i)
      var idx = (mix(x) & (cap - 1)).toInt
      while (table(idx) != 0L && table(idx) != x) idx = (idx + 1) & (cap - 1)
      if (table(idx) == 0L) { table(idx) = x; h(cnt) = x; cnt += 1; checkTableFull(cnt, cap) }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, cnt))
  }

  /** Distinct 64-bit FNV hashes of the k-BYTE shingles of the lowered,
    * whitespace-collapsed (untrimmed) text — the hashed form of
    * `SimilarityFunctions.charShingles`: shingle EQUALITY is all
    * MinHash/Jaccard ever needs, and 8-byte hashes ship through the
    * explode/shuffle instead of k-char strings (collisions at 64 bits are
    * nil at any corpus size). Shorter-than-k text hashes whole; output
    * order = first occurrence (deterministic). */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val t = tokenize(text, lowercase = true, trim = false)
    if (t.len < k) return UnsafeArrayData.fromPrimitiveArray(Array(fnv64(t.bytes, 0, t.len)))
    val h = new Array[Long](t.len - k + 1)
    var i = 0
    while (i < h.length) { h(i) = fnv64(t.bytes, i, i + k); i += 1 }
    distinctHashes(h)
  }

  /** Distinct 64-bit FNV hashes of the lowered word n-grams — the hashed
    * form of `SimilarityFunctions.wordNgrams`. Fewer than n tokens → the
    * whole normalized text hashes as one gram. Output order = first
    * occurrence. */
  def wordNgramHashes(text: UTF8String, n: Int): ArrayData = {
    val t = tokenize(text, lowercase = true, trim = true)
    if (t.count < n) UnsafeArrayData.fromPrimitiveArray(Array(fnv64(t.bytes, 0, t.len)))
    else distinctHashes(gramHashes(t, n))
  }

  /** ALL lowered word n-gram hashes in POSITIONAL order (index i = the
    * gram starting at token i) — [[wordNgramHashes]] with occurrences
    * KEPT, so `posexplode` recovers (position, gram) pairs. Fewer than n
    * tokens (or empty text) → EMPTY array: a doc too short to hold one
    * window contributes no spans to substring-duplication analysis
    * (q65); whole-short-doc identity is exact dedup's job (q24).
    *
    * Shared caveat (ADVICE r05): [[wordNgramHashes]]/[[shingleHashes]]
    * remap an FNV hash of exactly 0 to 1 (0 is their open-addressing
    * empty-slot sentinel); this positional form and the DuckDB FNV
    * `list_reduce` oracles (q72/q77) do NOT. A token whose FNV-64 hash is
    * exactly 0 would therefore diverge between the two families — the
    * same astronomically-unlikely single-point event class as the
    * documented q24 192-bit collision argument (P[h=0] = 2⁻⁶⁴ per
    * distinct gram). Kept asymmetric deliberately: the remap cannot be
    * added here or to the oracle SQL without changing frozen oracle
    * results, and removing it from the distinct-form would break its
    * sentinel. */
  def wordNgramHashSeq(text: UTF8String, n: Int): ArrayData = {
    val t = tokenize(text, lowercase = true, trim = true)
    UnsafeArrayData.fromPrimitiveArray(gramHashes(t, n))
  }

  /** All word n-grams as STRINGS in positional order — the string-valued
    * sibling of [[wordNgramHashSeq]], occurrences KEPT, optionally
    * case-preserving. Emits row-for-row what the declarative chain in
    * [[tokenize]]'s doc (n = 1) / its zip_with-sliced n-gram build
    * (n > 1) emits, with no interpreted higher-order functions (the
    * measured per-row cost of the q56/q66/q74-class text operators, r06).
    * Fewer than n tokens (or empty text) → EMPTY array. NULL text → NULL
    * via the expression's null-safety: a site that needs [] must coalesce. */
  def wordNgrams(text: UTF8String, n: Int, lowercase: Boolean): ArrayData = {
    val t = tokenize(text, lowercase, trim = true)
    val out = new Array[Any](t.grams(n))
    var i = 0
    while (i < out.length) {
      // fromBytes shares t.bytes (no copy); it is never mutated after tokenize
      out(i) = UTF8String.fromBytes(t.bytes, t.starts(i), t.gramEnd(i, n) - t.starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Max occurrence count of any lowered word n-gram — the Gopher/C4-style
    * repetition signal: a doc whose most common 2-gram covers a large
    * fraction of it is boilerplate/spam. Counts OCCURRENCES (not the
    * distinct set); fewer than n tokens → the whole text is one gram,
    * count 1. Collisions of the 64-bit gram hash could only ever
    * overcount, and at 64 bits are nil at any document length. */
  def ngramMaxCount(text: UTF8String, n: Int): Long = {
    val t = tokenize(text, lowercase = true, trim = true)
    if (t.count < n) return 1L
    val h = gramHashes(t, n)
    java.util.Arrays.sort(h)
    var best = 1L
    var run = 1L
    var i = 1
    while (i < h.length) {
      run = if (h(i) == h(i - 1)) run + 1 else 1L
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** Decode the UTF-8 code point whose LEAD byte is at `i` (malformed /
    * truncated sequences yield U+FFFD, which is not a letter/digit —
    * boundary-neutral, matching the replacement the JVM decoder would
    * produce). */
  private def codePointAt(bytes: Array[Byte], i: Int): Int = {
    val b0 = bytes(i) & 0xff
    if (b0 < 0x80) b0
    else if ((b0 & 0xe0) == 0xc0 && i + 1 < bytes.length)
      ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
    else if ((b0 & 0xf0) == 0xe0 && i + 2 < bytes.length)
      ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
    else if ((b0 & 0xf8) == 0xf0 && i + 3 < bytes.length)
      ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
        ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
    else 0xFFFD
  }

  /** Java-regex `\b` word-char test for the code point ENDING just
    * before byte offset `p` (walks back over continuation bytes). NOTE
    * the JDK quirk the FunctionsSpec pin nails down: `\b`'s word class
    * is `'_' || Character.isLetterOrDigit` — UNICODE letters/digits are
    * word chars — even though `\w` itself is ASCII-only without
    * UNICODE_CHARACTER_CLASS ('é' blocks a boundary; NBSP does not). */
  private def isBoundWordBefore(bytes: Array[Byte], p: Int): Boolean = {
    var s = p - 1
    while (s > 0 && (bytes(s) & 0xc0) == 0x80) s -= 1
    val cp = codePointAt(bytes, s)
    cp == '_' || Character.isLetterOrDigit(cp)
  }

  /** [[isBoundWordBefore]]'s right-side twin: the code point STARTING at
    * byte offset `q`. */
  private def isBoundWordAt(bytes: Array[Byte], q: Int): Boolean = {
    val cp = codePointAt(bytes, q)
    cp == '_' || Character.isLetterOrDigit(cp)
  }

  /** Non-overlapping count of `\b(w1|...|wk)\b` matches of the (already
    * lowercased) byte string — the Java-regex semantics of
    * `regexp_extract_all` replicated byte-for-byte: alternatives tried in
    * ORDER at each position, `\b` per the Unicode-letter word class
    * above (so multi-byte chars INSIDE a pattern literal like "für"
    * match, while "éthe" does NOT match `\bthe\b` — 'é' is a word char),
    * a match resumes the scan at its end, a failed position advances by
    * one byte (safe: every word starts with an ASCII letter, and UTF-8
    * continuation bytes can never equal one, so byte-grain advance
    * visits no extra match positions vs the engine's char-grain
    * advance). */
  private def stopScan(bytes: Array[Byte], words: Array[Array[Byte]]): Long = {
    val n = bytes.length
    var cnt = 0L
    var p = 0
    while (p < n) {
      var matched = 0
      var wi = 0
      while (matched == 0 && wi < words.length) {
        val w = words(wi)
        if (p + w.length <= n && bytes(p) == w(0)) {
          var k = 1
          while (k < w.length && bytes(p + k) == w(k)) k += 1
          if (k == w.length &&
              (p == 0 || !isBoundWordBefore(bytes, p)) &&
              (p + k == n || !isBoundWordAt(bytes, p + k)))
            matched = w.length
        }
        wi += 1
      }
      if (matched > 0) { cnt += 1; p += matched } else p += 1
    }
    cnt
  }

  /** One fused pass over the text computing every per-row count the
    * TextFunctions quality/langid family needs, as
    * `[n_chars, n_alpha, n_punct, n_toks, n_bpe, en_hits, de_hits,
    * fr_hits]` — the codegen replacement for ~9 regex traversals per row
    * (3× `\b(...)\b` stopword scans ×2 call sites via codegen CSE, 2
    * char-class regexp_replace length probes, one `\s+` split, one
    * 3-alternative regexp_extract_all). Each count replicates the exact
    * built-in semantics it replaces:
    *  - n_chars = length(text): code points (count of non-continuation
    *    bytes — Spark's UTF8String.numChars);
    *  - n_alpha / n_punct = length(regexp_replace(text, "[^A-Za-z]" /
    *    "[^.,;:!?|#@*]", "")): ASCII-class member counts (single-byte,
    *    never inside a UTF-8 sequence);
    *  - n_toks = size(split(trim(text), "\\s+")) with blank→0: trim
    *    strips 0x20 ONLY; Java split with limit -1 keeps leading AND
    *    trailing empty segments, so the count is (whitespace runs
    *    within the space-trimmed span) + 1, and 0 when that span is
    *    empty (the declarative form's `when` wrapper);
    *  - n_bpe = size(regexp_extract_all(text,
    *    "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]", 0)): letter runs count 1,
    *    each digit 1, each non-alnum non-\s CODE POINT 1 (Java regex
    *    classes match by code point — a 4-byte emoji is one token);
    *  - en/de/fr = [[stopScan]] over toLowerCase(text) (the same
    *    lowering `lower()` performs).
    * Null-safety is the expression's (null text → null array). */
  def textStats(text: UTF8String, en: Array[Array[Byte]],
      de: Array[Array[Byte]], fr: Array[Array[Byte]]): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var chars = 0L; var alpha = 0L; var punct = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) chars += 1
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) alpha += 1
      else if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' ||
               b == '?' || b == '|' || b == '#' || b == '@' || b == '*') punct += 1
      i += 1
    }
    // n_toks: space-trim bounds, then whitespace-run count + 1
    var s = 0; var e = n
    while (s < n && bytes(s) == ' ') s += 1
    while (e > s && bytes(e - 1) == ' ') e -= 1
    var toks = 0L
    if (e > s) {
      var runs = 0L; var prevWs = false
      var j = s
      while (j < e) {
        val w = isWs(bytes(j))
        if (w && !prevWs) runs += 1
        prevWs = w
        j += 1
      }
      toks = runs + 1
    }
    var bpe = 0L
    i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
        bpe += 1; i += 1
        while (i < n && ((bytes(i) >= 'A' && bytes(i) <= 'Z') ||
            (bytes(i) >= 'a' && bytes(i) <= 'z'))) i += 1
      } else if (b >= '0' && b <= '9') { bpe += 1; i += 1 }
      else if (isWs(b)) i += 1
      else if ((b & 0x80) == 0) { bpe += 1; i += 1 }
      else { bpe += 1; i += UTF8String.numBytesForFirstByte(b) }
    }
    val low = text.toLowerCase.getBytes
    UnsafeArrayData.fromPrimitiveArray(
      Array(chars, alpha, punct, toks, bpe,
        stopScan(low, en), stopScan(low, de), stopScan(low, fr)))
  }

  /** One-pass whitespace tokenize + multi-term frequency count over the
    * LOWERCASED text: returns `[n_tokens, count(term_0), …, count(term_k)]`
    * as longs. A token is a maximal non-whitespace run; term match is byte
    * equality against the (pre-lowercased) term bytes. Semantically equal
    * to `size(array_remove(split(norm, " "), ""))` plus one
    * `size − size(array_remove(…, term))` per term, but ONE traversal of
    * the text instead of 1 + k array materializations/scans — the BM25
    * per-row hot loop. */
  def termFreqs(text: UTF8String, terms: Array[Array[Byte]]): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val k = terms.length
    val out = new Array[Long](k + 1)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        out(0) += 1
        val len = i - start
        var t = 0
        while (t < k) {
          val tb = terms(t)
          if (tb.length == len) {
            var j = 0
            while (j < len && tb(j) == bytes(start + j)) j += 1
            if (j == len) out(t + 1) += 1
          }
          t += 1
        }
      }
    }
    UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Sign-random-projection LSH bucket for a float embedding: `nBits`
    * deterministic hash-derived hyperplanes; sign bits packed to a long.
    * plane(b, i) = centered hash of (seed, b, i) in [-0.5, 0.5). */
  /** All `tables` SRP buckets of `vec` (table t seeded `baseSeed + t`). */
  def srpBuckets(vec: ArrayData, nBits: Int, tables: Int, baseSeed: Long): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      out(t) = srpBucket(vec, nBits, baseSeed + t)
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  def srpBucket(vec: ArrayData, nBits: Int, seed: Long): Long = {
    val n = vec.numElements()
    var out = 0L
    var b = 0
    while (b < nBits) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val h = mix(seed ^ (b.toLong << 32) ^ i.toLong)
        val u = java.lang.Long.remainderUnsigned(h, 1000003L).toDouble / 1000003.0 - 0.5
        proj += vec.getFloat(i).toDouble * u
        i += 1
      }
      if (proj > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Cosine similarity between two float arrays, accumulated in double.
    * Null-element-free arrays assumed (our embedding columns). Length
    * mismatch → uses common prefix; zero norm → 0.0. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Argmin centroid id by integer squared L2 distance — the q79 Lloyd
    * assignment hot loop as straight compiled long arithmetic. Exactly
    * replicates the declarative
    * `array_min(transform(cands, c -> struct(Σ(q−c)², cid))).cid` form it
    * replaces (r06, guide §4 — the nested higher-order functions fall out
    * of whole-stage codegen and were the measured per-row cost): distance
    * folded over the common prefix of q and the centroid (zip_with
    * semantics at equal dims), ties on distance break to the SMALLER cid
    * (struct ordering). Same 2⁶³ wraparound semantics as Spark's long
    * multiply — identical on any input, not just the quantized fixture. */
  def intL2ArgMin(q: ArrayData, cids: Array[Long], vecs: Array[Array[Long]]): Long = {
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var j = 0
    while (j < vecs.length) {
      val v = vecs(j)
      val n = math.min(q.numElements(), v.length)
      var d = 0L
      var i = 0
      while (i < n) {
        val t = q.getLong(i) - v(i)
        d += t * t
        i += 1
      }
      val c = cids(j)
      if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
      j += 1
    }
    bestC
  }
}
