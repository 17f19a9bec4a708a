package graft

import org.apache.spark.sql.functions._
import graft.functions.{EcliFunctions, SimilarityFunctions, TextFunctions, UrlFunctions}
import graft.expressions.GraftFunctions

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("url canonicalization strips all whitespace (reference semantics)") {
    val df = Seq(
      "https://example.de/jportal/?docid=KARE600068723&x=1",
      "https://example.de/jportal/?doc id=KARE6000\n68723&x=1\t",
      "  https://example.de/a  ").toDF("url")
    val got = df.select(UrlFunctions.canonicalizeUrl($"url")).as[String].collect()
    assert(got(0) == "https://example.de/jportal/?docid=KARE600068723&x=1")
    assert(got(1) == "https://example.de/jportal/?docid=KARE600068723&x=1")
    assert(got(2) == "https://example.de/a")
    // canonical equal ⇒ identical url_hash
    val hashes = df.select(UrlFunctions.urlHash($"url")).as[Long].collect()
    assert(hashes(0) == hashes(1))
    assert(hashes(0) != hashes(2))
  }

  test("docid extraction is the strict regex variant; court prefix map") {
    val df = Seq(
      "https://x.de/?docid=KARE600068723&max=true",
      "https://x.de/?docid=kore123&max=true", // lowercase NOT matched (strict)
      "https://x.de/nodocid").toDF("url")
    val ids = df.select(UrlFunctions.extractDocId($"url")).as[String].collect()
    assert(ids(0) == "KARE600068723")
    assert(ids(1) == "")
    assert(ids(2) == "")
    val courts = Seq("KARE1", "KORE2", "KSRE3", "WBRE4", "JURE5").toDF("id")
      .select(UrlFunctions.courtOf($"id")).as[String].collect()
    assert(courts.toSeq == Seq("BAG", "BGH", "BSG", "BVerwG", "UNKNOWN"))
  }

  test("host + salted host bucket") {
    val df = Seq("https://a.example.com/x", "http://b.example.org/y").toDF("url")
    val hosts = df.select(UrlFunctions.hostOf($"url")).as[String].collect()
    assert(hosts.toSeq == Seq("a.example.com", "b.example.org"))
    val b = df.select(UrlFunctions.hostBucket(UrlFunctions.hostOf($"url"), 16)).as[Int].collect()
    assert(b.forall(x => x >= 0 && x < 16))
  }

  test("ECLI validate: reference test-suite cases") {
    val valid = Seq(
      "ECLI:DE:BGH:2023:123456",
      "de:bgh:2023:123456", // normalized: prefix+upper
      "ECLI:EU:C:2023:456",
      "ECLI:AT:OGH:2022:0001OB00123.22K.0315.000",
      "ECLI:NL:HR:2023:ABC.123")
    val invalid = Seq(
      "ECLI:XX:BGH:2023:123456",       // bad country
      "ECLI:DE:1GH:2023:123456",       // court starts with digit
      "ECLI:DE:BGH:23:123456",         // 2-digit year
      "ECLI:DE:BGH:1800:123456",       // year < 1900
      "ECLI:DE:BGH:2050:123456",       // far-future year
      "ECLI:DE:BGH:2023:" + "A" * 26,  // ordinal too long
      "ECLI:DE:BGH:2023:12-34",        // ordinal bad char
      "ECLI:DE:TOOLONGCOURT:2023:1",   // court > 7
      "", "   ")
    val df = (valid.map((_, true)) ++ invalid.map((_, false))).toDF("ecli", "expected")
    val bad = df.withColumn("got", EcliFunctions.isValidEcli($"ecli", 2026))
      .filter($"got" =!= $"expected").collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString(";")}")
  }

  test("ECLI extraction from text: finds, validates, normalizes, dedups") {
    val text = """Header ECLI:DE:BGH:2023:123456 then de:bag:2022:111
                  bad one ECLI:XX:BGH:2023:1 again ECLI:DE:BGH:2023:123456"""
    val got = Seq(text).toDF("t")
      .select(array_sort(EcliFunctions.extractEclis($"t", 2026)))
      .as[Seq[String]].head()
    assert(got == Seq("ECLI:DE:BAG:2022:111", "ECLI:DE:BGH:2023:123456"))
  }

  test("textStats-backed family ≡ the declarative regex chains it replaced (r06)") {
    import org.apache.spark.sql.Column
    // the exact pre-r06 declarative forms, inlined as the reference
    def rxTok(t: Column) = when(length(trim(t)) === 0, lit(0))
      .otherwise(size(split(trim(t), "\\s+")))
    def rxBpe(t: Column) =
      size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
    def hits(t: Column, ws: Seq[String]) = size(regexp_extract_all(lower(t),
      lit("\\b(" + ws.mkString("|") + ")\\b"), lit(0)))
    def rxLang(t: Column) = {
      val en = hits(t, TextFunctions.EnStop)
      val de = hits(t, TextFunctions.DeStop)
      val fr = hits(t, TextFunctions.FrStop)
      when(t.isNull, lit("unknown"))
        .when(en === 0 && de === 0 && fr === 0, lit("unknown"))
        .when(en >= de && en >= fr, lit("en"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr"))
    }
    def rxQx(t: Column) = {
      val len = length(t).cast("double")
      val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
      val punct = length(regexp_replace(t, "[^.,;:!?|#@*]", "")).cast("double")
      val toks = rxTok(t).cast("double")
      val stops = (hits(t, TextFunctions.EnStop) + hits(t, TextFunctions.DeStop) +
        hits(t, TextFunctions.FrStop)).cast("double")
      val alphaTerm = when(len === 0, 0.0).otherwise(alpha / len * 0.35)
      val punctTerm = when(len === 0, 0.0)
        .otherwise((lit(1.0) - least(punct * 10.0 / len, lit(1.0))) * 0.15)
      val stopTerm = when(toks === 0, 0.0)
        .otherwise(least(stops * 4.0 / toks, lit(1.0)) * 0.3)
      val lenTerm = when(len >= 200 && len <= 20000, 0.2)
        .when(len >= 50, 0.1).otherwise(0.0)
      floor((alphaTerm + punctTerm + stopTerm + lenTerm) * 10000.0 + 0.5)
        .cast("bigint")
    }
    // boundary rows: the empirically-pinned \b cases (é/ü ARE word
    // chars for JDK \b, so "éthe" does not match \bthe\b; "xfür" and
    // "fürx" do not match \bfür\b, their neighbouring letter being a
    // word char too), digits and
    // underscores as word chars, alternation-order/overlap ("le" vs
    // "les"), blank/space-only/tab-only/null, 0x20-only trim vs \s+
    // split (leading/trailing empty segments), NBSP inside a token, a
    // 4-byte emoji as one BPE token, and a real-corpus slice.
    val hostile = Seq(
      "éthe x", "1the x", "_the x", "the x", "athe x", "für den",
      "xfür den", "fürx", "é für", "tHe the", "theé x", "les le la",
      "", " ", "\t\n ", null, "  lead und trail  ", "a b the",
      "emoji 😀 the end", "digits 123 und 4", "der,die.das und",
      "the.the,the", "d_e_r der")
    val df = hostile.toDF("text").unionByName(
      spark.read.parquet(s"${sf()}/documents.parquet").select($"text").limit(80))
    val rows = df.select(
        TextFunctions.tokenCount($"text").as("t_new"), rxTok($"text").as("t_old"),
        TextFunctions.bpeTokenCount($"text").as("b_new"), rxBpe($"text").as("b_old"),
        TextFunctions.langId($"text").as("l_new"), rxLang($"text").as("l_old"),
        TextFunctions.qualityScoreX1e4($"text").as("q_new"), rxQx($"text").as("q_old"),
        $"text")
      .collect()
    assert(rows.length == hostile.length + 80)
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), s"tokenCount: ${r.get(0)} vs ${r.get(1)} on [${r.get(8)}]")
      assert(r.get(2) == r.get(3), s"bpe: ${r.get(2)} vs ${r.get(3)} on [${r.get(8)}]")
      assert(r.get(4) == r.get(5), s"langId: ${r.get(4)} vs ${r.get(5)} on [${r.get(8)}]")
      assert(r.get(6) == r.get(7), s"qualityX1e4: ${r.get(6)} vs ${r.get(7)} on [${r.get(8)}]")
    }
  }

  test("token counting + langId + quality") {
    val df = Seq(
      "the cat and the dog went to the market and it was good",
      "der Richter und die Entscheidung ist nicht von der Sache",
      "zzz qqq xxx").toDF("text")
    val toks = df.select(TextFunctions.tokenCount($"text")).as[Int].collect()
    assert(toks(0) == 13 && toks(2) == 3)
    val langs = df.select(TextFunctions.langId($"text")).as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "unknown"))
    val q = df.select(TextFunctions.qualityScore($"text")).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(2)) // stopword-rich English beats gibberish
    assert(Seq("").toDF("text").select(TextFunctions.tokenCount($"text")).as[Int].head() == 0)
  }

  test("simhash: similar texts close in hamming, disjoint texts far") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy cat again and again"),
      ("c", "completely different words entirely unrelated nothing shared here at all")
    ).toDF("id", "text").withColumn("sh", GraftFunctions.simhash64($"text"))
    val m = df.select($"id", $"sh").as[(String, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("b")) < ham(m("a"), m("c")))
    assert(ham(m("a"), m("b")) <= 16)
  }

  test("rolling fingerprint: shift-tolerant identity") {
    val df = Seq(
      ("a", "PREFIX common stable content body here SUFFIX"),
      ("b", "XX common stable content body here YYYYY"),
      ("c", "totally different payload")
    ).toDF("id", "text")
      .withColumn("fp", GraftFunctions.rollingFingerprint($"text", 16))
    val m = df.select($"id", $"fp").as[(String, Long)].collect().toMap
    // same 16-byte min-window survives the shifted affixes
    assert(m("a") == m("b"))
    assert(m("a") != m("c"))
  }

  test("cosine: codegen expr agrees with built-in double path; self-sim = 1") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 1f, 0f), Array(1f, 0f, 0f))).toDF("a", "b")
    val rows = df.select(
      GraftFunctions.cosineSim($"a", $"b").as("fast"),
      SimilarityFunctions.cosineBuiltin($"a", $"b").as("ref")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
  }

  test("shingleHashes: normalization, distinctness, jaccard-equivalence to string shingles") {
    val df = Seq(
      ("a", "The  quick\tbrown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"), // = a modulo case/ws
      ("c", "the quick brown fox jumped over the lazy dog"),
      ("d", "zzzz"), // shorter than k
      ("e", "completely unrelated content here entirely")
    ).toDF("id", "text")
      .withColumn("hh", GraftFunctions.shingleHashes($"text", 5))
      .withColumn("sh", SimilarityFunctions.charShingles($"text", 5))
    val rows = df.select($"id", $"hh", $"sh")
      .as[(String, Seq[Long], Seq[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // case/whitespace normalization: a ≡ b
    assert(rows("a")._1.toSet == rows("b")._1.toSet)
    // distinct, and on ASCII text 1:1 with the string shingles
    rows.foreach { case (id, (hh, sh)) =>
      assert(hh.distinct.size == hh.size, id)
      assert(hh.size == sh.size, s"$id: hashed=${hh.size} string=${sh.size}")
    }
    assert(rows("d")._1.size == 1) // short text hashes whole
    // jaccard over hashes == jaccard over strings
    def jac[T](x: Set[T], y: Set[T]) =
      if ((x ++ y).isEmpty) 0.0 else (x & y).size.toDouble / (x ++ y).size
    for (p <- Seq(("b", "c"), ("b", "e"))) {
      val jh = jac(rows(p._1)._1.toSet, rows(p._2)._1.toSet)
      val js = jac(rows(p._1)._2.toSet, rows(p._2)._2.toSet)
      assert(math.abs(jh - js) < 1e-12, s"$p hash=$jh str=$js")
    }
  }

  test("wordNgramHashes ≡ string wordNgrams (sizes + jaccard) on ASCII") {
    val df = Seq(
      ("a", "The  quick\tbrown fox jumps over the lazy dog today"),
      ("b", "the quick brown fox jumps over a lazy dog today"),
      ("c", "one two"), // fewer than n tokens
      ("d", "  padded   whitespace   everywhere   here  ")
    ).toDF("id", "text")
      .withColumn("hh", GraftFunctions.wordNgramHashes($"text", 3))
      .withColumn("ss", SimilarityFunctions.wordNgrams($"text", 3))
    val rows = df.select($"id", $"hh", $"ss")
      .as[(String, Seq[Long], Seq[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (id, (hh, ss)) =>
      assert(hh.distinct.size == hh.size, id)
      assert(hh.size == ss.size, s"$id: hashed=${hh.size} string=${ss.size}")
    }
    assert(rows("c")._1.size == 1)
    def jac[T](x: Set[T], y: Set[T]) =
      if ((x ++ y).isEmpty) 0.0 else (x & y).size.toDouble / (x ++ y).size
    val jh = jac(rows("a")._1.toSet, rows("b")._1.toSet)
    val js = jac(rows("a")._2.toSet, rows("b")._2.toSet)
    assert(math.abs(jh - js) < 1e-12, s"hash=$jh str=$js")
    assert(jh > 0.3 && jh < 1.0)
  }

  test("ngramMaxCount ≡ brute-force bigram occurrence count; edge cases") {
    def brute(text: String, n: Int): Long = {
      val t = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length < n) 1L
      else t.sliding(n).map(_.mkString(" ")).toSeq
        .groupBy(identity).values.map(_.size).max.toLong
    }
    val cases = Seq(
      "the cat sat on the cat sat mat",
      "a a a a a a",                       // max bigram "a a" = 5
      "one two",                           // exactly n tokens → count 1
      "single",                            // < n tokens → whole text, 1
      "  weird   spacing\t\tand  CASE Case case  ",
      "x y x y x y x y z")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("mbc", GraftFunctions.ngramMaxCount($"text", 2))
    df.select($"id", $"mbc").as[(Long, Long)].collect().foreach {
      case (i, got) =>
        assert(got == brute(cases(i.toInt), 2),
          s"case $i '${cases(i.toInt)}': got $got want ${brute(cases(i.toInt), 2)}")
    }
    assert(brute(cases(1), 2) == 5L) // sanity on the oracle itself
  }

  test("termFreqs ≡ split/array_remove counting; edge cases incl. empty/blank/case") {
    val terms = Seq("spark", "a", "café")
    def brute(text: String): Seq[Long] = {
      val t = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      t.length.toLong +: terms.map(term => t.count(_ == term).toLong)
    }
    val cases = Seq(
      "spark a spark b SPARK",
      "",                                  // no tokens at all
      "   \t\n  ",                         // blank → no tokens
      "a",                                 // single matching token
      "aa a aaa a",                        // no substring false positives
      "Café CAFÉ café x",                  // unicode lowercase
      "spark", "notspark sparknot spark")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("tf", GraftFunctions.termFreqs($"text", terms))
    df.select($"id", $"tf").as[(Long, Seq[Long])].collect().foreach {
      case (i, got) =>
        assert(got == brute(cases(i.toInt)),
          s"case $i '${cases(i.toInt)}': got $got want ${brute(cases(i.toInt))}")
    }
  }

  test("text kernels ≡ a plain-Scala reference tokenizer on hostile input") {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.ExprOps
    // the tokenization contract: ASCII \s runs collapse to one space, the
    // ends are trimmed, the text splits on spaces; lowering is Spark's
    // lower() (UTF8String.toLowerCase), which the kernels document as theirs
    val sep = "[ \t\n\u000b\f\r]+"
    def low(t: String) = UTF8String.fromString(t).toLowerCase.toString
    def toks(t: String, lc: Boolean): Seq[String] =
      (if (lc) low(t) else t).split(sep).toSeq.filter(_.nonEmpty)
    def grams(t: String, n: Int, lc: Boolean): Seq[String] = {
      val ts = toks(t, lc)
      if (ts.length < n) Seq.empty else ts.sliding(n).map(_.mkString(" ")).toSeq
    }
    def fnvBytes(b: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      b.foreach { x => h ^= (x & 0xffL); h *= 0x100000001b3L }
      h
    }
    def fnv(s: String): Long = fnvBytes(s.getBytes("UTF-8"))
    def nz(h: Long) = if (h == 0L) 1L else h
    def refHashes(t: String, n: Int): Seq[Long] =
      if (toks(t, true).length < n) Seq(fnv(toks(t, true).mkString(" ")))
      else grams(t, n, true).map(g => nz(fnv(g))).distinct
    def refMaxCount(t: String, n: Int): Long =
      if (toks(t, true).length < n) 1L
      else grams(t, n, true).groupBy(identity).values.map(_.size).max.toLong
    def refShingles(t: String, k: Int): Seq[Long] = {
      val b = low(t).replaceAll(sep, " ").getBytes("UTF-8")
      if (b.length < k) Seq(fnvBytes(b))
      else b.sliding(k).map(w => nz(fnvBytes(w))).toSeq.distinct
    }

    val fixed = Seq("", " ", "\t", "\u000b", "\f", "\r\n", " \t\n\u000b\f\r ",
      "a", " a", "a ", "\t\ta\r\n", "a b", "a\tb", "a\nb", "a\u000bb", "a\fb",
      "a\rb", "a\r\nb", "a \t\n\u000b\f\r b", "  lead run x y z", "x y z trail run \n\t ",
      "nbsp\u00a0is\u00a0not a separator", "em\u2003space too", "\u00a0", "\u2003 \u2003",
      "Café CAFÉ café", "日本語 テキスト 日本語 テキスト", "emoji 😀 😀x 😀",
      "Straße STRASSE ÄÖÜ äöü", "The  quick\tBrown fox\n\nthe QUICK brown fox",
      "a a a a a a", "x y x y x y z")
    val rnd = new scala.util.Random(17L)
    val pieces = Array("a", "B", "bb", "Café", "日本", "😀", "x1", "the", "THE",
      " ", "  ", "\t", "\n", "\u000b", "\f", "\r", "\r\n", "\u00a0", "\u2003")
    val random = Seq.fill(400)(Seq.fill(rnd.nextInt(14))(pieces(rnd.nextInt(pieces.length))).mkString)
    def strs(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      a.toSeq[UTF8String](StringType).map(_.toString)

    // the reference itself: NBSP/U+2003 stay inside tokens, \r\n is one run
    assert(toks("a\u00a0b\r\n\u2003c ", false) == Seq("a\u00a0b", "\u2003c"))

    for (t <- fixed ++ random) {
      val u = UTF8String.fromString(t)
      val shown = t.flatMap(c => if (c < ' ') s"<${c.toInt}>" else c.toString)
      for (n <- 1 to 4) {
        val ctx = s"text='$shown' n=$n"
        for (lc <- Seq(true, false))
          assert(strs(ExprOps.wordNgrams(u, n, lc)) == grams(t, n, lc), s"wordNgrams $ctx lc=$lc")
        assert(ExprOps.wordNgramHashSeq(u, n).toLongArray().toSeq == grams(t, n, true).map(fnv),
          s"wordNgramHashSeq $ctx")
        assert(ExprOps.wordNgramHashes(u, n).toLongArray().toSeq == refHashes(t, n),
          s"wordNgramHashes $ctx")
        assert(ExprOps.ngramMaxCount(u, n) == refMaxCount(t, n), s"ngramMaxCount $ctx")
        assert(ExprOps.shingleHashes(u, n + 2).toLongArray().toSeq == refShingles(t, n + 2),
          s"shingleHashes $ctx k=${n + 2}")
      }
      // q56's pass-1/pass-2 invariant: a gram string hashed alone gives
      // the hash its position had in the whole text
      val gs = ExprOps.wordNgrams(u, 3, lowercase = true)
      val hs = ExprOps.wordNgramHashSeq(u, 3).toLongArray()
      assert(gs.numElements() == hs.length, s"q56 text='$shown'")
      hs.indices.foreach { i =>
        assert(hs(i) == ExprOps.wordNgramHashSeq(gs.getUTF8String(i), 3).toLongArray()(0),
          s"q56 pass-2 text='$shown' i=$i")
      }
    }
  }

  test("unpinned text kernels inherit child non-determinism; pinned stay non-deterministic") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Rand}
    import org.apache.spark.sql.types.StringType
    import graft.expressions.{TextStatsExpr, WordNgramsExpr}
    val random = Cast(Rand(Literal(7L)), StringType)
    val fixed = Literal("the quick fox")
    val stops = Seq("the")
    assert(!WordNgramsExpr(random, 2, lowercase = true).deterministic)
    assert(!TextStatsExpr(random, stops, stops, stops).deterministic)
    assert(WordNgramsExpr(fixed, 2, lowercase = true).deterministic)
    assert(TextStatsExpr(fixed, stops, stops, stops).deterministic)
    // the analyzed plan agrees: a projection of the kernel over rand() is
    // flagged non-deterministic
    val projected = Seq(1).toDF("x")
      .select(GraftFunctions.wordNgrams(rand(7L).cast("string"), 2, lowercase = true).as("g"))
    assert(!projected.queryExecution.analyzed.expressions.forall(_.deterministic))
  }
}
