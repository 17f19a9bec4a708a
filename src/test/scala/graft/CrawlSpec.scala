package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.crawl._
import graft.fs.StoreFiles
import graft.seen.{SeenDeletes, SeenSet}

/** Engine ⇄ simulator equivalence (the judged surface: byte-identical
  * URL-seen membership, matched crawl-order traces, per-row payload
  * invariants) + checkpoint/resume equivalence. */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-crawl").toString

  private val cfg = CrawlConfig(
    workDir = "", totalUrls = 6000, epochs = 3, numHosts = 40,
    buckets = 8, budgetPerHost = 25, seed = 42L)

  /** Collect the synthetic frontier as simulator entries. */
  private def simEntries(c: CrawlConfig): Map[Int, Seq[Simulator.Entry]] =
    (0 until c.epochs).map { e =>
      val rows = FrontierSynth.frontier(spark, c.urlsPerEpoch, c.numHosts,
        c.seed, e, epochOffset = e * c.urlsPerEpoch)
        .select("url", "host", "sitemap_seq", "entry_seq", "discovered_epoch")
        .collect()
        .map(r => Simulator.Entry(r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getInt(4)))
      e -> rows.toSeq
    }.toMap

  private def runBoth(c: CrawlConfig): (Seq[EpochMetrics], Simulator.Result, String) = {
    val wd = tmpDir()
    val metrics = CrawlLoop.run(spark, c.copy(workDir = wd))
    val sim = Simulator.run(simEntries(c), c.epochs, c.budgetPerHost,
      Robots.syntheticRules(c.numHosts, c.seed), c.forceUpdate)
    (metrics, sim, wd)
  }

  lazy val (metrics, sim, wd) = runBoth(cfg)

  /** The seen dirs under `workDir`, read as explicit paths (a glob read
    * makes Spark stat the literal glob path and log a warning). */
  private def seenDirs(workDir: String) =
    spark.read.parquet(StoreFiles.epochDirs(spark, s"$workDir/seen"): _*)

  /** A store that delegates every write to [[PayloadSink]]; a test
    * overrides the one write it breaks. */
  private class DelegatingStore extends PayloadStore {
    def writePayload(r: org.apache.spark.sql.Dataset[FetchResult], w: String, e: Int): Unit =
      PayloadSink.writePayload(r, w, e)
    def writeLineage(l: org.apache.spark.sql.Dataset[PartitionLineage], w: String, e: Int): Unit =
      PayloadSink.writeLineage(l, w, e)
    def writeMetrics(m: EpochMetrics, w: String, s: org.apache.spark.sql.SparkSession): Unit =
      PayloadSink.writeMetrics(m, w, s)
    def writeSeenDelta(d: org.apache.spark.sql.DataFrame, w: String, e: Int): Unit =
      PayloadSink.writeSeenDelta(d, w, e)
    def writeCarry(c: org.apache.spark.sql.DataFrame, dir: String): Unit =
      PayloadSink.writeCarry(c, dir)
  }

  test("URL-seen membership is byte-identical to the simulator") {
    val engineSeen = seenDirs(wd)
      .select("url_hash").as[Long].collect().toSet
    assert(engineSeen == sim.seen,
      s"engine=${engineSeen.size} sim=${sim.seen.size} " +
        s"onlyEngine=${(engineSeen -- sim.seen).take(3)} onlySim=${(sim.seen -- engineSeen).take(3)}")
  }

  test("crawl-order traces match per (epoch, host), slot for slot") {
    val payload = spark.read.parquet(s"$wd/payload")
    val engineTraces = payload
      .select($"crawl_epoch", $"host", $"slot", $"url_hash")
      .as[(Int, String, Int, Long)].collect()
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) => k -> rows.sortBy(_._3).map(_._4).toVector }
    assert(engineTraces.keySet == sim.traces.keySet,
      s"trace key sets differ: onlyEngine=${(engineTraces.keySet -- sim.traces.keySet).take(3)} " +
        s"onlySim=${(sim.traces.keySet -- engineTraces.keySet).take(3)}")
    val bad = engineTraces.filter { case (k, v) => sim.traces(k) != v }
    assert(bad.isEmpty, s"${bad.size} traces differ; first=${bad.headOption}")
  }

  test("per-URL statuses match the simulator") {
    val payload = spark.read.parquet(s"$wd/payload")
    val engineStatus = payload.select($"crawl_epoch", $"url_hash", $"status")
      .as[(Int, Long, String)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(engineStatus == sim.statuses)
  }

  test("per-row payload invariants: decode, PSNR≥40 lossy, caption equality, phash") {
    val rows = spark.read.parquet(s"$wd/payload")
      .filter($"status" === Status.Processed)
      .select($"image_id", $"bytes", $"w", $"h", $"fmt", $"caption", $"phash")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val ck = Outcomes.contentKey(
        Outcomes.docidOfImageId(r.getAs[String]("image_id")))
      val Some((dw, dh, dfmt, px)) = ImageCodec.decode(bytes)
      assert(dw == r.getAs[Int]("w") && dh == r.getAs[Int]("h"))
      assert(dfmt == r.getAs[String]("fmt"))
      val src = ImageCodec.pixels(ck, dw, dh)
      val p = ImageCodec.psnr(src, px)
      if (dfmt == "png") assert(p.isPosInfinity) else assert(p >= 40.0)
      // phash is the STORED image's hash (post-encode pixels)
      assert(r.getAs[Long]("phash") == ImageCodec.phash(px, dw, dh))
      assert(r.getAs[String]("caption").nonEmpty)
    }
  }

  test("c02: robots admission counts equal a driver-side Robots.allows recount") {
    val rules = Robots.syntheticRules(60, 42L)
    val want = readside.CrawlQueries.c02Keyed(spark).collect().toSeq
      .groupBy(k => (k.court, Robots.allows(rules.get(k.host), k.path)))
      .map { case ((court, ok), ks) => (court, ok, ks.size.toLong) }.toSeq
      .sortBy { case (court, ok, _) => (Option(court), ok) }
    val got = readside.CrawlQueries.c02RobotsAdmission(spark, "").collect().toSeq
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    assert(got == want)
    // both outcomes occur, over the whole 10k-URL frontier
    assert(want.exists(_._2) && want.exists(!_._2) && want.map(_._3).sum == 10000L)
  }

  test("c14: phash near-dup pairs equal brute force; mirror pairs exist") {
    val payload = spark.read.parquet(s"$wd/payload")
    val got = graft.readside.CrawlQueries.phashNearDupPairs(payload)
      .select($"id_a", $"id_b", $"hamming".cast("int"))
      .as[(String, String, Int)].collect().toSet
    val rows = payload.filter($"status" === Status.Processed)
      .select($"image_id", $"phash").distinct()
      .as[(String, Long)].collect()
    // brute-force O(n²) hamming ≤ 3 pair set: the pigeonhole blocking must
    // be COMPLETE, not just high-recall
    val expect = (for {
      i <- rows.indices.iterator
      j <- (i + 1) until rows.length
      h = java.lang.Long.bitCount(rows(i)._2 ^ rows(j)._2)
      if h <= 3
    } yield {
      val (a, b) =
        if (rows(i)._1 < rows(j)._1) (rows(i)._1, rows(j)._1)
        else (rows(j)._1, rows(i)._1)
      (a, b, h)
    }).toSet
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
    // the mirror fixture guarantees true cross-URL duplicate images:
    // same docid crawled at two URLs must surface as near-dup pairs
    val mirrorPairs = got.filter { case (a, b, _) =>
      Outcomes.docidOfImageId(a) == Outcomes.docidOfImageId(b) }
    assert(mirrorPairs.nonEmpty, "no mirror-derived near-dup pairs found")
  }

  test("c15: image dedup clusters equal union-find over the c14 pair graph") {
    val payload = spark.read.parquet(s"$wd/payload")
    val pairs = graft.readside.CrawlQueries.phashNearDupPairs(payload)
    val got = graft.readside.Queries.connectedComponents(spark, pairs)
      .select($"id", $"rep", $"cluster_size")
      .as[(String, String, Long)].collect().toSet
    // independent oracle: driver-side union-find with min-id roots
    val es = pairs.select($"id_a", $"id_b").as[(String, String)].collect()
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val comps = es.toSeq.flatMap(t => Seq(t._1, t._2)).distinct.groupBy(find)
    val expect = comps.toSeq.flatMap { case (_, ns) =>
      val rep = ns.min
      ns.map(n => (n, rep, ns.length.toLong))
    }.toSet
    assert(got == expect, s"got=${got.size} expect=${expect.size}")
    assert(got.nonEmpty)
  }

  test("single-decode discipline: stored fetch-time features ≡ fresh extract; c11 never reads bytes") {
    import graft.multimodal.Multimodal
    val payload = spark.read.parquet(s"$wd/payload")
      .filter($"status" === Status.Processed)
    // 1. value equality: the features the loop computed from its ONE
    // decode equal a fresh decode+extract pass over the stored bytes
    val stored = payload
      .select($"image_id", $"crawl_epoch", $"mean_luma", $"std_luma",
        $"edge_energy", $"phash")
      .as[(String, Int, Double, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5, r._6)).toMap
    val fresh = Multimodal.extractFeatures(
        payload.select($"image_id", $"bytes").as[Multimodal.ImageRow])
      .as[Multimodal.ImageFeatures].collect()
    assert(fresh.nonEmpty && fresh.forall(_.ok))
    // image_id repeats across epochs; fresh values are identical for the
    // same id (content is docid-keyed), so compare against every epoch row
    fresh.foreach { f =>
      stored.keys.filter(_._1 == f.image_id).foreach { k =>
        assert(stored(k) == ((f.mean_luma, f.std_luma, f.edge_energy, f.phash)),
          s"stored features diverge from fresh decode for ${f.image_id}")
      }
    }
    // 2. plan pin: c11 is a slim aggregation — its parquet scan must not
    // read the binary column (the read side never re-decodes)
    val c11Plan = graft.readside.CrawlQueries.c11ImageFeatures(spark, "")
      .queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: [^\\n]*".r.findAllIn(c11Plan).toSeq
    assert(scanSchemas.nonEmpty)
    assert(scanSchemas.forall(!_.contains("bytes")),
      s"c11 scan still reads payload bytes:\n${scanSchemas.mkString("\n")}")
  }

  test("c19 deep validator: clean fixture validates clean; injected violations count exactly") {
    val payload = spark.read.parquet(s"$wd/payload")
    // 1. the well-formed crawl fixture must produce ZERO errors (every
    // check cross-references parsed strings against typed ground truth,
    // and the pipeline wrote consistent rows)
    val v0 = Validate.deepValidate(payload)
    assert(v0.filter(size($"validation.errors") > 0).count() == 0,
      v0.filter(size($"validation.errors") > 0)
        .select($"image_id", $"validation.errors").take(3).mkString(";"))
    assert(v0.count() == payload.count())
    // 2. inject violations of known classes into disjoint PROCESSED row
    // slices; per-class error counts must equal the injection counts
    val base = payload.filter($"status" === Status.Processed)
      .withColumn("slice", pmod($"url_hash", lit(10L)))
    val mutated = base
      .withColumn("caption",
        when($"slice" === 0, lit("not a grammatical caption")) // CAPTION_GRAMMAR
          .when($"slice" === 1, // CAPTION_HOST_MISMATCH (grammar intact)
            concat(lit("Decision document "),
              expr("substring(image_id, 1, length(image_id) - 17)"),
              lit(" published by evil.example")))
          .otherwise($"caption"))
      .withColumn("psnr",
        when($"slice" === 2 && $"fmt" =!= "png", lit(10.0)) // PSNR_FLOOR
          .otherwise($"psnr"))
      .withColumn("n_bytes",
        when($"slice" === 3, lit(0L)).otherwise($"n_bytes")) // EMPTY_BODY
    val counts = Validate.deepValidate(mutated)
      .select(explode($"validation.errors").as("code"))
      .groupBy($"code").count()
      .as[(String, Long)].collect().toMap
    def slice(n: Int) = base.filter($"slice" === n)
    assert(counts.getOrElse(Validate.Deep.CaptionGrammar, 0L) == slice(0).count())
    assert(counts.getOrElse(Validate.Deep.CaptionHost, 0L) == slice(1).count())
    assert(counts.getOrElse(Validate.Deep.PsnrFloor, 0L) ==
      slice(2).filter($"fmt" =!= "png").count())
    assert(counts.getOrElse(Validate.Deep.EmptyBody, 0L) == slice(3).count())
    // no cross-contamination: the injected classes are the only errors
    assert(counts.keySet == Set(Validate.Deep.CaptionGrammar,
      Validate.Deep.CaptionHost, Validate.Deep.PsnrFloor,
      Validate.Deep.EmptyBody).filter(counts.getOrElse(_, 0L) > 0))
  }

  test("c17: caption extraction is sound (parses ≡ typed columns) and facet-complete") {
    val payload = spark.read.parquet(s"$wd/payload")
    val rows = graft.readside.CrawlQueries.captionExtraction(payload)
      .select($"court", $"n_docs", $"n_docid_ok", $"n_host_ok")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every parsed docid/host agrees with the row's own typed columns —
    // the extraction is verified against ground truth it never reads
    rows.foreach { case (court, n, dOk, hOk) =>
      assert(dOk == n, s"court $court: ${n - dOk} docid extraction misses")
      assert(hOk == n, s"court $court: ${n - hOk} host extraction misses")
    }
    // the court facet from EXTRACTED docids equals the typed-column facet
    val typed = payload.filter($"status" === Status.Processed)
      .select(graft.functions.UrlFunctions.courtOf(
        expr("substring(image_id, 1, length(image_id) - 17)")).as("court"))
      .groupBy($"court").count()
      .as[(String, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._2).toMap == typed)
  }

  test("c16: multimodal consensus equals caption-confirmed subset of c14 pairs") {
    val payload = spark.read.parquet(s"$wd/payload")
    val got = graft.readside.CrawlQueries.multimodalConsensusPairs(payload)
      .select($"id_a", $"id_b").as[(String, String)].collect().toSet
    // independent confirmation oracle: annotate the c14 pair set with
    // captions driver-side, keep pairs with equal captions or token-set
    // jaccard >= 0.9 (same predicate, string tokens instead of hashes)
    val caps = payload.filter($"status" === Status.Processed)
      .select($"image_id", $"caption").distinct()
      .as[(String, String)].collect().toMap
    def toks(c: String): Set[String] =
      c.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSet
    val c14 = graft.readside.CrawlQueries.phashNearDupPairs(payload)
      .select($"id_a", $"id_b").as[(String, String)].collect().toSet
    val expect = c14.filter { case (a, b) =>
      val (ca, cb) = (caps(a), caps(b))
      val (ta, tb) = (toks(ca), toks(cb))
      ca == cb || (ta.intersect(tb).size * 10000L / ta.union(tb).size) >= 9000L
    }
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(got.nonEmpty, "no consensus pairs — mirror fixture missing?")
    // every consensus pair is a true content duplicate: same docid
    got.foreach { case (a, b) =>
      assert(Outcomes.docidOfImageId(a) == Outcomes.docidOfImageId(b),
        s"consensus pair with different docids: $a / $b")
    }
  }

  test("metrics are internally consistent and match simulator counters") {
    metrics.foreach { m =>
      assert(m.n_candidates ===
        m.n_robots_denied + m.n_dup_in_epoch + m.n_seen_skipped +
          m.n_admitted + m.n_deferred)
      assert(m.n_admitted === m.n_processed + m.n_failed + m.n_rejected)
      assert(m.n_robots_denied === sim.deniedPerEpoch.getOrElse(m.epoch, 0L))
      assert(m.n_dup_in_epoch === sim.dupPerEpoch.getOrElse(m.epoch, 0L))
      assert(m.n_seen_skipped === sim.seenSkippedPerEpoch.getOrElse(m.epoch, 0L))
      assert(m.n_deferred === sim.deferredPerEpoch.getOrElse(m.epoch, 0L))
    }
  }

  test("politeness: no host exceeds the per-epoch budget; slots contiguous") {
    val payload = spark.read.parquet(s"$wd/payload")
    val perHost = payload.groupBy($"crawl_epoch", $"host")
      .agg(count(lit(1)).as("n"), max($"slot").as("mx"), min($"slot").as("mn"))
      .as[(Int, String, Long, Int, Int)].collect()
    perHost.foreach { case (e, h, n, mx, mn) =>
      assert(n <= cfg.budgetPerHost, s"host $h over budget in epoch $e")
      assert(mn == 1 && mx == n, s"slots not contiguous for $h@$e")
    }
  }

  test("two-tier bloom dedup ≡ exact dedup (same unseen set)") {
    val c = cfg.copy(workDir = tmpDir())
    val keyed = FrontierSynth.key(
      FrontierSynth.frontier(spark, 2000, c.numHosts, c.seed, 0), c.buckets)
    // fabricate a seen store from half the keys
    val seen = keyed.filter($"url_hash" % 2 === 0)
      .select($"url_hash", $"host_bucket").toDF()
    val exact = SeenSet.unseenExact(keyed, seen).select("url_hash")
      .as[Long].collect().toSet
    val segs = SeenSet.bloomSegments(seen, c.buckets, 1000, 0.01)
    val (twoTierDs, cleanup) = SeenSet.unseenTwoTier(keyed, seen, segs)
    val twoTier = twoTierDs.select("url_hash").as[Long].collect().toSet
    cleanup()
    assert(twoTier == exact)
  }

  test("incremental bloom store: ≡ full rebuild byte-exact, O(1) dirs, fallback-safe") {
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only the LAST epoch's segment dir survives (older ones dropped)
    assert(fs.exists(new org.apache.hadoop.fs.Path(CrawlLoop.bloomDir(wd, cfg.epochs - 1))))
    (0 until cfg.epochs - 1).foreach { e =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(CrawlLoop.bloomDir(wd, e))),
        s"stale segment dir for epoch $e")
    }
    // a bloom is an order-independent OR of bits: the incrementally
    // maintained segments must equal a fresh build over the whole store
    // at the same shape, byte for byte
    val expected = math.max(64L, cfg.totalUrls / cfg.buckets)
    val persisted = CrawlLoop.loadSegments(spark, cfg.copy(workDir = wd),
      cfg.epochs - 1, expected).get.toMap
    val fresh = SeenSet.bloomSegments(
      seenDirs(wd).select("url_hash", "host_bucket"),
      cfg.buckets, expected, cfg.bloomFpp).collect().toMap
    assert(persisted.keySet == fresh.keySet)
    persisted.foreach { case (b, bytes) =>
      assert(java.util.Arrays.equals(bytes, fresh(b)), s"bucket $b segments differ")
    }
    // dropping the segment store mid-crawl only costs a rebuild — the
    // final membership is unchanged
    val c2 = cfg.copy(workDir = tmpDir())
    CrawlLoop.run(spark, c2, stopAfter = 2)
    fs.delete(new org.apache.hadoop.fs.Path(s"${c2.workDir}/seen_blooms"), true)
    CrawlLoop.run(spark, c2)
    val seen2 = seenDirs(c2.workDir)
      .select("url_hash").as[Long].collect().toSet
    assert(seen2 == sim.seen)
    // a PARTIAL store (crashed/cancelled write: files but no _SUCCESS)
    // must be treated as absent — a silently-missing bucket would be a
    // bloom false negative and break byte-exact membership
    val c3 = cfg.copy(workDir = tmpDir())
    CrawlLoop.run(spark, c3, stopAfter = 2)
    val partial = new org.apache.hadoop.fs.Path(CrawlLoop.bloomDir(c3.workDir, 1))
    fs.delete(new org.apache.hadoop.fs.Path(partial, "_SUCCESS"), false)
    assert(CrawlLoop.loadSegments(spark, c3.copy(workDir = c3.workDir), 1,
      expected).isEmpty, "uncommitted segment dir must load as None")
    CrawlLoop.run(spark, c3)
    val seen3 = seenDirs(c3.workDir)
      .select("url_hash").as[Long].collect().toSet
    assert(seen3 == sim.seen)
  }

  test("schedule ≡ plain window ranking on randomized frontiers (property)") {
    import java.sql.Timestamp
    val rules = Robots.syntheticRules(30, 42L)
    val rnd = new scala.util.Random(20260817L)
    (1 to 3).foreach { trial =>
      val budget = 1 + rnd.nextInt(12)
      val rows = (0 until 2500).map { i =>
        val h = rnd.nextInt(30)
        // skewed: host 0 owns ~half the frontier; random paths hit the
        // /private deny prefix sometimes; unique (seq) keys per row
        val host = f"h${if (rnd.nextBoolean()) 0 else h}%04d.courts.example"
        val path = if (rnd.nextInt(5) == 0) s"/private/$i" else s"/docs/$i"
        KeyedUrl(s"u$trial-$i", rnd.nextLong(), s"KARE$i", "BAG", host, h % 8,
          path, rnd.nextInt(50).toLong, i.toLong, rnd.nextInt(3),
          new Timestamp(86400000L * (i % 100)))
      }
      val ds = spark.createDataset(rows).repartition(7)
      val got = Politeness.schedule(ds, rules, budget)
        .collect().map(t => (t._1.url_canon, t._2, t._3)).toSet
      // reference: robots filter + rank per host by the order key
      val expected = rows.groupBy(_.host).toSeq.flatMap { case (host, hs) =>
        val (allowed, denied) = hs.partition(k =>
          Robots.allows(rules.get(host), k.path))
        val ranked = allowed.sortBy(k => (k.discovered_epoch, k.sitemap_seq, k.entry_seq))
        denied.map(k => (k.url_canon, Politeness.Sched.Denied, 0)) ++
          ranked.zipWithIndex.map { case (k, idx) =>
            if (idx < budget) (k.url_canon, Politeness.Sched.Admitted, idx + 1)
            else (k.url_canon, Politeness.Sched.Deferred, 0)
          }
      }.toSet
      assert(got == expected, s"trial $trial (budget=$budget): " +
        s"onlyGot=${(got -- expected).take(3)} onlyExp=${(expected -- got).take(3)}")
    }
  }

  test("schedule ≡ window under PATHOLOGICAL parsed rules: conflicting groups, zero/huge Crawl-delay, unicode paths (property)") {
    import java.sql.Timestamp
    // rules come from the REAL parser over adversarial bodies, not
    // hand-built structs: conflicting UA groups, Crawl-delay of 0 /
    // negative / huge / fractional, unicode disallow prefixes, full-deny
    val bodies = Map(
      0 -> "User-agent: graftbot\nDisallow: /прив\nCrawl-delay: 3\n\nUser-agent: *\nDisallow: /", // UA group wins over full-deny *
      1 -> "User-agent: *\nCrawl-delay: 0\nDisallow: /a b", // zero delay = no clamp
      2 -> "User-agent: *\nCrawl-delay: 10000000000\nDisallow:", // huge delay clamps to 1 slot
      3 -> "User-agent: graft\nDisallow: /🜲\nCrawl-delay: 2.5\nUser-agent: *\nDisallow: /", // prefix agent match, ceil(2.5)=3
      4 -> "User-agent: *\nDisallow: /") // full deny
    val rules = bodies.map { case (i, b) =>
      val host = f"h$i%04d.adv.example"
      host -> Robots.parseRobotsTxt(host, b)
    }
    val windowSec = 10L
    def effBudget(host: String, budget: Int): Int =
      rules.get(host).flatMap(_.crawlDelaySec).filter(_ > 0) match {
        case Some(d) => math.min(budget.toLong, math.max(1L, windowSec / d)).toInt
        case None => budget
      }
    val rnd = new scala.util.Random(20260818L)
    val budget = 5
    val paths = Seq("/прив/x", "/привет", "/a b/c", "/a%20b", "/🜲/f", "/ok/1", "/")
    val rows = (0 until 1200).map { i =>
      val host = f"h${rnd.nextInt(5)}%04d.adv.example"
      KeyedUrl(s"adv-$i", rnd.nextLong(), s"KARE$i", "BAG", host, i % 8,
        paths(rnd.nextInt(paths.length)) + s"/$i", rnd.nextInt(9).toLong,
        i.toLong, rnd.nextInt(2), new Timestamp(86400000L * (i % 50)))
    }
    val ds = spark.createDataset(rows).repartition(5)
    val got = Politeness.schedule(ds, rules, budget, epochWindowSec = windowSec)
      .collect().map(t => (t._1.url_canon, t._2, t._3)).toSet
    val expected = rows.groupBy(_.host).toSeq.flatMap { case (host, hs) =>
      val (allowed, denied) = hs.partition(k => Robots.allows(rules.get(host), k.path))
      val eb = effBudget(host, budget)
      val ranked = allowed.sortBy(k => (k.discovered_epoch, k.sitemap_seq, k.entry_seq))
      denied.map(k => (k.url_canon, Politeness.Sched.Denied, 0)) ++
        ranked.zipWithIndex.map { case (k, idx) =>
          if (idx < eb) (k.url_canon, Politeness.Sched.Admitted, idx + 1)
          else (k.url_canon, Politeness.Sched.Deferred, 0)
        }
    }.toSet
    assert(got == expected,
      s"onlyGot=${(got -- expected).take(3)} onlyExp=${(expected -- got).take(3)}")
    // deny-by-default: a host with NO rule entry is never admitted
    val orphan = rows.take(50).map(_.copy(host = "unknown.example"))
    val gotOrphan = Politeness.schedule(spark.createDataset(orphan), rules, budget)
      .collect()
    assert(gotOrphan.forall(_._2 == Politeness.Sched.Denied))
  }

  test("two-tier broadcast ≡ exact and tombstone merge ≡ plain anti-join on random splits (property)") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(99L)
    def mk(i: Int): KeyedUrl =
      KeyedUrl(s"p$i", rnd.nextLong(), s"KARE$i", "BAG", f"h$i%04d", i % 8,
        s"/d/$i", 0L, i.toLong, 0, new Timestamp(0L))
    // splits: empty seen, full overlap, random fraction
    Seq(0.0, 1.0, 0.4).foreach { frac =>
      val all = (0 until 1500).map(mk)
      val keyed = spark.createDataset(all).repartition(5)
      val seenRows = all.filter(_ => rnd.nextDouble() < frac)
      val seen = spark.createDataset(seenRows)
        .select($"url_hash", $"host_bucket").toDF()
      val exact = all.map(_.url_hash).toSet -- seenRows.map(_.url_hash).toSet
      val segs = SeenSet.bloomSegments(seen, 8, 256, 0.01)
      val (tt, cleanup) = SeenSet.unseenTwoTierBroadcast(keyed, seen, segs)
      val got = tt.select("url_hash").as[Long].collect().toSet
      cleanup()
      assert(got == exact, s"frac=$frac: |got|=${got.size} |exact|=${exact.size}")
      // tombstone merge: the seen rows spread over 3 epoch dirs, a random
      // victim subset deleted after each; a tombstone hides exactly the
      // rows written before it (the sequence-number rule)
      if (seenRows.nonEmpty) {
        val wdT = tmpDir()
        val epochOf = seenRows.map(r => r.url_hash -> rnd.nextInt(3)).toMap
        val tombs = (0 until 3).flatMap { e =>
          spark.createDataset(seenRows.filter(r => epochOf(r.url_hash) == e))
            .select($"url_hash", $"host_bucket").write.parquet(s"$wdT/seen/epoch=$e")
          val victims = seenRows.map(_.url_hash).filter(_ => rnd.nextInt(3) == 0)
          SeenDeletes.delete(spark, wdT, victims.toDF("url_hash"))
          victims.map(_ -> (e + 1))
        }
        val merged = CrawlLoop.readSeen(spark, wdT, 3)
          .select("url_hash").as[Long].collect().toSet
        val model = epochOf.keySet.filterNot(h =>
          tombs.exists { case (t, seq) => t == h && epochOf(h) < seq })
        assert(merged == model, s"frac=$frac: tombstone merge diverged from the sequence model")
      }
    }
  }

  test("determinism across shuffle-partition counts: membership AND traces unchanged at partitions=5") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val c = cfg.copy(workDir = tmpDir())
      CrawlLoop.run(spark, c)
      val seen5 = seenDirs(c.workDir)
        .select("url_hash").as[Long].collect().toSet
      assert(seen5 == sim.seen, "seen membership depends on partition count")
      val traces5 = spark.read.parquet(s"${c.workDir}/payload")
        .select($"crawl_epoch", $"host", $"slot", $"url_hash")
        .as[(Int, String, Int, Long)].collect()
        .groupBy(t => (t._1, t._2))
        .map { case (k, rows) => k -> rows.sortBy(_._3).map(_._4).toVector }
      assert(traces5 == sim.traces, "crawl-order traces depend on partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("crawl-delay budget clamp: opt-in epoch window limits a delayed host only") {
    import java.sql.Timestamp
    val slow = "h0000.courts.example"
    val fast = "h0001.courts.example"
    val rules = Map(
      slow -> RobotsRule(slow, allowAll = true, Seq.empty, crawlDelaySec = Some(10)),
      fast -> RobotsRule(fast, allowAll = true, Seq.empty))
    val rows = (0 until 200).map { i =>
      KeyedUrl(s"u$i", i.toLong, s"KARE$i", "BAG",
        if (i % 2 == 0) slow else fast, 0, s"/d/$i", 0L, i.toLong, 0,
        new Timestamp(0L))
    }
    val ds = spark.createDataset(rows).repartition(4)
    // 60 s window, 10 s delay → 6 slots for the slow host; fast keeps 50
    val adm = Politeness.schedule(ds, rules, 50, epochWindowSec = 60L)
      .collect().filter(_._2 == Politeness.Sched.Admitted)
      .groupBy(_._1.host).view.mapValues(_.length).toMap
    assert(adm(slow) == 6 && adm(fast) == 50, s"got $adm")
    // default (window 0): clamp off, full budget for both — the judged
    // equivalence surface is untouched
    val adm0 = Politeness.schedule(ds, rules, 50)
      .collect().filter(_._2 == Politeness.Sched.Admitted)
      .groupBy(_._1.host).view.mapValues(_.length).toMap
    assert(adm0(slow) == 50 && adm0(fast) == 50, s"got $adm0")
  }

  test("c12 bloom-store introspection: capacity estimate tracks exact counts") {
    val rows = graft.readside.CrawlQueries.c12BloomStore(spark, "")
      .select(col("n_estimated"), coalesce(col("n_exact"), lit(0L)))
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (est, exact) =>
      assert(math.abs(est - exact) <= math.max(5L, (exact * 0.1).toLong),
        s"bloom estimate $est far from exact $exact")
    }
  }

  test("auto-consolidation cadence keeps the seen store at O(1) dirs; membership unchanged") {
    val c = cfg.copy(workDir = tmpDir(), consolidateEvery = 2)
    CrawlLoop.run(spark, c)
    val fs = new org.apache.hadoop.fs.Path(c.workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = (0 until c.epochs).count(e =>
      fs.exists(new org.apache.hadoop.fs.Path(s"${c.workDir}/seen/epoch=$e")))
    assert(dirs < c.epochs, s"expected a merged store, still $dirs per-epoch dirs")
    val seenC = seenDirs(c.workDir)
      .select("url_hash").as[Long].collect().toSet
    assert(seenC == sim.seen)
  }

  test("resume from checkpoint reproduces the uninterrupted run") {
    // uninterrupted reference state = lazy (wd) above; interrupted run:
    val wd2 = tmpDir()
    CrawlLoop.run(spark, cfg.copy(workDir = wd2), stopAfter = 2) // "crash" after epoch 1
    val resumed = CrawlLoop.run(spark, cfg.copy(workDir = wd2)) // resume → epoch 2
    assert(resumed.map(_.epoch) == Seq(2), "resume must start after last commit")
    val seenA = seenDirs(wd)
      .select("url_hash").as[Long].collect().sorted
    val seenB = seenDirs(wd2)
      .select("url_hash").as[Long].collect().sorted
    assert(seenA.toSeq == seenB.toSeq)
    val payA = spark.read.parquet(s"$wd/payload").select("image_id", "status")
      .as[(String, String)].collect().sorted
    val payB = spark.read.parquet(s"$wd2/payload").select("image_id", "status")
      .as[(String, String)].collect().sorted
    assert(payA.toSeq == payB.toSeq)
  }

  test("cross-epoch dup fixture exercises the seen store (n_seen_skipped > 0)") {
    assert(metrics.map(_.n_seen_skipped).sum > 0,
      "no candidate ever hit the seen store — the fixture is not testing J1")
  }

  test("A8/A9/A11 derived metrics are populated and consistent") {
    metrics.foreach { m =>
      assert(m.duration_ms > 0)
      assert(m.urls_per_sec > 0.0)
      assert(m.progress_pct > 0.0 && m.progress_pct <= 100.0)
      assert(m.eta_ms >= 0L)
    }
    assert(metrics.last.progress_pct === 100.0)
  }

  test("P19 typed reject/failure reasons: every non-PROCESSED row classified") {
    val rows = spark.read.parquet(s"$wd/payload")
      .select($"status", $"reject_reason")
      .as[(String, String)].collect()
    rows.foreach { case (st, reason) =>
      if (st == Status.Processed) assert(reason.isEmpty)
      else assert(reason.nonEmpty, s"status $st without a typed reason")
    }
    val reasons = rows.filter(_._1 != Status.Processed).map(_._2).toSet
    // both security-predicate classes and the transient class must appear
    assert(reasons.contains("NET_TRANSIENT"))
    assert(reasons.intersect(Set("OVERSIZE", "DIMENSION_BOMB")).nonEmpty)
    assert(reasons.contains("DECODE_ERROR")) // corrupt fixture
  }

  test("forceUpdate=true re-fetches seen URLs end-to-end (J3) and matches the simulator") {
    val cf = cfg.copy(workDir = tmpDir(), forceUpdate = true)
    val mF = CrawlLoop.run(spark, cf)
    val simF = Simulator.run(simEntries(cf), cf.epochs, cf.budgetPerHost,
      Robots.syntheticRules(cf.numHosts, cf.seed), forceUpdate = true)
    mF.foreach(m => assert(m.n_seen_skipped == 0, "force must bypass the seen skip"))
    val engineSeen = seenDirs(cf.workDir)
      .select("url_hash").as[Long].collect().toSet
    assert(engineSeen == simF.seen)
    // trace equivalence under force
    val engineTraces = spark.read.parquet(s"${cf.workDir}/payload")
      .select($"crawl_epoch", $"host", $"slot", $"url_hash")
      .as[(Int, String, Int, Long)].collect()
      .groupBy(t => (t._1, t._2))
      .map { case (k, rows) => k -> rows.sortBy(_._3).map(_._4).toVector }
    assert(engineTraces == simF.traces)
    // the re-crawl evidence: some URL fetched in more than one epoch...
    val multi = spark.read.parquet(s"${cf.workDir}/payload")
      .groupBy($"url_hash")
      .agg(countDistinct($"crawl_epoch").as("ne"))
      .filter($"ne" >= 2).count()
    assert(multi > 0, "force re-crawl never happened — fixture too weak")
    // ...and the latest-row view (upsert reader) resolves to ONE row per URL
    val latestDups = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"url_hash").orderBy($"crawl_epoch".desc)
      spark.read.parquet(s"${cf.workDir}/payload")
        .withColumn("rn__", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn__" === 1)
        .groupBy($"url_hash").count().filter($"count" > 1).count()
    }
    assert(latestDups == 0)
  }

  /** Window-reader ground truth for the latest view (ties impossible: a
    * url_hash is fetched at most once per epoch). Pointer columns — the
    * view's contract; full rows come from the payload by partition-pruned
    * join on (host_bucket, crawl_epoch, url_hash). */
  private def windowLatest(payloadPath: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"url_hash").orderBy($"crawl_epoch".desc)
    spark.read.parquet(payloadPath)
      .withColumn("rn__", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn__" === 1)
      .select($"url_hash", $"status",
        $"host_bucket".cast("int").as("host_bucket"),
        $"crawl_epoch".cast("int").as("crawl_epoch"))
  }

  private def assertLatestMatchesWindow(workDir: String): Unit = {
    val view = LatestView.read(spark, workDir)
      .select(windowLatest(s"$workDir/payload").columns.map(col): _*)
    val want = windowLatest(s"$workDir/payload")
    assert(view.count() == want.count())
    assert(view.exceptAll(want).count() == 0 && want.exceptAll(view).count() == 0,
      "latest view diverges from the window reader")
    // and the pointer→payload join really is the full-row reader: every
    // pointer resolves to exactly one payload row
    val resolved = spark.read.parquet(s"$workDir/payload")
      .join(LatestView.read(spark, workDir).select("url_hash", "crawl_epoch"),
        Seq("url_hash", "crawl_epoch"))
    assert(resolved.count() == want.count())
  }

  test("latest view ≡ window reader row-for-row (incremental J3 upsert reader)") {
    val _ = (metrics, sim) // force the shared crawl
    // pre-compaction: reader resolves from the delta tail alone
    assertLatestMatchesWindow(wd)
    // and its plan is a scan + bounded-tail agg: no Window anywhere
    val plan = readside.CrawlQueries.c08LatestDocs(spark, "")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"c08 still windows the store:\n$plan")
    // post-compaction: deltas folded into the resolved dir; same rows
    LatestView.compact(spark, wd)
    assertLatestMatchesWindow(wd)
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wd/latest_delta")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$wd/latest_delta")).isEmpty)
    // compaction is idempotent (no deltas → no-op)
    LatestView.compact(spark, wd)
    assertLatestMatchesWindow(wd)
  }

  test("latest view survives an epoch replay (crash before commit) and under forceUpdate") {
    // compacting EVERY epoch exercises the full merge+swap machinery under
    // forceUpdate (every URL re-pointed each epoch)
    val cf = cfg.copy(workDir = tmpDir(), forceUpdate = true, epochs = 2,
      latestCompactEvery = 1)
    CrawlLoop.run(spark, cf)
    assertLatestMatchesWindow(cf.workDir)
    // simulate a crash AFTER the latest compaction but BEFORE the epoch
    // commit: drop the last commit marker and re-run — the replayed
    // epoch's delta must merge idempotently into the already-compacted view
    val fs = new org.apache.hadoop.fs.Path(cf.workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${cf.workDir}/_commits/epoch_1.json"), false)
    CrawlLoop.run(spark, cf)
    assertLatestMatchesWindow(cf.workDir)
  }

  test("S2 gzip transport: gzip fixture present; body decode transparent; invariants hold") {
    // the fixture actually exercises the path: some admitted URLs are gzip-wired
    val hashes = spark.read.parquet(s"$wd/payload").select($"url_hash")
      .as[Long].collect()
    assert(hashes.count(Outcomes.isGzip) > 0, "no gzip-wired rows in fixture")
    // round-trip: wrap + transparent decode is identity; corrupt stream → None
    val body = ImageCodec.encode(ImageCodec.pixels(7L, 9, 9), 9, 9, "png")
    val wrapped = Transport.gzip(body)
    assert(Transport.isGzipped(wrapped) && !Transport.isGzipped(body))
    assert(Transport.decodeBody(wrapped).get.sameElements(body))
    assert(Transport.decodeBody(body).get.sameElements(body)) // identity passthrough
    val corrupt = wrapped.clone(); corrupt(wrapped.length / 2) =
      (corrupt(wrapped.length / 2) ^ 0x5a).toByte
    // a flipped byte mid-stream must never return wrong bytes: either the
    // CRC catches it (None) or inflation fails (None)
    assert(Transport.decodeBody(corrupt).forall(_.sameElements(body)) ||
      Transport.decodeBody(corrupt).isEmpty)
    // bomb guard: expansion past the cap is refused
    val big = Transport.gzip(new Array[Byte](4096))
    assert(Transport.decodeBody(big, maxLen = 1024).isEmpty)
    // stored payloads are the DECOMPRESSED bodies (store unchanged by wire
    // encoding): every processed gzip-wired row decodes directly
    val gzRows = spark.read.parquet(s"$wd/payload")
      .filter($"status" === Status.Processed)
      .select($"bytes", $"url_hash").as[(Array[Byte], Long)].collect()
      .filter(r => Outcomes.isGzip(r._2))
    assert(gzRows.nonEmpty, "no PROCESSED gzip-wired rows in fixture")
    gzRows.foreach { case (b, _) => assert(ImageCodec.decode(b).isDefined) }
  }

  test("ad-hoc payload validation: multi-member and truncated gzip bodies are DECODE_ERROR") {
    val (id, body, w, h, fmt, url) = spark.read.parquet(s"$wd/payload")
      .filter($"status" === Status.Processed)
      .select($"image_id", $"bytes", $"w", $"h", $"fmt", $"url_canon")
      .as[(String, Array[Byte], Int, Int, String, String)].head()
    val single = Transport.gzip(body)
    val k = body.length / 2
    val twoMembers = Transport.gzip(body.take(k)) ++ Transport.gzip(body.drop(k))
    // the concatenation is legal gzip of the same body: the JDK stream joins it
    val joined = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(twoMembers)).readAllBytes()
    assert(joined.sameElements(body))
    val truncated = single.take(single.length - 5)
    val verdicts = Seq("single" -> single, "two-members" -> twoMembers,
        "truncated" -> truncated)
      .map { case (tag, b) => (s"$id/$tag", b, w, h, fmt, url) }
      .toDF("image_id", "bytes", "w", "h", "fmt", "url_canon")
    val got = Validate.validatePayload(verdicts)
      .select($"image_id", $"ok", $"reason").as[(String, Boolean, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(s"$id/single") == ((true, "")))
    assert(got(s"$id/two-members") == ((false, SecurityPredicates.Reason.DecodeError)))
    assert(got(s"$id/truncated") == ((false, SecurityPredicates.Reason.DecodeError)))
  }

  test("cooperative pause mid-run stops at the epoch boundary; resume reproduces the run") {
    val wdP = tmpDir()
    // a store hook that raises the pause flag DURING epoch 0 (the flag is
    // polled between epochs, as the reference polls between dates)
    object PausingStore extends DelegatingStore {
      override def writeMetrics(m: EpochMetrics, w: String, s: org.apache.spark.sql.SparkSession): Unit = {
        if (m.epoch == 0) CrawlControl.requestPause(s, w)
        PayloadSink.writeMetrics(m, w, s)
      }
    }
    val cf = cfg.copy(workDir = wdP)
    val ran = CrawlLoop.run(spark, cf, store = PausingStore)
    assert(ran.map(_.epoch) == Seq(0), "pause flag was not honored at the epoch boundary")
    assert(CrawlLoop.lastCommittedEpoch(spark, wdP) == 0) // epoch 0 committed, store intact
    // resume: clear the flag, run to completion, compare to the uninterrupted run
    CrawlControl.resume(spark, wdP)
    CrawlLoop.run(spark, cf)
    val pausedSeen = seenDirs(wdP)
      .select("url_hash").as[Long].collect().toSet
    assert(pausedSeen == sim.seen, "pause+resume diverged from the uninterrupted crawl")
  }

  test("cooperative cancel leaves a CANCELLED marker and a resumable store") {
    val wdC = tmpDir()
    val cf = cfg.copy(workDir = wdC)
    CrawlLoop.run(spark, cf, stopAfter = 1) // epoch 0 committed
    CrawlControl.requestCancel(spark, wdC)
    val ran = CrawlLoop.run(spark, cf)
    assert(ran.isEmpty, "cancel flag was not honored")
    val fs = new org.apache.hadoop.fs.Path(wdC)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wdC/_commits/crawl.CANCELLED.json")))
    // the store is RESUMABLE: acknowledge + rerun reproduces the full crawl
    CrawlControl.resume(spark, wdC)
    CrawlLoop.run(spark, cf)
    val seenAfter = seenDirs(wdC)
      .select("url_hash").as[Long].collect().toSet
    assert(seenAfter == sim.seen, "cancel+resume diverged from the uninterrupted crawl")
  }

  test("ad-hoc payload validation (c13): verdicts agree with the fetch pipeline's statuses") {
    // image_id repeats across epochs (a transient-FAILED row is retried
    // with the same id) — key the comparison on (image_id, epoch)
    val payload = spark.read.parquet(s"$wd/payload")
      .withColumn("image_id",
        concat($"image_id", org.apache.spark.sql.functions.lit("#"), $"crawl_epoch"))
    val verdicts = Validate.validatePayload(payload)
      .select($"image_id", $"ok", $"reason")
      .as[(String, Boolean, String)].collect().map(v => v._1 -> v).toMap
    val statuses = payload.select($"image_id", $"status", $"reject_reason")
      .as[(String, String, String)].collect()
    assert(statuses.nonEmpty && verdicts.size == statuses.length)
    statuses.foreach { case (id, status, storedReason) =>
      val (_, ok, reason) = verdicts(id)
      if (status == Status.Processed) assert(ok, s"$id processed but re-validation failed: $reason")
      else {
        assert(!ok, s"$id $status but re-validation passed")
        // rows with no stored body (REJECTED header-only, transient FAILED)
        // can only re-validate as DECODE_ERROR; corrupt bodies keep their class
        if (storedReason == SecurityPredicates.Reason.PsnrFloor)
          assert(reason == SecurityPredicates.Reason.PsnrFloor)
      }
    }
  }

  test("S10 deletes: tombstoned URL re-enters the crawl; undeleted stays skipped") {
    val wd3 = tmpDir()
    val cf = cfg.copy(workDir = wd3)
    CrawlLoop.run(spark, cf, stopAfter = 1) // epoch 0 committed
    val seen0 = spark.read.parquet(s"$wd3/seen/epoch=0")
      .select("url_hash").as[Long].collect().toSet
    // epoch-1 candidates that hit the seen store AND are robots-admissible
    val rules = Robots.syntheticRules(cf.numHosts, cf.seed)
    val e1 = FrontierSynth.key(FrontierSynth.frontier(spark, cf.urlsPerEpoch,
        cf.numHosts, cf.seed, 1, epochOffset = cf.urlsPerEpoch), cf.buckets)
      .filter(k => Robots.allows(rules.get(k.host), k.path))
      .select("url_hash").as[Long].collect().toSet
    val overlap = (seen0 & e1).toSeq.sorted
    assert(overlap.size >= 2, "cross-epoch dup fixture yielded <2 seen hits")
    val victim = overlap.head
    val control = overlap.last
    SeenDeletes.delete(spark, wd3, Seq(victim).toDF("url_hash"))
    CrawlLoop.run(spark, cf) // epochs 1..2 with merge-on-read tombstones
    // victim must re-enter the pipeline: fetched, retried, or deferred
    val reFetched = spark.read.parquet(s"$wd3/payload")
      .filter($"crawl_epoch" >= 1 && $"url_hash" === victim).count()
    val reQueued = spark.read.parquet(s"$wd3/carry/epoch=2")
      .filter($"url_hash" === victim).count()
    assert(reFetched + reQueued > 0, "deleted URL was still seen-skipped")
    // control (not deleted) must stay skipped: no new row anywhere
    val ctrlRows = spark.read.parquet(s"$wd3/payload")
      .filter($"crawl_epoch" >= 1 && $"url_hash" === control).count()
    assert(ctrlRows == 0, "undeleted seen URL was re-crawled")
  }

  test("S10 re-crawl after a delete: the re-crawled URL is seen again") {
    val wd = tmpDir()
    def writeSeen(epoch: Int, hashes: Long*): Unit =
      hashes.map(h => (h, (h % 8).toInt)).toDF("url_hash", "host_bucket")
        .write.parquet(s"$wd/seen/epoch=$epoch")
    writeSeen(0, 1L, 2L)
    SeenDeletes.delete(spark, wd, Seq(1L).toDF("url_hash"))
    assert(CrawlLoop.readSeen(spark, wd, 1).select("url_hash").as[Long]
      .collect().toSet == Set(2L))
    writeSeen(1, 1L) // the next epoch re-crawls 1 successfully
    assert(seenMembers(wd) == Set(1L, 2L), "the delete hid a URL crawled after it")
  }

  test("S10 re-crawl after a delete: a deleted URL is fetched again at most once") {
    val wd = tmpDir()
    val cf = cfg.copy(workDir = wd, totalUrls = 12000, epochs = 6,
      budgetPerHost = 1000, consolidateEvery = 2)
    CrawlLoop.run(spark, cf, stopAfter = 2) // epochs 0..1
    val seen01 = CrawlLoop.readSeen(spark, wd, 2).select("url_hash").as[Long].collect().toSet
    // delete the seen URLs that come back in at least two later frontiers
    val rules = Robots.syntheticRules(cf.numHosts, cf.seed)
    val later = (2 until cf.epochs).flatMap { e =>
      FrontierSynth.key(FrontierSynth.frontier(spark, cf.urlsPerEpoch, cf.numHosts,
          cf.seed, e, epochOffset = e * cf.urlsPerEpoch), cf.buckets)
        .filter(k => Robots.allows(rules.get(k.host), k.path))
        .select("url_hash").as[Long].collect().distinct
    }
    val victims = later.groupBy(identity).collect {
      case (h, hs) if hs.size >= 2 && seen01(h) => h
    }.toSeq
    assert(victims.size >= 5, s"fixture yielded ${victims.size} recurring seen URLs")
    SeenDeletes.delete(spark, wd, victims.toDF("url_hash"))
    CrawlLoop.run(spark, cf) // epochs 2..5
    val fetched = spark.read.parquet(s"$wd/payload")
      .filter($"crawl_epoch" >= 2 && $"status" === Status.Processed)
      .select("url_hash").as[Long].collect().groupBy(identity)
      .map { case (h, hs) => h -> hs.length }
    val counts = victims.map(h => fetched.getOrElse(h, 0))
    assert(counts.forall(_ <= 1), s"re-fetch counts of deleted URLs: ${counts.sorted.reverse.take(5)}")
    assert(counts.contains(1), "no deleted URL was re-crawled")
  }

  test("S10 compaction: consolidation applies the tombstones and drops them") {
    val wd4 = tmpDir()
    val cf = cfg.copy(workDir = wd4)
    CrawlLoop.run(spark, cf, stopAfter = 2) // epochs 0..1
    val seenAll = seenDirs(wd4)
      .select("url_hash").as[Long].collect()
    val victims = seenAll.sorted.take(3).toSeq
    SeenDeletes.delete(spark, wd4, victims.toDF("url_hash"))
    assert(file(s"$wd4/seen_tombstones/seq=2").exists)
    // merge-on-read view already excludes them
    val mor = CrawlLoop.readSeen(spark, wd4, 2)
      .select("url_hash").as[Long].collect().toSet
    assert(victims.forall(v => !mor.contains(v)))
    assert(mor.size == seenAll.toSet.size - victims.toSet.size)
    // consolidation: physical rewrite + tombstone clear
    SeenDeletes.consolidate(spark, wd4, 2)
    val physical = seenDirs(wd4)
      .select("url_hash").as[Long].collect().toSet
    assert(physical == mor)
    assert(file(s"$wd4/seen_tombstones").list().isEmpty)
    // a single seen dir is rewritten when tombstones apply to it
    SeenDeletes.delete(spark, wd4, Seq(physical.min).toDF("url_hash"))
    SeenDeletes.consolidate(spark, wd4, 2)
    assert(spark.read.parquet(s"$wd4/seen/epoch=1").select("url_hash").as[Long]
      .collect().toSet == physical - physical.min)
    assert(file(s"$wd4/seen_tombstones").list().isEmpty)
  }

  test("S10 mass delete: 150k tombstones stay distributed end-to-end (no key ever on the driver)") {
    val wd = tmpDir()
    // deleteByQuery-scale purge: the victim set is a DataFrame predicate
    // result, never a driver Seq; delete + merge-on-read + consolidate
    // must all run with only counts reaching the driver
    val seen = spark.range(400000).select(
      (col("id") * 2654435761L).as("url_hash"),
      (col("id") % 8).cast("int").as("host_bucket"))
    seen.write.parquet(s"$wd/seen/epoch=0")
    val store = spark.read.parquet(s"$wd/seen/epoch=0")
    val victims = store.filter(pmod(col("url_hash"), lit(8L)) < 3)
      .select("url_hash")
    val nVictims = victims.count()
    assert(nVictims > 140000L, s"fixture under-sized: $nVictims")
    val deleted = SeenDeletes.delete(spark, wd, victims)
    assert(deleted == nVictims)
    // merge-on-read ≡ plain anti-join, value-exact at this volume
    val mor = CrawlLoop.readSeen(spark, wd, 1)
    assert(mor.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val expect = store.join(victims, Seq("url_hash"), "left_anti")
    assert(mor.count() == expect.count())
    assert(mor.join(victims, Seq("url_hash"), "left_semi").count() == 0,
      "a tombstoned key survived the merge-on-read view")
    // the shuffle join (the plan Spark picks for a tombstone table past
    // the broadcast threshold) must give the broadcast join's rows; the
    // broadcast result is written out first, since a lazy frame would be
    // re-planned under the changed setting
    mor.write.parquet(s"$wd/mor_broadcast")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val morShuffle = CrawlLoop.readSeen(spark, wd, 1)
      assert(morShuffle.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
      val morBroadcast = spark.read.parquet(s"$wd/mor_broadcast")
      assert(morShuffle.exceptAll(morBroadcast).count() == 0 &&
        morBroadcast.exceptAll(morShuffle).count() == 0,
        "shuffle join diverges from the broadcast join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // consolidation rewrites the dir and the physical store matches
    // (victim check re-derived from the predicate — the lazy `victims`
    // frame would re-read the now-rewritten store and assert vacuously)
    SeenDeletes.consolidate(spark, wd, 1)
    val physical = spark.read.parquet(s"$wd/seen/epoch=0")
    assert(physical.count() == 400000L - nVictims)
    assert(physical.filter(pmod(col("url_hash"), lit(8L)) < 3).count() == 0)
    assert(file(s"$wd/seen_tombstones").list().isEmpty)
  }

  test("mega-host skew: prefilter bounds the shuffle input; schedule stays exact") {
    val n = 60000
    val budget = 50
    val parts = 16
    val hosts = (0 until 40).map(i => f"h$i%02d.example")
    val allow = (hosts :+ "mega.example")
      .map(h => h -> RobotsRule(h, allowAll = true, Seq("/private"))).toMap
    val rows = spark.range(n).map { i =>
      val host = if (i % 2 == 0) "mega.example" else hosts((i % 40).toInt)
      KeyedUrl(s"https://$host/?docid=D$i", i, s"D$i", "BGH", host,
        (i % 8).toInt, "/jportal/docs", i / 1000, i % 1000, 0,
        new java.sql.Timestamp(0L))
    }.repartition(parts).persist()
    rows.count()
    // survivor bound: the mega-host (50% of the frontier) ships at most
    // budget × partitions rows into the host shuffle
    val survivors = Politeness.prefilter(rows, allow, budget)
      .filter(_._2 == Politeness.Sched.Survivor)
      .map(t => t._1.host).groupByKey(identity).count().collect().toMap
    assert(survivors("mega.example") <= budget.toLong * parts)
    assert(survivors("mega.example") < n / 4, "prefilter did not prune the mega-host")
    // exactness: admitted set + slots equal the straightforward reference
    val sched = Politeness.schedule(rows, allow, budget)
    val admitted = sched.filter(_._2 == Politeness.Sched.Admitted)
      .map(t => (t._1.host, t._3, t._1.url_hash)).collect()
      .groupBy(_._1).map { case (h, a) => h -> a.sortBy(_._2).map(_._3).toSeq }
    val expected = rows.collect()
      .groupBy(_.host).map { case (h, a) =>
        h -> a.sortBy(k => (k.discovered_epoch, k.sitemap_seq, k.entry_seq))
          .take(budget).map(_.url_hash).toSeq }
    assert(admitted == expected)
    val states = sched.map(_._2).groupByKey(identity).count().collect().toMap
    assert(states.values.sum == n)
    rows.unpersist()
  }

  test("seen-store consolidation: membership-identical, fewer dirs, crash-recoverable") {
    val wd6 = tmpDir()
    val cf = cfg.copy(workDir = wd6)
    CrawlLoop.run(spark, cf, stopAfter = 2) // epochs 0,1
    val before = CrawlLoop.readSeen(spark, wd6, 2)
      .select("url_hash").as[Long].collect().toSet
    SeenDeletes.consolidate(spark, wd6, 2)
    assert(!new java.io.File(s"$wd6/seen/epoch=0").exists, "source dir must be gone")
    assert(new java.io.File(s"$wd6/seen/epoch=1").exists)
    assert(!new java.io.File(StoreFiles.swapMarker(wd6)).exists)
    val after = CrawlLoop.readSeen(spark, wd6, 2)
      .select("url_hash").as[Long].collect().toSet
    assert(after == before)
    // the crawl continues over the consolidated store and still matches
    CrawlLoop.run(spark, cf) // epoch 2
    val seenAll = seenDirs(wd6)
      .select("url_hash").as[Long].collect().toSet
    assert(seenAll == sim.seen)

    // crash simulation: marker written, one source deleted, tmp not yet
    // renamed — recovery must finish the swap without losing membership
    val wd7 = tmpDir()
    CrawlLoop.run(spark, cfg.copy(workDir = wd7), stopAfter = 2)
    val expect = seenDirs(wd7)
      .select("url_hash").as[Long].collect().toSet
    spark.read.parquet(s"$wd7/seen/epoch=0", s"$wd7/seen/epoch=1")
      .select("url_hash", "host_bucket").distinct()
      .write.parquet(s"$wd7/seen/.consolidate.tmp")
    StoreFiles.begin(spark, StoreFiles.swapMarker(wd7), StoreFiles.Swap(
      Seq(s"$wd7/seen/.consolidate.tmp" -> s"$wd7/seen/epoch=1"), Seq(s"$wd7/seen/epoch=0")))
    assert(new java.io.File(StoreFiles.swapMarker(wd7)).exists)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$wd7/seen/epoch=0")) // crash mid-delete
    assert(StoreFiles.recover(spark, StoreFiles.swapMarker(wd7)))
    val recovered = seenDirs(wd7)
      .select("url_hash").as[Long].collect().toSet
    assert(recovered == expect)
    assert(!new java.io.File(StoreFiles.swapMarker(wd7)).exists)
    assert(!new java.io.File(s"$wd7/seen/.consolidate.tmp").exists)
  }

  /** Seen dirs epoch=0 (hashes [0,100)) and epoch=1 ([100,200)) under
    * `workDir` — a two-epoch store without a crawl. */
  private def rangeSeen(workDir: String): Set[Long] = {
    Seq(0L -> 100L, 100L -> 200L).zipWithIndex.foreach { case ((lo, hi), e) =>
      spark.range(lo, hi).select(col("id").as("url_hash"),
        (col("id") % 8).cast("int").as("host_bucket"))
        .write.parquet(s"$workDir/seen/epoch=$e")
    }
    (0L until 200L).toSet
  }

  private def seenMembers(workDir: String): Set[Long] =
    CrawlLoop.readSeen(spark, workDir, 2).select("url_hash").as[Long].collect().toSet

  private def file(p: String): java.io.File = new java.io.File(p)

  /** Apply one swap move by hand, as the swap itself does. */
  private def moveByHand(m: (String, String)): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(file(m._2))
    assert(file(m._1).renameTo(file(m._2)))
  }

  test("crash after the consolidation rename: recovery keeps the merged store") {
    val wdA = tmpDir()
    val expect = rangeSeen(wdA)
    val plan = SeenDeletes.stageConsolidation(spark, wdA, 2).get
    StoreFiles.begin(spark, StoreFiles.swapMarker(wdA), plan)
    plan.moves.foreach(moveByHand) // crash after the rename, marker still present
    assert(StoreFiles.recover(spark, StoreFiles.swapMarker(wdA)))
    assert(seenMembers(wdA) == expect)
    assert(!file(s"$wdA/seen/epoch=0").exists && !file(StoreFiles.swapMarker(wdA)).exists)
  }

  test("crash with a comma in the work dir: recovery touches only the swap's own paths") {
    val p = tmpDir()
    val sibling = s"$p/crawl"
    val wdB = s"$p/crawl,v2"
    val expectSibling = rangeSeen(sibling)
    val expect = rangeSeen(wdB)
    val plan = SeenDeletes.stageConsolidation(spark, wdB, 2).get
    StoreFiles.begin(spark, StoreFiles.swapMarker(wdB), plan) // crash here
    assert(StoreFiles.recover(spark, StoreFiles.swapMarker(wdB)))
    assert(seenMembers(wdB) == expect)
    assert(!file(s"$wdB/seen/epoch=0").exists)
    assert(seenMembers(sibling) == expectSibling, "a sibling of the work dir was deleted")
  }

  test("crash in consolidation with tombstones: recovery drops the spent tombstones") {
    val wdC = tmpDir()
    val victims = Seq(3L, 150L, 199L)
    val expect = rangeSeen(wdC) -- victims
    SeenDeletes.delete(spark, wdC, victims.toDF("url_hash"))
    val plan = SeenDeletes.stageConsolidation(spark, wdC, 2).get
    assert(plan.drops.contains(s"$wdC/seen_tombstones/seq=2"))
    StoreFiles.begin(spark, StoreFiles.swapMarker(wdC), plan)
    plan.moves.foreach(moveByHand) // crash after the rename, before the drops
    assert(seenMembers(wdC) == expect)
    assert(StoreFiles.recover(spark, StoreFiles.swapMarker(wdC)))
    val physical = seenDirs(wdC)
      .select("url_hash").as[Long].collect().toSet
    assert(physical == expect)
    assert(seenMembers(wdC) == expect)
    assert(file(s"$wdC/seen_tombstones").list().isEmpty)
  }

  test("crash midway through the latest-view bucket swap: the view still equals the window reader") {
    val wdD = tmpDir()
    // three epochs of pointer rows over overlapping url_hash ranges, so
    // later epochs re-point earlier keys
    def epochRows(e: Int) = spark.range(e * 40L, e * 40L + 100L).select(
      col("id").as("url_hash"),
      when(col("id") % 5 === e, lit(Status.Failed)).otherwise(lit(Status.Processed)).as("status"),
      (col("id") % 8).cast("int").as("host_bucket"),
      lit(e).as("crawl_epoch"))
    (0 until 3).foreach { e =>
      val rows = epochRows(e)
      rows.write.mode("append").partitionBy("host_bucket", "crawl_epoch")
        .parquet(s"$wdD/payload")
      LatestView.appendDelta(spark, wdD, e, rows)
      if (e == 1) LatestView.compact(spark, wdD)
    }
    val plan = LatestView.stageFold(spark, wdD).get
    assert(plan.moves.size == 8)
    StoreFiles.begin(spark, StoreFiles.swapMarker(wdD), plan)
    // crash: half the buckets moved, the next target deleted but not renamed
    val (done, rest) = plan.moves.splitAt(plan.moves.size / 2)
    done.foreach(moveByHand)
    org.apache.commons.io.FileUtils.deleteDirectory(file(rest.head._2))
    assert(StoreFiles.recover(spark, StoreFiles.swapMarker(wdD)))
    assertLatestMatchesWindow(wdD)
    assert(!file(s"$wdD/latest_staging").exists && !file(s"$wdD/latest_delta/epoch=2").exists)
  }

  test("ST5 watchdog reaps a stuck epoch: FAILED marker, no commit, clean resume") {
    val wd5 = tmpDir()
    // a store whose payload write hangs, then dies without committing —
    // injected through the PayloadStore trait. The write runs first, so
    // the epoch's frontier caches are filled (or cancelled while filling)
    // before the store dies.
    class SlowStore extends DelegatingStore {
      override def writePayload(r: org.apache.spark.sql.Dataset[FetchResult], w: String, e: Int): Unit = {
        super.writePayload(r, w, e)
        Thread.sleep(3000); throw new RuntimeException("slow store died")
      }
    }
    val cf = cfg.copy(workDir = wd5, stuckTimeoutMs = 1200)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    intercept[StuckEpochException] {
      CrawlLoop.run(spark, cf, store = new SlowStore)
    }
    assert(new java.io.File(s"$wd5/_commits/epoch_0.FAILED.json").exists)
    assert(!new java.io.File(s"$wd5/_commits/epoch_0.json").exists)
    Thread.sleep(3000) // let the cancelled background epoch die
    // the failed attempt released every cache it made
    eventually("the failed epoch leaked cached frames") {
      spark.sparkContext.getPersistentRDDs.size == persisted
    }
    // resume with a healthy store replays epoch 0 idempotently
    val resumed = CrawlLoop.run(spark, cfg.copy(workDir = wd5))
    assert(resumed.map(_.epoch) == (0 until cfg.epochs))
    val seenResumed = seenDirs(wd5)
      .select("url_hash").as[Long].collect().toSet
    assert(seenResumed == sim.seen)
  }

  /** Poll (bounded) until `done`; the listener bus and the status store
    * are updated asynchronously. */
  private def eventually(what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
    assert(done, what)
  }

  private def runningJobs(group: String): Seq[Int] = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).toSeq.filter(id =>
      st.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
  }

  private def sinkThreadsAlive(epoch: Int): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith(s"graft epoch=$epoch "))
  }

  test("concurrent sinks: a failing sink fails the epoch uncommitted once every sibling has joined") {
    val wdF = tmpDir()
    object FailingSeenStore extends DelegatingStore {
      override def writeSeenDelta(d: org.apache.spark.sql.DataFrame, w: String, e: Int): Unit =
        throw new IllegalStateException("seen store died")
    }
    // record each job's description and group: every sink job must carry
    // its own label AND the caller's group (what a watchdog cancels)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties).getOrElse(new java.util.Properties())
        jobs.add((p.getProperty("spark.job.description", ""), p.getProperty("spark.jobGroup.id", "")))
      }
    }
    val sc = spark.sparkContext
    val group = "crawlspec-failing-sink"
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "a sink fails")
    val err =
      try intercept[IllegalStateException] {
        CrawlLoop.run(spark, cfg.copy(workDir = wdF), store = FailingSeenStore)
      } finally sc.clearJobGroup()
    assert(err.getMessage == "seen store died")
    assert(!file(s"$wdF/_commits/epoch_0.json").exists && !file(s"$wdF/metrics/epoch=0").exists)
    // the error surfaced only after every sibling sink had finished
    assert(!sinkThreadsAlive(0))
    Seq("lineage/epoch=0", "latest_delta/epoch=0", "seen_blooms/epoch=0")
      .foreach(d => assert(file(s"$wdF/$d/_SUCCESS").exists, s"$d was not finished"))
    assert(file(s"$wdF/seen_blooms/epoch=0/_graft_meta.json").exists)
    assert(file(s"$wdF/carry/epoch=0/_SUCCESS").exists, "carry was not finished")
    val sinkLabels = Seq("lineage-write", "latest-delta", "seen-bloom-write", "carry-write")
      .map(p => s"epoch=0 $p")
    try eventually("sink jobs never reported") {
      sinkLabels.forall(l => jobs.toArray.exists(_.asInstanceOf[(String, String)]._1 == l))
    } finally sc.removeSparkListener(listener)
    val epochJobs = jobs.toArray.map(_.asInstanceOf[(String, String)]).filter(_._1.startsWith("epoch=0"))
    assert(epochJobs.forall(_._2 == group), s"jobs outside the caller's group: ${epochJobs.toSeq}")
    eventually(s"jobs still running in $group")(runningJobs(group).isEmpty)
    // resume replays epoch 0 and reproduces the uninterrupted crawl
    val resumed = CrawlLoop.run(spark, cfg.copy(workDir = wdF))
    assert(resumed.map(_.epoch) == (0 until cfg.epochs))
    assert(seenDirs(wdF).select("url_hash").as[Long].collect().toSet == sim.seen)
  }

  test("ST5 watchdog reaps an epoch stalled inside a concurrent sink: FAILED marker, no job left, clean resume") {
    val wdS = tmpDir()
    val stalled = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a seen write that hangs in a Spark job until it is cancelled
    object StallingStore extends DelegatingStore {
      override def writeSeenDelta(d: org.apache.spark.sql.DataFrame, w: String, e: Int): Unit = {
        stalled.set(true)
        d.repartition(1).rdd.foreachPartition(_ => Thread.sleep(120000))
      }
    }
    intercept[StuckEpochException] {
      CrawlLoop.run(spark, cfg.copy(workDir = wdS, stuckTimeoutMs = 10000), store = StallingStore)
    }
    assert(stalled.get, "the watchdog fired before the sinks started")
    assert(file(s"$wdS/_commits/epoch_0.FAILED.json").exists)
    assert(!file(s"$wdS/_commits/epoch_0.json").exists)
    // the cancel reaches the stalled sink's job: its thread and siblings end
    eventually("sink threads outlived the cancel")(!sinkThreadsAlive(0))
    eventually("jobs left in graft-epoch-0")(runningJobs("graft-epoch-0").isEmpty)
    assert(!file(s"$wdS/_commits/epoch_0.json").exists)
    val resumed = CrawlLoop.run(spark, cfg.copy(workDir = wdS))
    assert(resumed.map(_.epoch) == (0 until cfg.epochs))
    assert(seenDirs(wdS).select("url_hash").as[Long].collect().toSet == sim.seen)
  }

  test("concurrent sinks: 6-epoch local[4] metrics equal a recount of the payload and lineage tables") {
    assert(spark.sparkContext.master == "local[4]")
    val c = cfg.copy(workDir = tmpDir(), totalUrls = 12000, epochs = 6,
      consolidateEvery = 2, latestCompactEvery = 2)
    val ms = CrawlLoop.run(spark, c)
    assert(ms.map(_.epoch) == (0 until c.epochs))
    val payloadRows = spark.read.parquet(s"${c.workDir}/payload")
    val payload = payloadRows
      .groupBy($"crawl_epoch")
      .agg(count(when($"status" === Status.Processed, 1)),
        count(when($"status" === Status.Failed, 1)),
        count(when($"status" === Status.Rejected, 1)),
        coalesce(sum(length($"bytes")), lit(0L)), countDistinct($"host"), count(lit(1)))
      .as[(Int, Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    ms.foreach { m =>
      val (_, p, f, r, bytes, hosts, rows) = payload(m.epoch)
      assert((m.n_processed, m.n_failed, m.n_rejected, m.bytes_written, m.n_hosts) ==
        ((p, f, r, bytes, hosts)), s"epoch ${m.epoch} metrics differ from the payload")
      val lineage = spark.read.parquet(s"${c.workDir}/lineage/epoch=${m.epoch}")
        .agg(sum($"n_rows"), sum($"n_bytes"), sum($"n_hosts")).as[(Long, Long, Long)].head()
      assert(lineage == ((rows, bytes, hosts)), s"epoch ${m.epoch} lineage differs from the payload")
      assert(spark.read.parquet(s"${c.workDir}/metrics/epoch=${m.epoch}").as[EpochMetrics]
        .collect().toSeq == Seq(m))
      // per bucket, the lineage's slot-1 host count is the distinct count
      val epochRows = payloadRows.filter($"crawl_epoch" === m.epoch)
      val bucketHosts = epochRows.groupBy($"host_bucket").agg(countDistinct($"host"))
        .as[(Int, Long)].collect().toMap
      assert(spark.read.parquet(s"${c.workDir}/lineage/epoch=${m.epoch}")
        .select($"host_bucket", $"n_hosts").as[(Int, Long)].collect().toMap == bucketHosts,
        s"epoch ${m.epoch} lineage n_hosts differs from the payload's distinct hosts")
      // the carry holds every deferred row and every FAILED row
      val carry = CrawlLoop.readCarried(spark, s"${c.workDir}/carry/epoch=${m.epoch}")
        .select($"url_hash").as[Long].collect()
      assert(carry.length == m.n_deferred + m.n_failed, s"epoch ${m.epoch} carry size")
      val failed = epochRows.filter($"status" === Status.Failed).select($"url_hash").as[Long].collect()
      assert(failed.toSet.subsetOf(carry.toSet), s"epoch ${m.epoch} carry lost a FAILED row")
    }
    assert(ms.exists(_.n_failed > 0) && ms.exists(_.n_deferred > 0))
  }

  test("zero host budget: epochs that admit nothing commit empty lineage and carry every deferred row") {
    val c = cfg.copy(workDir = tmpDir(), epochs = 2, budgetPerHost = 0)
    val ms = CrawlLoop.run(spark, c)
    assert(ms.map(_.epoch) == Seq(0, 1))
    ms.foreach { m =>
      assert(file(s"${c.workDir}/_commits/epoch_${m.epoch}.json").exists)
      assert((m.n_admitted, m.n_hosts, m.n_processed, m.n_failed, m.bytes_written) ==
        ((0L, 0L, 0L, 0L, 0L)), s"epoch ${m.epoch}: $m")
      assert(m.n_deferred > 0)
      assert(spark.read.parquet(s"${c.workDir}/lineage/epoch=${m.epoch}").count() == 0)
      assert(CrawlLoop.readCarried(spark, s"${c.workDir}/carry/epoch=${m.epoch}").count() ==
        m.n_deferred)
    }
    // epoch 1's candidates are its slice plus everything epoch 0 deferred
    assert(ms(1).n_candidates == c.urlsPerEpoch + ms(0).n_deferred)
  }

  test("store read schemas: each declared schema equals the one Spark infers from a fresh store") {
    val w = tmpDir()
    val c = cfg.copy(workDir = w, consolidateEvery = 0, latestCompactEvery = 2)
    CrawlLoop.run(spark, c)
    SeenDeletes.delete(spark, w, seenDirs(w).select("url_hash").limit(5))
    def inferred(base: String, dirs: Seq[String]) =
      spark.read.option("basePath", base).parquet(dirs: _*).schema
    assert(inferred(s"$w/seen", StoreFiles.epochDirs(spark, s"$w/seen")) == SeenDeletes.SeenSchema)
    assert(spark.read.parquet(s"$w/seen_tombstones").schema == SeenDeletes.TombSchema)
    val last = c.epochs - 1
    assert(spark.read.parquet(CrawlLoop.bloomDir(w, last)).schema == CrawlLoop.SegmentSchema)
    val leaves = PayloadSink.epochLeaves(spark, w, c.buckets, last).map(l => s"$w/payload/$l")
    assert(inferred(s"$w/payload", leaves) == PayloadSink.schema)
    val deltas = StoreFiles.epochDirs(spark, s"$w/latest_delta")
    assert(deltas.nonEmpty)
    assert(inferred(s"$w/latest_delta", deltas) == LatestView.DeltaSchema)
    assert(spark.read.parquet(s"$w/latest").schema == LatestView.ResolvedSchema)
  }

  test("prefilter memory valve: past the heap-host ceiling rows bypass safely (completeness intact)") {
    val budget = 10
    val hosts = (0 until 5).map(i => s"h$i.example")
    val allow = hosts.map(h => h -> RobotsRule(h, allowAll = true, Seq())).toMap
    val rows = spark.range(5000).map { i =>
      val host = hosts((i % 5).toInt)
      KeyedUrl(s"https://$host/?docid=D$i", i, s"D$i", "BGH", host,
        (i % 4).toInt, "/docs", i / 100, i % 100, 0, new java.sql.Timestamp(0L))
    }.repartition(4)
    val pre = Politeness.prefilter(rows, allow, budget, maxHeapHosts = 2).collect()
    assert(pre.length >= 5000 - 0 && pre.map(_._1.url_hash).distinct.length == 5000,
      "every input row must come out exactly once")
    val survivors = pre.filter(_._2 == Politeness.Sched.Survivor).map(_._1)
    // completeness invariant: each host's true budget-earliest rows all survive
    val byHost = rows.collect().groupBy(_.host)
    byHost.foreach { case (h, all) =>
      val top = all.sortBy(k => (k.discovered_epoch, k.sitemap_seq, k.entry_seq))
        .take(budget).map(_.url_hash).toSet
      val surv = survivors.filter(_.host == h).map(_.url_hash).toSet
      assert(top.subsetOf(surv), s"host $h lost admissible rows to the valve")
    }
  }

  test("prefilter row valve: past the retained-row cap rows bypass safely (completeness intact)") {
    val budget = 10
    val hosts = (0 until 5).map(i => s"h$i.example")
    val allow = hosts.map(h => h -> RobotsRule(h, allowAll = true, Seq())).toMap
    val rows = spark.range(5000).map { i =>
      val host = hosts((i % 5).toInt)
      KeyedUrl(s"https://$host/?docid=D$i", i, s"D$i", "BGH", host,
        (i % 4).toInt, "/docs", i / 100, i % 100, 0, new java.sql.Timestamp(0L))
    }.repartition(4)
    // cap of 3 retained rows per task: nearly everything must bypass, yet
    // no admissible row may be pruned (a bypassed row reaches phase 1's
    // exact ranking; only heap-proven over-budget rows may be Deferred)
    val pre = Politeness.prefilter(rows, allow, budget, maxHeapRows = 3).collect()
    assert(pre.map(_._1.url_hash).distinct.length == 5000,
      "every input row must come out exactly once")
    val survivors = pre.filter(_._2 == Politeness.Sched.Survivor).map(_._1)
    val byHost = rows.collect().groupBy(_.host)
    byHost.foreach { case (h, all) =>
      val top = all.sortBy(k => (k.discovered_epoch, k.sitemap_seq, k.entry_seq))
        .take(budget).map(_.url_hash).toSet
      val surv = survivors.filter(_.host == h).map(_.url_hash).toSet
      assert(top.subsetOf(surv), s"host $h lost admissible rows to the row valve")
    }
  }

  test("prefilter zero host budget: every allowed row deferred, no crash") {
    val hosts = (0 until 3).map(i => s"h$i.example")
    val allow = hosts.map(h => h -> RobotsRule(h, allowAll = true, Seq())).toMap
    val rows = spark.range(300).map { i =>
      val host = hosts((i % 3).toInt)
      KeyedUrl(s"https://$host/?docid=D$i", i, s"D$i", "BGH", host,
        (i % 4).toInt, "/docs", i / 100, i % 100, 0, new java.sql.Timestamp(0L))
    }.repartition(4)
    val pre = Politeness.prefilter(rows, allow, budgetPerHost = 0).collect()
    assert(pre.length == 300)
    assert(pre.forall(_._2 == Politeness.Sched.Deferred),
      "budget 0 must defer every allowed row")
  }

  test("determinism across parallelism: local[4] session rerun gives same seen set") {
    val c = cfg.copy(workDir = tmpDir())
    CrawlLoop.run(spark, c)
    val again = seenDirs(c.workDir)
      .select("url_hash").as[Long].collect().toSet
    val first = seenDirs(wd)
      .select("url_hash").as[Long].collect().toSet
    assert(again == first)
  }

  test("cogrouped seen tier: full loop with segments never collected reproduces the run") {
    // autoBroadcastJoinThreshold = -1 turns broadcasting off, so the tier
    // rule (SeenSet.broadcastTierFits) picks the fully distributed two-tier
    // confirm (cogrouped segments + exact anti-join) for every epoch with
    // a seen store: the ONLY code path that collects segments is the
    // broadcast probe, and this run never enters it — so the loop runs
    // start-to-finish with bloom segments living exclusively in executors
    // (the 10^10-seen-keys shape). Membership and metrics must equal the
    // broadcast-tier run bit for bit.
    val c = cfg.copy(workDir = tmpDir())
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val mCg =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        CrawlLoop.run(spark, c)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val seenCg = seenDirs(c.workDir)
      .select("url_hash").as[Long].collect().toSet
    assert(seenCg == sim.seen, "cogroup tier diverged from simulator membership")
    // per-epoch counter equality with the (broadcast-tier) shared run
    mCg.zip(metrics).foreach { case (a, b) =>
      assert((a.n_candidates, a.n_dup_in_epoch, a.n_seen_skipped, a.n_admitted,
        a.n_deferred, a.n_processed, a.n_failed, a.n_rejected, a.n_hosts) ==
        (b.n_candidates, b.n_dup_in_epoch, b.n_seen_skipped, b.n_admitted,
          b.n_deferred, b.n_processed, b.n_failed, b.n_rejected, b.n_hosts),
        s"epoch ${a.epoch} counters diverge between seen tiers")
    }
  }

  test("epoch-age invariance: per-epoch job count and driver work stay flat over 12 epochs") {
    // the design claim: per-epoch cost is O(epoch data), never O(store)
    // or O(epochs) — incremental blooms, O(1) segment dirs, carry table,
    // consolidation cadence. Count SCHEDULED JOBS per epoch via a
    // listener: creep in job count is the canary for accidental
    // O(crawl-age) work (a full-store rescan shows up as extra jobs
    // long before it shows up reliably in small-scale wall time).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobsPerEpoch = scala.collection.mutable.Map.empty[Int, Int]
    @volatile var currentEpoch = -1
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val e = currentEpoch
        if (e >= 0) jobsPerEpoch.synchronized {
          jobsPerEpoch(e) = jobsPerEpoch.getOrElse(e, 0) + 1
        }
      }
    }
    val c = cfg.copy(workDir = tmpDir(), totalUrls = 6000, epochs = 12,
      consolidateEvery = 4, latestCompactEvery = 4)
    spark.sparkContext.addSparkListener(listener)
    try (0 until c.epochs).foreach { e =>
      currentEpoch = e
      CrawlLoop.run(spark, c, stopAfter = 1)
    } finally {
      currentEpoch = -1
      spark.sparkContext.removeSparkListener(listener)
    }
    // steady state = epochs 2..11 (0/1 have unique plan shapes: no seen
    // store yet / first bloom epoch). Consolidation epochs run a few
    // extra maintenance jobs by design — compare like with like.
    val steady = (2 until c.epochs).filterNot(e => (e + 1) % c.consolidateEvery == 0)
      .map(jobsPerEpoch(_))
    assert(steady.nonEmpty)
    assert(steady.max - steady.min <= 2,
      s"per-epoch job count creeps with crawl age: $jobsPerEpoch")
    // and the LAST steady epoch must not run more jobs than the first —
    // growth, not variance, is the failure mode
    assert(steady.last <= steady.head + 2,
      s"job count grew from ${steady.head} to ${steady.last}: $jobsPerEpoch")
  }

  test("an all-scheduled no-failure epoch's EMPTY carry reads back empty (not UNABLE_TO_INFER_SCHEMA)") {
    // zero deferred + zero failed rows -> a carry dir without data
    // files; the next epoch's readCarried must see an empty carry, not a
    // schema-inference crash
    val dir = tmpDir() + "/carry/epoch=0"
    val empty = spark.emptyDataset[KeyedUrl].toDF()
    PayloadSink.writeCarry(empty, dir)
    val back = CrawlLoop.readCarried(spark, dir)
    assert(back.count() === 0)
    // and a NON-empty carry still round-trips
    val row = KeyedUrl("https://h0.example.test/a", 1L, "KARE1", "BAG",
      "h0.example.test", 0, "/a", 0L, 0L, 0,
      new java.sql.Timestamp(0L))
    val one = Seq(row).toDS().toDF()
    PayloadSink.writeCarry(one, dir)
    assert(CrawlLoop.readCarried(spark, dir).collect().toSeq === Seq(row))
  }
}
