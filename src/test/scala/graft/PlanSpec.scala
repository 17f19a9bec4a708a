package graft

import graft.readside.Queries

/** Physical-plan regression guards: the properties that make these
  * operators survive a 100× scale-up are plan shapes, not results —
  * filter/column pushdown reaching the parquet scan, broadcast joins for
  * small dims, map-side partial aggregation, and group keys that don't
  * ship document payloads. Asserting the shapes keeps a future refactor
  * from silently regressing them. (sparkPlan, pre-AQE: scans and build
  * sides are decided here; AQE only re-optimizes exchanges at runtime.) */
class PlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString
  // post-EnsureRequirements plan: Exchange nodes exist only here, so any
  // pin on shuffle keys/partitioning must read this one, not sparkPlan
  private def planExec(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: range + quantity filters PUSHED to the parquet scan; columns pruned") {
    val p = plan(Queries.q02FilterProject(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment"), "scan must not read unused columns")
  }

  test("q17: string-contains + equality predicates pushed down") {
    val p = plan(Queries.q17Search(spark, dir))
    assert(p.contains("StringContains(text,spark)"))
    assert(p.contains("EqualTo(lang,en)"))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("q04: small dim side is a broadcast hash join; fact scan pruned to 2 columns") {
    val p = plan(Queries.q04PartJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("struct<l_partkey:bigint,l_quantity:double>"),
      "lineitem scan must read only join key + aggregated column")
  }

  test("q01: two-phase aggregation (map-side partial before the exchange)") {
    val p = plan(Queries.q01PricingSummary(spark, dir))
    assert(p.contains("partial_sum"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q24: dedup group key is the 192-bit fingerprint, never the document text") {
    val p = plan(Queries.q24DedupExact(spark, dir))
    assert(p.contains("keys=[h1__"))
    assert(p.contains("xxhash64"))
    // text is read by the scan (hash input) but must not be an agg key
    assert(!p.contains("keys=[text"), "grouping by full text ships the corpus")
  }

  test("q40: curation composition fuses into one scan + one codegen hash-agg") {
    val p = plan(Queries.q40CurationPipeline(spark, dir))
    assert(p.contains("keys=[h1__"), "dedup must group by the fingerprint")
    assert(!p.contains("keys=[text"), "grouping by full text ships the corpus")
    // scalar min() aggregates must stay in codegen HashAggregate — a
    // min_by/struct variant drops to ObjectHashAggregate (measured slower)
    assert(p.contains("HashAggregate"))
    assert(!p.contains("ObjectHashAggregate"), "agg fell out of codegen")
    // the whole pipeline reads documents exactly once
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "composition must not rescan the corpus")
  }

  test("q42: benchmark gram set broadcasts; corpus grams never shuffle") {
    // executedPlan: Exchange nodes exist only post-EnsureRequirements, so
    // the negative shuffle-key pins are vacuous on sparkPlan
    val p = planExec(Queries.q42Contamination(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "bench gram set must broadcast")
    // exactly ONE exchange on the gram key is allowed: the BENCH set's
    // dedup (eval suites are fixed-size regardless of corpus scale). The
    // CORPUS gram stream must hit the broadcast table map-side — a second
    // ng exchange, or any SMJ, means the corpus side started shuffling
    assert("Exchange hashpartitioning\\(ng".r.findAllIn(p).size == 1,
      "corpus gram stream must not shuffle (only the bench dedup may)")
    assert(!p.contains("SortMergeJoin"), "gram join must not sort-merge")
    assert(!p.contains("keys=[text"), "document text must never be a key")
    assert(p.contains("partial_count"), "map-side partial agg expected")
  }

  test("q55: sessionization is ONE uid exchange end-to-end (windows + session agg co-partition)") {
    // executedPlan: the lag window, the running-sum window, and the
    // (uid, session_seq) aggregation must all reuse the single uid
    // hash partitioning — HashPartitioning(uid) satisfies the grouped
    // distribution, so a second hash exchange means the co-partitioning
    // broke (the final ORDER BY adds one rangepartitioning, allowed)
    val p = planExec(Queries.q55Sessionize(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "gap windows and session aggregation must share one uid exchange")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "map-side partial agg expected on the session rollup")
  }

  test("q57: group quantiles are ONE source exchange end-to-end (windows + agg co-partition)") {
    // both window frames and the (source, n) groupBy cluster by source —
    // HashPartitioning(source) satisfies all of them, so a second hash
    // exchange means the co-partitioning broke (the final ORDER BY adds
    // one rangepartitioning, allowed)
    val p = planExec(Queries.q57GroupQuantiles(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "rank windows and quantile aggregation must share one source exchange")
  }

  test("q58: bottom-k sample plans as TakeOrderedAndProject (no global sort)") {
    val p = planExec(Queries.q58BottomKSample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + merge, not a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      "a range exchange means the limit degenerated to a full sort")
  }

  test("q68: weighted keys fold per-row (no replica explode); top-k is TakeOrderedAndProject") {
    val p = planExec(Queries.q68WeightedSample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + merge, not a global sort:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Generate"),
      s"the replica fold must stay a per-row map — no shuffle, no explode:\n$p")
  }

  test("q70: best-passage snippet is map-only — no hash exchange, no position explode") {
    val p = planExec(Queries.q70BestPassage(spark, dir))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Generate"),
      s"the per-row fold must not shuffle tokens or explode positions:\n$p")
  }

  test("fanout gate: no round-robin exchange below the open cost; RoundRobinPartitioning(n) above it") {
    def rr(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      "RoundRobinPartitioning\\((\\d+)\\)".r.findAllMatchIn(planExec(df))
        .map(_.group(1).toInt).toSeq
    def both = Seq(Queries.q40CurationPipeline(spark, dir), Queries.q70BestPassage(spark, dir))
    both.foreach(q => assert(rr(q).isEmpty, planExec(q)))
    // n = min(defaultParallelism, ceil(size / openCost)) at a 1 KiB open
    // cost; one-partition split planning (minPartitionNum 1) leaves the
    // scan below n, as a one-row-group table does
    val size = spark.read.parquet(s"$dir/documents.parquet")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (BigInt(spark.sparkContext.defaultParallelism) min ((size + 1023) / 1024)).toInt
    assert(n > 1)
    val keys = Seq("spark.sql.files.openCostInBytes" -> "1k",
      "spark.sql.files.minPartitionNum" -> "1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      both.foreach(q => assert(rr(q) == Seq(n), planExec(q)))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q72: KMV sketches cross the exchange, never the token-hash stream (2-phase object agg)") {
    val p = planExec(Queries.q72KmvDistinct(spark, dir))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial + final object hash aggregation:\n$p")
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1 &&
      "Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the ≤256-long per-partition sketches may shuffle, keyed on source:\n$p")
  }

  test("q77: the CMS matrix crosses the build exchange, never the token stream; probe side broadcasts") {
    val p = planExec(Queries.q77CmsFreq(spark, dir))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial + final object hash aggregation for the sketch build:\n$p")
    // the sketch build folds to single-partition matrix partials (never a
    // keyed shuffle of the occurrence stream), and every hash exchange in
    // the plan is PROBE-grain (keyed on tok) after a map-side partial —
    // the raw h stream itself must never be an exchange key
    assert(p.contains("Exchange SinglePartition"),
      s"sketch partials must fold via single-partition merge:\n$p")
    assert("Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p)
      .forall(_.contains("tok#")),
      s"every keyed exchange must be probe-token grain:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"probe set and sketch must broadcast, not shuffle:\n$p")
  }

  test("q79: the final k-means assignment pass is map-only — centroid literals folded per row") {
    val p = planExec(Queries.q79KmeansLloyd(spark, dir))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Generate"),
      s"assignment must fold the k×dim literal per row — no shuffle, no explode:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no candidate blowup join allowed in the assignment pass:\n$p")
  }

  test("q80: the (source, hash) stream shuffles ONCE at gram grain; the matrix agg is the only other keyed exchange") {
    val p = planExec(Queries.q80SharedPassages(spark, dir))
    val keyed = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(keyed.size == 2, s"expected gram-grain + matrix-grain exchanges only:\n$p")
    assert(keyed.count(_.contains("g#")) == 1,
      s"exactly one exchange may carry the gram stream:\n$p")
    // the pair-matrix agg keys surface as _groupingexpression (groupBy
    // with inline alias); the point is only that it is NOT the gram stream
    assert(keyed.count(e => e.contains("_groupingexpression") || e.contains("src_a#")) == 1,
      s"the other exchange must be the tiny source-pair matrix agg:\n$p")
  }

  test("q81: ONE materialized user-grain exchange — the cohort branch reuses it at runtime; cohort sizes broadcast") {
    val df = Queries.q81CohortRetention(spark, dir)
    df.collect() // AQE reuse only materializes at runtime
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val userEx = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("ReusedExchange"))
    assert(userEx == 1, s"the event stream must shuffle once at user grain:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the cohort-size branch must reuse the user-grain exchange, not rescan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"cohort sizes must broadcast into the retention join:\n$p")
  }

  test("q82: the funnel fold is one user-grain exchange + a single-row rollup — no per-stage rescans, no explode") {
    val p = planExec(Queries.q82Funnel(spark, dir))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"events must shuffle exactly once, at user grain:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"the stage rollup folds partial counts into one row:\n$p")
    assert(!p.contains("Generate") && !p.contains("Join"),
      s"the fold must not explode events or cascade per-stage joins:\n$p")
  }

  test("q43: stratified sample shuffles only the slim (doc_id, source) projection") {
    val p = plan(Queries.q43StratifiedSample(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "scan must prune to the stratum key + id")
    assert(p.contains("row_number"), "per-stratum rank expected")
  }

  test("q45: vocabulary head joins broadcast; only the Zipf tail shuffles on w") {
    // executedPlan for the same reason as q42: shuffle pins need Exchanges
    val p = planExec(Queries.q45UnigramXent(spark, dir))
    // head hit + head anti-membership + the 1-row total: all broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "head vocab join and anti-join must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("Cross"),
      "the 1-row corpus total joins without an exchange on the stream")
    // the document text itself is never a join or partitioning key
    assert(!p.contains("keys=[text"), "document text must never be a key")
    assert(p.contains("partial_count"), "map-side partial agg expected")
  }

  test("q46: BM25 has ZERO wide exchanges — inline tf, scalar-stat broadcast, map-side top-k") {
    val p = planExec(Queries.q46Bm25Search(spark, dir))
    assert(!p.contains("hashpartitioning"),
      "no row stream may shuffle on a key (tf is computed inline on the row)")
    assert(p.contains("TakeOrderedAndProject"),
      "ranking must be a partial top-k, not a global sort")
    assert(p.contains("partial_count"), "scalar stats agg must map-side combine")
    assert(!p.contains("Generate explode"),
      "the token stream must never exist as rows")
  }

  test("q47: corpus prefix-sum window is bucket-partitioned, not a single-task global window") {
    val p = planExec(Queries.q47SequencePacking(spark, dir))
    assert(p.contains("hashpartitioning(bucket"),
      "the full-table running sum must partition by the range bucket")
    // the only unpartitioned window may run over the tiny bucket-total
    // aggregate, i.e. downstream of a partial_sum — never over raw docs
    assert(p.contains("partial_sum"), "bucket totals must map-side combine")
  }

  test("q48: chunk text shuffles once on doc_id; no (doc_id, chunk_id) exchange") {
    val p = planExec(Queries.q48ChunkDedup(spark, dir))
    assert(!p.matches("(?s).*hashpartitioning\\(doc_id#\\d+L?,\\s*chunk_id.*"),
      "the decision join must reuse the doc_id-only partitioning (subset key)")
    assert(p.contains("hashpartitioning(doc_id"),
      "text side must be explicitly partitioned by doc_id for agg reuse")
  }

  test("q49: quota table broadcasts; picks shuffle once on the source key") {
    val p = planExec(Queries.q49TemperatureMix(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "quota join must broadcast")
    assert(p.contains("hashpartitioning(source"), "ranking shuffles on source")
  }

  test("q50: packing stage is the bucket-parallel prefix sum over the slim selection") {
    val p = planExec(Queries.q50TrainingAssembly(spark, dir))
    assert(p.contains("hashpartitioning(bucket"),
      "final packing must partition by the range bucket")
    assert(!p.contains("text"),
      "the assembled plan must run entirely on slim materialized stats")
  }

  test("q51: argmax assignment runs ONCE (out of the doubled self-join subtree); final join broadcasts the group table") {
    import org.apache.spark.sql.functions._
    // A typed mapPartitions subtree does not canonicalize across a
    // self-join (no ReusedExchange — measured), so the engine materializes
    // the assignment to scratch BEFORE the within-cluster pair join. Pin
    // the shape on an engine-identical reconstruction: the raw assignment
    // plan carries exactly one MapPartitions (the argmax pass), and the
    // pair plan over the materialized assignment carries NONE — the
    // K≈√n-cosines-per-row pass can never be planned twice.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (_, assignedRaw) = Queries.coarseQuantize(spark, emb)
    assert("MapPartitions".r.findAllIn(planExec(assignedRaw)).size == 1)
    val scratch = java.nio.file.Files.createTempDirectory("plan-q51").toString
    assignedRaw.write.mode("overwrite").parquet(scratch)
    val assigned = spark.read.parquet(scratch)
    val a = assigned.repartition(spark.sparkContext.defaultParallelism, col("cid"))
    val pairs = a.as("a").join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val pp = planExec(pairs)
    assert(!pp.contains("MapPartitions"),
      "the pair stage must read the materialized assignment, not recompute the argmax")
    assert(pp.contains("hashpartitioning(cid"),
      "the self-join must be co-partitioned on the semantic cluster id")
    // the output stage: the (small) group table broadcasts into the
    // assignment scan — no corpus shuffle for the final projection
    val po = planExec(Queries.q51SemDedup(spark, dir))
    assert(po.contains("BroadcastHashJoin"),
      "group labels must broadcast into the assignment")
  }

  test("q03/q05: dimension joins are broadcast, not shuffled") {
    assert(plan(Queries.q03JoinAgg(spark, dir)).contains("BroadcastHashJoin"))
    val p5 = plan(Queries.q05RegionRollup(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p5).size == 2)
  }

  test("two-tier confirm: the seen store is scanned, never shuffled (inverted broadcast confirm)") {
    import org.apache.spark.sql.functions._
    import graft.crawl._
    val keyed = FrontierSynth.key(FrontierSynth.frontier(spark, 20000, 40, 42L, 0), 8)
    val seen = keyed.filter(col("url_hash") % 7 === 0)
      .select(col("url_hash"), col("host_bucket")).toDF()
    val segs = graft.seen.SeenSet.bloomSegments(seen, 8, 4096, 0.01)
    val (unseen, cleanup) = graft.seen.SeenSet.unseenTwoTierBroadcast(keyed, seen, segs)
    unseen.write.format("noop").mode("overwrite").save()
    val p = unseen.queryExecution.executedPlan.toString
    cleanup()
    // the only hash exchange allowed is the content-deterministic pin on
    // the confirmed sliver — the store itself must reach the semi-join as
    // a bare scan (a plain sliver-anti-seen would re-shuffle the whole
    // store every epoch)
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("url_hash")), s"store shuffled on: $keys")
    assert(!p.contains("SortMergeJoin"), "store-side SMJ crept back in")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("seen tombstones: broadcast anti-join under epoch < seq, seen store never shuffled") {
    import org.apache.spark.sql.functions._
    val wd = java.nio.file.Files.createTempDirectory("plan-tombstones").toString
    (0 until 2).foreach { e =>
      spark.range(e * 1000L, e * 1000L + 1000L).select(col("id").as("url_hash"),
        (col("id") % 8).cast("int").as("host_bucket"))
        .write.parquet(s"$wd/seen/epoch=$e")
    }
    graft.seen.SeenDeletes.delete(spark, wd,
      spark.range(0L, 2000L, 7L).select(col("id").as("url_hash")))
    val seen = graft.crawl.CrawlLoop.readSeen(spark, wd, 2)
    seen.write.format("noop").mode("overwrite").save()
    val p = planExec(seen)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert("\\(epoch#\\d+ < seq#\\d+\\)".r.findFirstIn(p).nonEmpty, "no epoch < seq condition")
    assert(!p.contains("Exchange hashpartitioning"), "seen store shuffled")
    assert(seen.columns.toSeq == Seq("url_hash", "host_bucket"))
  }

  test("latest-view read: resolved store scanned (broadcast tail anti-join), tail-only shuffle, no Window") {
    import org.apache.spark.sql.functions._
    val wd = java.nio.file.Files.createTempDirectory("plan-latest").toString
    def delta(e: Int) = spark.range(1000).select(
      (col("id") + e * 100).as("url_hash"), lit("PROCESSED").as("status"),
      (col("id") % 8).cast("int").as("host_bucket"),
      lit(e).cast("int").as("crawl_epoch"))
    graft.crawl.LatestView.appendDelta(spark, wd, 0, delta(0))
    graft.crawl.LatestView.compact(spark, wd)
    graft.crawl.LatestView.appendDelta(spark, wd, 1, delta(1))
    val view = graft.crawl.LatestView.read(spark, wd) // resolved + tail path
    view.write.format("noop").mode("overwrite").save()
    val p = view.queryExecution.executedPlan.toString
    // the only hash exchange is the TAIL's max-epoch aggregation on
    // url_hash; the resolved store reaches the anti-join as a bare scan
    // against the broadcast tail keys
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("url_hash")), s"resolved store shuffled on: $keys")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("Window"), "latest read must never window")
  }

  test("epoch spine shuffle budget: url_hash dedup + host repartition only; seen-confirm broadcast; map-side window pruning") {
    import org.apache.spark.sql.functions._
    import graft.crawl._
    val keyed = FrontierSynth.key(FrontierSynth.frontier(spark, 20000, 40, 42L, 0), 8)
    val deduped = Politeness.dedupWithinEpoch(keyed)
    val seen = keyed.filter(col("url_hash") % 7 === 0)
      .select(col("url_hash"), col("host_bucket")).toDF()
    val unseen = graft.seen.SeenSet.unseenExact(deduped, seen)
    val sched = Politeness.schedule(unseen, Robots.syntheticRules(40, 42L), 25)
    sched.write.format("noop").mode("overwrite").save()
    val p = sched.queryExecution.executedPlan.toString
    // wide shuffles partition ONLY on url_hash (dedup window, AQE-reused
    // across the union branches) and host (politeness) — anything else is
    // a regression
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("url_hash", "host"), s"unexpected shuffle keys: $keys")
    // the seen confirm must be a broadcast anti-join, not a shuffled one
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    // Spark 4 WindowGroupLimit: rank<=1 pruned MAP-SIDE before the window
    // shuffle — the dedup's free map-side combine
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"))
  }

  test("c14: pair blocking scans only slim columns; payload bytes never read or shuffled") {
    import org.apache.spark.sql.functions._
    val wd = java.nio.file.Files.createTempDirectory("plan-c14").toString
    spark.range(64).select(
      format_string("img-%03d", col("id")).as("image_id"),
      xxhash64(col("id")).as("phash"),
      lit("PROCESSED").as("status"),
      lit(Array[Byte](1, 2, 3)).as("bytes"))
      .write.parquet(s"$wd/payload")
    val p = plan(graft.readside.CrawlQueries.phashNearDupPairs(
      spark.read.parquet(s"$wd/payload")))
    assert(p.contains("PushedFilters: [IsNotNull(status), EqualTo(status,PROCESSED)]")
      || p.contains("EqualTo(status,PROCESSED)"), "status filter must push down")
    assert(p.contains("image_id") && p.contains("phash"))
    assert(!p.contains("bytes"),
      "payload bytes must not appear anywhere in the pair plan")
  }

  // ---- the text-kernel plan barrier (graft.expressions.KernelBarrier) ----

  private def sites(plan: String, fn: String): Int =
    java.util.regex.Pattern.quote(fn + "(").r.findAllIn(plan).size

  test("text kernels: one site each in the optimized plan, inside a codegen Project") {
    val q40df = Queries.q40CurationPipeline(spark, dir)
    val q40 = q40df.queryExecution
    assert(sites(q40.optimizedPlan.toString, "text_stats") == 1)
    val q48 = Queries.q48ChunkDedup(spark, dir).queryExecution.optimizedPlan.toString
    // one per corpus scan: the decision stream and the text side
    assert(sites(q48, "word_ngrams") == 2, q48)
    val q70 = Queries.q70BestPassage(spark, dir).queryExecution.optimizedPlan.toString
    assert(sites(q70, "word_ngrams") == 1, q70)
    assert(sites(q70, "transform") == 1,
      s"the hit-position filter must not inline the transform a second time:\n$q70")
    // the barrier plans as an ordinary whole-stage-codegen ProjectExec
    // (adaptive execution assigns codegen stages when the query runs)
    q40df.collect()
    val kernelLine = q40.executedPlan.toString.linesIterator
      .find(_.contains("text_stats(")).getOrElse(fail("no text_stats site"))
    assert(kernelLine.matches("""\W*\*\(\d+\) Project \[.*"""), kernelLine)
  }

  test("text kernels: a caller filter on a pass-through column reaches the scan") {
    import org.apache.spark.sql.functions.col
    // a fresh session: the barrier installs itself on the DataFrame's own
    // session, with no spark.sql.extensions entry anywhere
    val fresh = spark.newSession()
    assert(fresh.conf.getOption("spark.sql.extensions").isEmpty)
    for ((name, df) <- Seq(
        "q70" -> Queries.q70BestPassage(fresh, dir),
        "q23" -> Queries.q23Quality(fresh, dir))) {
      val p = plan(df.filter(col("doc_id") < 100))
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("")
      assert(pushed.contains("LessThan(doc_id,100)"), s"$name:\n$p")
    }
  }

  test("text kernels: the barrier keeps scan column pruning") {
    val docText = "struct<doc_id:bigint,text:string>"
    for ((q, df, schema) <- Seq(
        ("q21", Queries.q21TokenStats(spark, dir), "struct<text:string,lang:string>"),
        ("q22", Queries.q22LangId(spark, dir), "struct<text:string>"),
        ("q23", Queries.q23Quality(spark, dir), docText),
        ("q40", Queries.q40CurationPipeline(spark, dir), docText),
        ("q48", Queries.q48ChunkDedup(spark, dir), docText),
        ("q70", Queries.q70BestPassage(spark, dir), docText))) {
      val got = "ReadSchema: (struct<[^>]*>)".r.findAllMatchIn(plan(df))
        .map(_.group(1)).toSet
      assert(got == Set(schema), s"$q read $got")
    }
  }
}
