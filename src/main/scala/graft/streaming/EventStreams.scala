package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.ExprOps

/** Structured Streaming surface (SURVEY.md §2.9). The reference streams by
  * cron re-runs (service/ScheduledCrawlerService.java:35-126); the Spark
  * restatement is a real incremental pipeline: file-source readStream →
  * watermark → windowed aggregation → sink, plus a
  * `mapGroupsWithState` sessionizer for the stateful shape (ST1's
  * epoch-over-epoch state, expressed as per-key streaming state).
  *
  * Batch/stream parity: every transform is also applicable to a static
  * DataFrame (same function), which is how the specs verify results —
  * `Trigger.AvailableNow` over a static directory must equal the batch
  * run.
  */
object EventStreams {

  /** Windowed per-type counts with a watermark for late data.
    * (Parquet timestamps infer as TIMESTAMP_NTZ on Spark 4; watermarks
    * need TimestampType, so normalize first.) */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(count: Long, lastTs: Long)

  case class UserSession(user_id: Long, n_events: Long, closed: Boolean)

  /** Per-user session roll-up via mapGroupsWithState — the custom-state
    * operator shape (ST1's epoch-over-epoch state as per-key streaming
    * state). Timeout-driven session close is omitted here: processing-time
    * timeouts schedule empty timeout batches every trigger, which on a
    * shell-exec'd local HDFS state store makes tests pathologically slow;
    * at scale you'd enable EventTimeTimeout against the watermark. */
  def sessionize(events: Dataset[Event]): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          val prev = state.getOption.getOrElse(SessionState(0L, 0L))
          var cnt = prev.count
          var last = prev.lastTs
          rows.foreach { e => cnt += 1; last = math.max(last, e.ts.getTime) }
          state.update(SessionState(cnt, last))
          UserSession(userId, cnt, closed = false)
        })
  }

  /** ST1/J1 as a TRUE stream: URL-seen dedup with streaming state — the
    * first occurrence of each url_hash passes, re-presentations are
    * suppressed across micro-batches (state-store-backed exact dedup;
    * the epoch loop's seen store, expressed as Structured Streaming
    * keyed state). At 10^10 keys the unbounded-state form is bounded by
    * `dropDuplicatesWithinWatermark` (freshness-window semantics,
    * mirroring the reference's retry-after window) or replaced by the
    * batch two-tier bloom path. */
  def streamingSeenDedup(urls: DataFrame): DataFrame =
    urls.dropDuplicates("url_hash")

  /** Watermark-bounded variant: state for a url_hash is droppable once
    * the watermark passes it — the scalable streaming dedup. */
  def streamingSeenDedupBounded(urls: DataFrame): DataFrame =
    urls
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("url_hash")

  case class GapSessionState(seq: Long, prevUs: Long, n: Long,
      startUs: Long, endUs: Long, purchases: Long)

  case class ClosedSession(user_id: Long, session_seq: Long, n_events: Long,
      start_us: Long, end_us: Long, duration_us: Long, n_purchases: Long)

  /** The streaming twin of [[graft.readside.Queries.q55Sessionize]]:
    * >gapUs-inactivity session split with per-user keyed state, emitting a
    * session the moment a later event CLOSES it (append semantics — each
    * session is final when emitted, so downstream sinks never see
    * retractions). The per-user open session rides in the state store
    * across micro-batches; StreamingSpec proves emitted sessions ≡ the
    * batch q55 rollup minus each user's still-open tail session, on the
    * same events.
    *
    * Ordering contract: rows are sorted (ts, event_id) WITHIN each
    * micro-batch group; cross-batch order must be non-decreasing per user
    * (true for replay/backfill sources like AvailableNow over dated
    * files). For genuinely out-of-order live streams the production shape
    * adds a watermark + EventTimeTimeout and closes sessions on timeout
    * instead of on the next event — same state transition, different
    * close trigger (the NoTimeout choice here mirrors [[sessionize]]:
    * processing-time timeouts schedule empty batches every trigger, which
    * a shell-exec'd local state store makes pathologically slow in
    * tests). */
  def gapSessionize(events: Dataset[Event],
      gapUs: Long = 86400000000L): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Event], state: GroupState[GapSessionState]) => {
          val ordered = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var st = state.getOption.orNull
          ordered.foreach { e =>
            val us = micros(e.ts)
            val purchase = if (e.event_type == "purchase") 1L else 0L
            if (st == null)
              st = GapSessionState(1L, us, 1L, us, us, purchase)
            else if (us - st.prevUs > gapUs) {
              closed += ClosedSession(uid, st.seq, st.n, st.startUs, st.endUs,
                st.endUs - st.startUs, st.purchases)
              st = GapSessionState(st.seq + 1, us, 1L, us, us, purchase)
            } else
              st = GapSessionState(st.seq, us, st.n + 1, st.startUs,
                math.max(st.endUs, us), st.purchases + purchase)
          }
          if (st != null) state.update(st)
          closed.iterator
        })
  }

  case class IncVerdict(doc_id: Long, verdict: String)

  /** The streaming twin of [[graft.readside.Queries.q63IncrementalDedup]]:
    * incoming documents arrive as a STREAM (the per-epoch delivery shape)
    * while the history fingerprint store stays STATIC (the prior epochs'
    * table). A stateless stream-static LEFT join marks stored
    * fingerprints; per-fingerprint keyed state then assigns the batch
    * q63's exact verdict classes ACROSS micro-batches: `dup_history` for
    * every copy of a stored text, `novel` for the first arrival of an
    * unseen fingerprint, `dup_incoming` for its re-presentations (state
    * survives the trigger, so a copy arriving three batches later is
    * still caught).
    *
    * Ordering contract (the [[gapSessionize]] discipline): rows sort by
    * doc_id within each batch group and cross-batch arrival is
    * non-decreasing per fingerprint — true for replay/backfill sources —
    * which makes the verdicts identical to the batch keep-first-by-min-
    * doc_id rule; StreamingSpec proves it against batch q63 on the same
    * rows split across micro-batches.
    *
    * Scale shape: the join is stateless (history never enters the state
    * store); keyed state is ONE boolean per distinct non-stored
    * fingerprint seen, droppable with a freshness watermark exactly like
    * [[streamingSeenDedupBounded]] when the stream is unbounded. */
  def streamingIncrementalDedup(incoming: DataFrame,
      historyFps: DataFrame): Dataset[IncVerdict] = {
    val spark = incoming.sparkSession
    import spark.implicits._
    incoming
      .join(historyFps.withColumn("in_hist__", lit(true)),
        Seq("h1__", "h2__"), "left")
      .select(col("h1__"), col("h2__"), col("doc_id"),
        coalesce(col("in_hist__"), lit(false)).as("in_hist__"))
      .as[(Long, String, Long, Boolean)]
      .groupByKey { case (h1, h2, _, _) => (h1, h2) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Long, String), rows: Iterator[(Long, String, Long, Boolean)],
            state: GroupState[Boolean]) => {
          val ordered = rows.toArray.sortBy(_._3)
          var seen = state.getOption.getOrElse(false)
          val out = ordered.map { case (_, _, id, inHist) =>
            val v = if (inHist) "dup_history"
            else if (seen) "dup_incoming"
            else { seen = true; "novel" }
            IncVerdict(id, v)
          }
          state.update(seen)
          out.iterator
        })
  }

  case class MgState(grams: Map[String, Long], n: Long)
  case class MgCandidates(shard: Int, version: Long, g: String, mg_count: Long)

  /** q56's lowered word trigrams: the batch query's own kernel. */
  def trigrams(text: String): Iterator[String] = {
    val grams = ExprOps.wordNgrams(UTF8String.fromString(text), 3, lowercase = true)
    Iterator.tabulate(grams.numElements())(grams.getUTF8String(_).toString)
  }

  /** The streaming twin of [[graft.readside.Queries.q56HeavyHitters]]:
    * SHARDED Misra–Gries over an unbounded document stream. Grams hash
    * to one of `nShards` keyed states, so every occurrence of a gram
    * lands in the same shard and each shard runs textbook MG (k
    * counters, decrement-all on overflow) over its complete sub-stream —
    * resuming MG from state across micro-batches IS MG over the
    * concatenated stream, so the batch guarantee carries over unchanged:
    * after any prefix, a gram with true shard-count > n_shard/(k+1) is
    * present, and a present gram's counter is within [true −
    * ⌊n_shard/(k+1)⌋, true]. Candidates from the stream feed the same
    * count-gated exact-confirm pass the batch q56 runs.
    *
    * Each batch emits the shard's full candidate set stamped with the
    * monotone `version` = grams seen by that shard, so a consumer (and
    * the spec) reads "current candidates" as the max-version rows per
    * shard. Scale shape: state is O(k) per shard and nShards scales with
    * the cluster's state-store partitions; the gram stream never
    * shuffles anywhere else. */
  def streamingHeavyHitters(docs: Dataset[String], k: Int = 255,
      nShards: Int = 8): Dataset[MgCandidates] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap(trigrams _)
      .groupByKey(g => math.floorMod(g.hashCode, nShards))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (shard: Int, rows: Iterator[String], state: GroupState[MgState]) => {
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          var n = 0L
          state.getOption.foreach { st => m ++= st.grams; n = st.n }
          rows.foreach { g =>
            n += 1L
            m.get(g) match {
              case Some(c) => m.update(g, c + 1L)
              case None if m.size < k => m.update(g, 1L)
              case None =>
                m.mapValuesInPlace((_, c) => c - 1L)
                m.filterInPlace((_, c) => c > 0L)
            }
          }
          state.update(MgState(m.toMap, n))
          m.iterator.map { case (g, c) => MgCandidates(shard, n, g, c) }
        })
  }

  case class RateState(nextHourUs: Long, ring: List[Long])
  case class RateVerdict(event_type: String, h: Timestamp, n: Long,
      z_x1e4: Option[Long], is_spike: Boolean)

  /** The streaming twin of [[graft.readside.Queries.q67RateAnomaly]]:
    * the same per-type trailing-24-hour z-score spike monitor, run
    * INCREMENTALLY over an unbounded stream of hourly count rows
    * `(event_type, h, n)` (the output shape of an upstream hour-windowed
    * aggregation). Keyed state per event_type holds the trailing ring of
    * up to 24 hourly counts plus the next grid hour; arrival of hour h
    * first gap-fills every missing grid hour with n=0 (the batch query's
    * dense-grid join, unrolled in time — silence still surfaces as an
    * anomaly), then scores h against the ring with the batch's EXACT
    * arithmetic: num = n·w − Σn, den² = w·Σn² − (Σn)², z = num/√den² —
    * the identical parenthesization of correctly-rounded IEEE doubles,
    * so verdicts are bit-identical to batch, ×10⁴ half-up floor as
    * usual; zero-variance windows emit z=NULL and flag any arrival.
    *
    * Ordering contract (the [[gapSessionize]] discipline): micro-batch
    * triggers align with hour closes (the [[graft.crawl.Cadence]]
    * shape), so one grid hour never splits across batches and hours
    * arrive non-decreasing per type; a violation throws rather than
    * corrupting the ring. `gridStart` anchors every type's grid at the
    * monitor's deployment hour — the batch query's global min(h) — so a
    * type first seen later is scored over its leading zeros exactly as
    * batch scores it. StreamingSpec proves ≡ batch q67 on the same rows
    * split across micro-batches, including a silent-tail type closed by
    * an n=0 tick.
    *
    * Scale shape: state is O(24) longs per event_type (the key space is
    * small and fixed); input rows are #hours × #types regardless of
    * event volume because the row-count-sized work happened in the
    * upstream stateless windowed count. */
  def streamingRateAnomaly(hourly: Dataset[(String, Timestamp, Long)],
      gridStart: Timestamp): Dataset[RateVerdict] = {
    val spark = hourly.sparkSession
    import spark.implicits._
    val HourUs = 3600L * 1000000L
    def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000 + t.getNanos / 1000
    val g0 = micros(gridStart)
    hourly.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (typ: String, rows: Iterator[(String, Timestamp, Long)],
            state: GroupState[RateState]) => {
          // merge same-hour rows within the batch, then replay in order
          val byHour = scala.collection.immutable.TreeMap.empty[Long, Long] ++
            rows.toArray.groupMapReduce(r => micros(r._2))(_._3)(_ + _)
          var st = state.getOption.getOrElse(RateState(g0, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[RateVerdict]
          def step(hUs: Long, n: Long): Unit = {
            if (st.ring.length == 24) {
              val s = st.ring.sum
              val q = st.ring.iterator.map(c => c * c).sum
              val num = n.toDouble * 24.0 - s.toDouble
              val den2 = 24.0 * q.toDouble - s.toDouble * s.toDouble
              val z = if (den2 <= 0) None
                else Some(math.floor(num / math.sqrt(den2) * 10000 + 0.5).toLong)
              val spike = if (den2 <= 0) num > 0
                else num / math.sqrt(den2) >= 3.0
              out += RateVerdict(typ, new Timestamp(hUs / 1000), n, z, spike)
            }
            st = RateState(hUs + HourUs, (st.ring :+ n).takeRight(24))
          }
          byHour.foreach { case (hUs, n) =>
            // reject misaligned rows BEFORE touching state: one off-grid
            // row would silently re-anchor the grid and poison the ring
            if ((hUs - g0) % HourUs != 0)
              throw new IllegalArgumentException(
                s"hour row for $typ not on the grid anchored at " +
                  s"$gridStart: ${new Timestamp(hUs / 1000)}")
            if (hUs < st.nextHourUs)
              throw new IllegalStateException(
                s"late hour for $typ: ${new Timestamp(hUs / 1000)} after " +
                  s"grid advanced to ${new Timestamp(st.nextHourUs / 1000)}")
            var hh = st.nextHourUs
            while (hh < hUs) { step(hh, 0L); hh += HourUs }
            step(hUs, n)
          }
          state.update(st)
          out.iterator
        })
  }

  case class KmvUpdate(source: String, version: Long, n_sketch: Long,
      est_distinct: Long)

  /** The streaming twin of [[graft.readside.Queries.q72KmvDistinct]]:
    * per-source KMV distinct-count over an unbounded stream of token
    * hashes. The sketch IS the keyed state — [[graft.expressions
    * .KmvAggregator]]'s bounded sorted buffer resumed across
    * micro-batches; because a set-of-minima is insertion-order-free,
    * folding batch after batch into state is IDENTICAL to the batch
    * aggregate over the concatenated stream, so after any prefix the
    * emitted estimate equals batch q72 on the same rows (StreamingSpec
    * proves equality on the full corpus split across batches, and the
    * estimate math is the same all-integer (k−1)·2⁶⁴ div u₍ₖ₎).
    *
    * Each batch emits the source's current (n_sketch, estimate) stamped
    * with the monotone `version` = hashes seen (the [[streamingHeavyHitters]]
    * convention: consumers read max-version per source). Scale shape:
    * state is ≤k longs per source; the token stream reaches the state
    * store pre-hashed and is never re-shuffled elsewhere. */
  def streamingKmvDistinct(tokenHashes: Dataset[(String, Long)],
      k: Int = 256): Dataset[KmvUpdate] = {
    val spark = tokenHashes.sparkSession
    import spark.implicits._
    val agg = new graft.expressions.KmvAggregator(k)
    tokenHashes.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long)],
            state: GroupState[(graft.expressions.KmvBuf, Long)]) => {
          var (buf, seen) = state.getOption.getOrElse((agg.zero, 0L))
          rows.foreach { case (_, h) => agg.reduce(buf, h); seen += 1 }
          state.update((buf, seen))
          val mins = agg.finish(buf)
          val est =
            if (mins.length < k) mins.length.toLong
            else ((BigInt(k - 1) << 64) /
              (BigInt(mins.last) & ((BigInt(1) << 64) - 1))).toLong
          Iterator.single(KmvUpdate(src, seen, mins.length.toLong, est))
        })
  }

  case class CmsPoint(source: String, version: Long, h: Long, est_n: Long)

  /** The streaming twin of [[graft.readside.Queries.q77CmsFreq]]:
    * per-source count-min-sketch frequency estimation over an unbounded
    * stream of token hashes. The d×w counter matrix IS the keyed state —
    * [[graft.expressions.CmsAggregator]]'s buffer resumed across
    * micro-batches; counter addition is insertion-order-free, so folding
    * batch after batch into state is IDENTICAL to the batch aggregate
    * over the concatenated stream (StreamingSpec proves final estimates
    * equal a single-pass build on the same rows), and the CMS guarantee
    * (estimate ≥ exact, never under) holds at every prefix.
    *
    * Each batch emits the current estimate for every probe hash, stamped
    * with the monotone `version` = hashes seen (the [[streamingHeavyHitters]]
    * convention: consumers read max-version per source). Scale shape:
    * state is ONE fixed d·w matrix per source regardless of stream
    * length; the token stream reaches the state store pre-hashed and is
    * never re-shuffled elsewhere. */
  def streamingCmsFreq(tokenHashes: Dataset[(String, Long)], probes: Seq[Long],
      d: Int = 4, w: Int = 1024): Dataset[CmsPoint] = {
    val spark = tokenHashes.sparkSession
    import spark.implicits._
    val agg = new graft.expressions.CmsAggregator(d, w)
    tokenHashes.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (src: String, rows: Iterator[(String, Long)],
            state: GroupState[(graft.expressions.CmsBuf, Long)]) => {
          var (buf, seen) = state.getOption.getOrElse((agg.zero, 0L))
          rows.foreach { case (_, h) => agg.reduce(buf, h); seen += 1 }
          state.update((buf, seen))
          probes.iterator.map { h =>
            val est = (0 until d).map(r =>
              buf.cells(r * w + graft.expressions.CmsAggregator.bucket(h, r, w))).min
            CmsPoint(src, seen, h, est)
          }
        })
  }

  case class FunnelState(t1: Long, t2: Long, t3: Long) // micros; MinValue = unset
  case class FunnelUpdate(user_id: Long, stage: Int, version: Long)

  /** The streaming twin of [[graft.readside.Queries.q82Funnel]]: the
    * per-user (t1, t2, t3) funnel state machine resumed across
    * micro-batches. The batch fold is ALREADY incremental — its
    * accumulator is exactly this state — so feeding time-ordered batches
    * through `flatMapGroupsWithState` reproduces the batch result on the
    * same rows (StreamingSpec proves stage-count equality). Within a
    * micro-batch rows sort by (ts, type) — the batch `array_sort` tie
    * discipline; ACROSS batches the twin assumes per-user in-order
    * delivery (the same contract as [[gapSessionize]]): a view arriving
    * in a later batch than an earlier-timestamped click cannot
    * retroactively advance the funnel, exactly as a real-time funnel
    * behaves.
    *
    * Emits the user's current stage (0–3) stamped with the monotone
    * `version` = events seen (max-version row = current, the
    * [[streamingHeavyHitters]] convention). State is three longs per
    * user, O(users) total, independent of stream length. */
  def streamingFunnel(events: Dataset[(Long, Long, String)]): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val U = Long.MinValue
    // same base as batch q82: non-funnel event types never reach the
    // state store (otherwise every user would hold a forever-lived
    // state entry and the stream's n_base would exceed the batch's)
    events.filter(e => e._3 == "view" || e._3 == "click" || e._3 == "purchase")
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[(FunnelState, Long)]) => {
          var (st, seen) = state.getOption.getOrElse((FunnelState(U, U, U), 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, et) =>
            seen += 1
            if (st.t1 == U && et == "view") st = st.copy(t1 = ts)
            else if (st.t2 == U && st.t1 != U && et == "click" && ts > st.t1)
              st = st.copy(t2 = ts)
            else if (st.t3 == U && st.t2 != U && et == "purchase" && ts > st.t2)
              st = st.copy(t3 = ts)
          }
          state.update((st, seen))
          val stage = if (st.t3 != U) 3 else if (st.t2 != U) 2
            else if (st.t1 != U) 1 else 0
          Iterator.single(FunnelUpdate(user, stage, seen))
        })
  }

  /** Run the windowed aggregation as a real stream over a parquet
    * directory with AvailableNow, collecting to a memory sink; returns
    * the sink table name. */
  def runWindowedOverDirectory(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = windowedCounts(stream).writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
