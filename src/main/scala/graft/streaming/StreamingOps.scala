package graft.streaming

import graft.functions.Parity._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming graphs over the events stream (SURVEY.md §2).
  *
  * Each graph converges to the corresponding batch query in
  * operators.Streaming — that equivalence is asserted by
  * StreamingSpec, which replays the same events through MemoryStream.
  *
  * State discipline for 100 TB/day streams: every stateful operator
  * carries a watermark so state is bounded and evicted; session state
  * is O(open sessions per user); nothing buffers unbounded history.
  * One deliberate exception: seasonalityStream is watermark-free —
  * its state is capped by KEY CARDINALITY (≤ types×168 counters),
  * not by time, so "unbounded history" still costs O(1) rows per
  * bucket.
  */
object StreamingOps {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        n_events: Long, span_secs: Double)

  /** One session span in micros epoch. */
  case class SessionSpan(start: Long, last: Long, n: Long)

  /** Sessionizer state: every session not yet provably closed by the
    * watermark — the open (latest) one plus any earlier spans formed
    * by late events. Keeping them all until the watermark passes
    * last+gap is what makes cross-batch late arrivals merge exactly
    * like the batch session_window truth (two mutually-within-gap
    * late events coalesce; a later bridging event can still join
    * them). */
  case class SessionState(sessions: Seq[SessionSpan])

  val GapMicros: Long = 30L * 60 * 1000000
  private val WatermarkDelay = "1 hour"

  /** java.sql.Timestamp <-> epoch micros without precision loss
    * (getTime alone is millis and would truncate). */
  def tsToMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000 * 1000)
    t.setNanos((us % 1000000).toInt * 1000)
    t
  }

  /** 1h tumbling windows per event type, watermarked (append mode):
    * streaming form of st_tumbling_window. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumM(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** 1h windows hopping every 15 minutes, watermarked (append mode):
    * streaming form of st_hopping_window. Each event updates 4
    * overlapping windows' state; the watermark closes a window once
    * event time passes its end + delay. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumM(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Built-in session_window sessionization (streaming form of
    * st_session_window). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).cast("double") / 1e6)
          .as("span_secs"),
        min(col("ts")).as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("span_secs"))

  /** Cumulative lateness counters per source partition. */
  case class LateState(wm: Long, n: Long, nLate: Long, maxLate: Long, totalLate: Long)
  case class LateOut(event_type: String, n_events: Long, n_late: Long,
                     max_late_sec: Long, total_late_sec: Long)

  /** Streaming lateness profile (streaming form of st_lateness_audit):
    * per event_type, O(1) state — the max event-time seen so far in
    * arrival order — and per-event lateness against (state - delay).
    * Arrival uses the same deterministic 0-14 min transport-jitter
    * model as the batch audit (the synthetic table is event-time
    * sorted); events within a micro-batch fold in (arr_sec, event_id)
    * order, so feeding arrival-ordered batches reproduces the batch
    * truth EXACTLY (LatenessSpec asserts equality, any chunking). */
  def latenessProfile(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.event_type)
      .mapGroupsWithState[LateState, LateOut](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key, evs, state) =>
          val s0 = state.getOption.getOrElse(LateState(Long.MinValue, 0, 0, 0, 0))
          val ordered = evs.toSeq.map { e =>
            val tsSec = tsToMicros(e.ts) / 1000000L
            (tsSec + (e.event_id % 15) * 60, e.event_id, tsSec)
          }.sortBy(t => (t._1, t._2))
          val s1 = ordered.foldLeft(s0) { case (st, (_, _, tsSec)) =>
            val late = if (st.wm == Long.MinValue) 0L
              else math.max(0L, st.wm - 600L - tsSec)
            LateState(math.max(st.wm, tsSec), st.n + 1,
              st.nLate + (if (late > 0) 1 else 0),
              math.max(st.maxLate, late), st.totalLate + late)
          }
          state.update(s1)
          LateOut(key, s1.n, s1.nLate, s1.maxLate, s1.totalLate)
      }
      .toDF()
  }

  case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming transition emission (streaming form of
    * q_event_transitions): per user, O(1) state — the last event type
    * — and one output row per adjacent pair as it completes. Events
    * within a micro-batch fold in (ts, event_id) order, so feeding
    * time-ordered batches reproduces the batch transition counts
    * EXACTLY under any chunking (cross-batch pairs bridge through the
    * stored last type). */
  def transitionStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, TransOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          val ordered = evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id))
          var last = state.getOption.orNull
          val out = Seq.newBuilder[TransOut]
          ordered.foreach { e =>
            if (last != null) out += TransOut(uid, last, e.event_type)
            last = e.event_type
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
      .toDF()
  }

  case class RateState(n: Long, lastAdmitted: Long)
  case class RateOut(user_id: Long, window_start: java.sql.Timestamp,
                     n_total: Long, n_kept: Long, n_dropped: Long,
                     last_admitted: Long)

  /** Streaming per-key rate limiter (streaming form of st_rate_limit):
    * per (user, 1h window) the state is ONLY an arrival counter plus
    * the last admitted event id — O(active keys), never O(events) —
    * and each micro-batch emits the key's cumulative admission row
    * (update mode; the final row per key is the batch truth, the
    * latenessProfile spec discipline). Events within a micro-batch
    * fold in (ts, event_id) order, so feeding time-ordered batches
    * converges EXACTLY under any chunking. Production would add an
    * event-time timeout to expire closed windows (state GC);
    * NoTimeout here keeps replay deterministic for the spec. */
  def rateLimitStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cap = graft.operators.Streaming.RateLimitN.toLong
    val hourMicros = 3600L * 1000000
    events.as[Ev]
      .groupByKey(e => (e.user_id, tsToMicros(e.ts) / hourMicros))
      .mapGroupsWithState[RateState, RateOut](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case ((uid, hr), evs, state) =>
          val s0 = state.getOption.getOrElse(RateState(0L, -1L))
          val ordered = evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id))
          val s1 = ordered.foldLeft(s0) { (st, e) =>
            val n = st.n + 1
            RateState(n, if (n <= cap) e.event_id else st.lastAdmitted)
          }
          state.update(s1)
          val kept = math.min(s1.n, cap)
          RateOut(uid, microsToTs(hr * hourMicros), s1.n, kept,
            s1.n - kept, s1.lastAdmitted)
      }
      .toDF()
  }

  case class TopkState(counts: Map[String, Long])
  case class TopkOut(window_start: java.sql.Timestamp, rank: Long,
                     event_type: String, n: Long, win_total: Long)

  /** Streaming windowed top-k (streaming form of st_windowed_topk):
    * per live 1-hour window the state is ONE count-per-type map —
    * O(windows × type-cardinality), never O(events) — re-emitting the
    * current top-TopkK rows (with the window-total denominator) each
    * time arrivals reorder the board. win_total grows monotonically
    * per window, so the final board per window is the max-win_total
    * row set (the spec discipline). Production adds an event-time
    * timeout to retire closed windows; NoTimeout keeps replay
    * deterministic for the spec. */
  def windowTopkStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val k = graft.operators.Streaming.TopkK
    val hourMicros = 3600L * 1000000
    events.as[Ev]
      .groupByKey(e => tsToMicros(e.ts) / hourMicros)
      .flatMapGroupsWithState[TopkState, TopkOut](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (hr, evs, state) =>
          val s0 = state.getOption.getOrElse(TopkState(Map.empty))
          val counts = evs.foldLeft(s0.counts) { (m, e) =>
            m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
          }
          state.update(TopkState(counts))
          val total = counts.valuesIterator.sum
          val ws = microsToTs(hr * hourMicros)
          counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
            .zipWithIndex.map { case ((t, n), i) =>
              TopkOut(ws, i + 1L, t, n, total)
            }.iterator
      }
      .toDF()
  }

  case class FeedState(lastHr: Long)
  case class FeedGap(event_type: String, gap_start_hr: Long,
                     gap_end_hr: Long, gap_hours: Long)

  /** Streaming feed-silence monitor (streaming form of
    * st_feed_silence): per event-type feed, state is ONE long — the
    * last hour an event was seen — O(feeds) state, never O(events).
    * An arrival whose hour jumps the state by more than 1 closes a
    * silence gap and emits it; same-hour and next-hour arrivals just
    * advance the state. Event time is monotone in the replayed
    * stream, so chunking can never split a gap: whichever batch
    * carries the first post-silence event closes it. Production
    * would add an event-time timeout to ALSO alert on still-open
    * silences; NoTimeout keeps replay deterministic for the spec. */
  def feedSilenceStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val hourMicros = 3600L * 1000000
    events.as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[FeedState, FeedGap](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (tpe, evs, state) =>
          val hrs = evs.map(e => tsToMicros(e.ts) / hourMicros).toSeq.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[FeedGap]
          var last = state.getOption.map(_.lastHr).getOrElse(Long.MinValue)
          hrs.foreach { h =>
            if (last != Long.MinValue && h > last + 1)
              out += FeedGap(tpe, last + 1, h - 1, h - last - 1)
            if (h > last) last = h
          }
          state.update(FeedState(last))
          out.iterator
      }
      .toDF()
  }

  // qm is BigInt (encodes as decimal(38,0) state): the int64 fold
  // overflowed past ~10⁹ cent-scale events/key (VERDICT r13 #4) —
  // the batch truth accumulates c² in decimal(38,0), and the
  // streaming state must match it at any population.
  case class AnomState(n: Long, sm: Long, qm: BigInt)
  case class AnomOut(event_type: String, event_id: Long,
                     v_cents: Long, n_prior: Long)

  /** Streaming online anomaly gate (streaming form of
    * st_stream_anomaly): per event-type key the state is THREE longs
    * — prior count, sum and sum-of-squares in exact integer cents —
    * O(keys), never O(events). Each batch's arrivals are folded in
    * (ts, event_id) order; an arrival is scored against the state
    * BEFORE it is absorbed, so replay order equals the batch truth's
    * prefix-window semantics exactly, and the 3σ test is the same
    * cross-multiplied integer comparison. */
  def streamAnomaly(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val warmup = graft.operators.Streaming.AnomWarmup.toLong
    events.as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (tpe, evs, state) =>
          var st = state.getOption.getOrElse(AnomState(0L, 0L, BigInt(0)))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
          evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
            val c = BigDecimal(e.value).setScale(2,
              BigDecimal.RoundingMode.HALF_UP).*(100).toLongExact
            val (n, sm, qm) = (st.n, st.sm, st.qm)
            // BigInt: the same exact wide-integer comparison the batch
            // truth makes in decimal(38,0) — int64 overflows n*qm
            val d1 = BigInt(n) * c - sm
            if (n >= warmup && d1 * d1 > 9 * (BigInt(n) * qm - BigInt(sm) * sm))
              out += AnomOut(tpe, e.event_id, c, n)
            // Q folds in BigInt — c² alone can exceed int64 at large
            // cent values, and the running sum did at ~10⁹ events
            st = AnomState(n + 1, sm + c, qm + BigInt(c) * c)
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }

  case class Doc(doc_id: Long, source: String, n_chars: Long)
  case class QuotaState(cum: Long)
  case class QuotaOut(doc_id: Long, source: String, n_chars: Long, cum: Long)

  /** Streaming twin of st_quota_gate: per-source running ingested
    * chars, ONE long of state per source (O(sources) state); an
    * arrival whose inclusive running total exceeds the budget is
    * emitted with that total. Within a batch, arrivals process in
    * doc_id order (the batch truth's window order), so convergence
    * under chunking is exact. */
  def quotaGate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val budget = graft.operators.Streaming.QuotaBudgetChars
    docs.as[Doc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[QuotaState, QuotaOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (src, ds, state) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[QuotaOut]
          ds.toSeq.sortBy(_.doc_id).foreach { dd =>
            cum += dd.n_chars
            if (cum > budget) out += QuotaOut(dd.doc_id, src, dd.n_chars, cum)
          }
          state.update(QuotaState(cum))
          out.iterator
      }
      .toDF()
  }

  /** Streaming dedup: first event per (user_id, event_type), state
    * bounded by the watermark (st_stream_dedup's batch truth counts
    * all events; the streaming form keeps the first arrival per key). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WatermarkDelay)
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Stream-static enrichment join + aggregation (complete mode):
    * streaming form of st_enrich_join. The static dim would be
    * broadcast on a cluster. */
  def enrichEvents(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(org.apache.spark.sql.functions.broadcast(customers),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumM(col("value")).as("total"))

  /** Stream-stream interval join (purchases within 24h of a signup):
    * streaming form of st_interval_join. Both sides watermarked so
    * join state is evicted once the range can no longer match. */
  def intervalJoin(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", WatermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "25 hours")
    signups.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOUR"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
  }

  /** LEFT OUTER stream-stream interval join: unmatched signups emit
    * their NULL-purchase row only after the purchase watermark passes
    * the end of their 24h window (the engine must prove absence, not
    * just observe it). Streaming form of st_interval_join_outer. */
  def intervalJoinOuter(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", WatermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "25 hours")
    signups.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOUR"), "leftOuter")
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
  }

  /** keep-latest over state-schema rows — associative, so it can be
    * applied per-batch and again at merge time. */
  private[graft] def keepLatest(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("last_event").desc)
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("last_value"), col("last_event"), col("ts"))
  }

  /** Crash recovery for the versioned state swap: a missing state dir
    * with a retired version present means a prior commit died between
    * renames — restore the retired version before merging. */
  private[graft] def recoverState(fs: org.apache.hadoop.fs.FileSystem, stateDir: String): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(stateDir)
    val oldP = new org.apache.hadoop.fs.Path(stateDir + ".old")
    if (!fs.exists(dirP) && fs.exists(oldP) && !fs.rename(oldP, dirP))
      throw new java.io.IOException(s"cdcUpsert: could not restore $oldP")
  }

  /** Another writer holds the state lease. */
  final case class LeaseHeldException(holder: String, until: Long)
    extends java.io.IOException(s"state lease held by $holder until $until")

  /** Default SOFT limit — the writer-keepalive TTL
    * (protocol/FSConstants.java:41 LEASE_SOFTLIMIT_PERIOD). */
  private[graft] val LeaseSoftLimitMs: Long = 600000L

  /** Hard limit derived from a soft limit at the reference's ratio
    * (protocol/FSConstants.java:42: LEASE_HARDLIMIT_PERIOD =
    * 60 × LEASE_SOFTLIMIT_PERIOD). */
  private[graft] def leaseHardLimit(softMs: Long): Long = 60L * softMs

  /** The identity the background lease scan fences with — the
    * reference's HdfsConstants.NAMENODE_LEASE_HOLDER role (the
    * namenode itself becomes the holder while it reclaims). */
  private[graft] val NamenodeLeaseHolder = "graft-namenode"

  /** One granted lease with the reference's TWO expiry regimes
    * (server/namenode/LeaseManager.java:68-69 softLimit/hardLimit,
    * :217-222 expiredSoftLimit/expiredHardLimit): `lastUpdate` is the
    * renewal instant (LeaseManager.Lease.renew), and the two
    * thresholds carry DIFFERENT authority —
    *  - past SOFT: a COMPETING CLIENT may start recovery (the
    *    create-over-under-construction path,
    *    FSNamesystem.java:1569 `lease.expiredSoftLimit()` inside
    *    recoverLeaseInternal(force=false); pinned by
    *    TestLeaseRecovery2.testSoftLeaseRecovery);
    *  - past HARD: the NAMENODE reclaims unilaterally
    *    (LeaseManager.Monitor → checkLeases, which returns without
    *    touching anything until `expiredHardLimit()`; pinned by
    *    TestLeaseRecovery2.testHardLeaseRecovery).
    * Before soft expiry neither may fence — only the explicit
    * force-recovery verb ([[recoverLease]]) can. */
  private[graft] final case class LeaseRecord(
      holder: String, lastUpdate: Long, softMs: Long, hardMs: Long) {
    def expiredSoft(now: Long): Boolean = now - lastUpdate > softMs
    def expiredHard(now: Long): Boolean = now - lastUpdate > hardMs
    def softDeadline: Long = lastUpdate + softMs
  }

  // Epoch-numbered lease files: `<stateDir>.lease.e<N>`. The CURRENT
  // lease is the highest epoch present; acquiring (first grant, own
  // renewal, or takeover of an expired lease) always CREATES a new
  // epoch file create-exclusively — never delete-then-recreate of a
  // shared name, so the ABA race where two fencers both think they
  // took over cannot happen: exactly one create of epoch N+1 wins.
  // Superseded (lower-epoch) files are garbage-collected by the
  // winner; deleting them is safe because a higher epoch already
  // outranks them.

  private def leaseEpochs(fs: org.apache.hadoop.fs.FileSystem,
                          stateDir: String): Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(stateDir).getParent
    val prefix = new org.apache.hadoop.fs.Path(stateDir).getName + ".lease.e"
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(prefix))
      .flatMap(st => st.getPath.getName.stripPrefix(prefix).toIntOption.map(_ -> st.getPath))
      .sortBy(_._1)
  }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[LeaseRecord] =
    try {
      val in = fs.open(p)
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      text.split(' ') match {
        // Numeric guards on BOTH arms: a garbled 4-token file (e.g.
        // `not a lease file`) must fall through to the fail-closed
        // IOException below, never escape as NumberFormatException.
        case Array(h, upd, soft, hard)
            if upd.toLongOption.isDefined && soft.toLongOption.isDefined &&
               hard.toLongOption.isDefined =>
          Some(LeaseRecord(h, upd.toLong, soft.toLong, hard.toLong))
        // Legacy pre-two-tier form `holder expiry` (expiry = absolute
        // soft deadline): map it so softDeadline == expiry and the hard
        // limit derives at the reference's 60x ratio — a LIVE legacy
        // lease must still fend off acquirers, never read as absent.
        case Array(h, expiry) if expiry.toLongOption.isDefined =>
          Some(LeaseRecord(h, expiry.toLong - LeaseSoftLimitMs,
            LeaseSoftLimitMs, leaseHardLimit(LeaseSoftLimitMs)))
        // An existing-but-unparseable lease file is a held/error state,
        // not an absent lease: fencing over it would let two writers
        // interleave on the state dir the garbled lease still guards.
        case _ => throw new java.io.IOException(
          s"unparseable lease file $p: '${text.take(80)}'")
      }
    } catch {
      case _: java.io.FileNotFoundException => None // raced with a GC delete
    }

  /** The current (highest-epoch) lease on a state dir, if any. */
  private def currentLease(fs: org.apache.hadoop.fs.FileSystem,
                           stateDir: String): Option[LeaseRecord] =
    leaseEpochs(fs, stateDir).lastOption.flatMap { case (_, p) => readLease(fs, p) }

  /** Create-exclusive grant of the next epoch; true iff this call won
    * the race. On a win, superseded epochs are garbage-collected. */
  private def grantEpoch(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                         epochs: Seq[(Int, org.apache.hadoop.fs.Path)],
                         holder: String, softMs: Long, hardMs: Long): Boolean = {
    val next = epochs.lastOption.map(_._1 + 1).getOrElse(0)
    val p = new org.apache.hadoop.fs.Path(stateDir + s".lease.e$next")
    val won =
      try {
        val out = fs.create(p, false)
        try out.write(
          s"$holder ${System.currentTimeMillis()} $softMs $hardMs".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false } // raced: re-evaluate
    if (won) epochs.foreach { case (_, old) => fs.delete(old, false) }
    won
  }

  /** Acquire the exclusive writer lease on a state dir (the
    * reference's LeaseManager.java:63 single-writer contract,
    * optimistic flavor — the COMPETING-CLIENT path, i.e. the
    * reference's create-over-an-under-construction-file arm,
    * FSNamesystem.java:1521 recoverLeaseInternal(force=false)). A
    * lease by another holder inside its SOFT limit throws
    * LeaseHeldException (the AlreadyBeingCreatedException arm,
    * FSNamesystem.java:1586-1592) — the two-writer interleaving that
    * would destroy the rename swap never starts. A SOFT-EXPIRED lease
    * is fenced and taken over via a create-exclusive higher epoch
    * (FSNamesystem.java:1569 `lease.expiredSoftLimit()` →
    * internalReleaseLease; TestLeaseRecovery2.testSoftLeaseRecovery),
    * so a crashed writer cannot wedge the pipeline. Re-acquiring
    * one's own lease renews it (higher epoch, same holder).
    * `ttlMs` is the SOFT limit; `hardMs` < 0 derives the hard limit
    * at the reference's 60× ratio. */
  private[graft] def acquireLease(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                                  holder: String, ttlMs: Long = LeaseSoftLimitMs,
                                  hardMs: Long = -1L): Unit = {
    val hard = if (hardMs >= 0) hardMs else leaseHardLimit(ttlMs)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 5) throw new java.io.IOException(s"lease churn on $stateDir")
      val epochs = leaseEpochs(fs, stateDir)
      epochs.lastOption.flatMap { case (_, p) => readLease(fs, p) } match {
        case Some(l) if l.holder != holder &&
          !l.expiredSoft(System.currentTimeMillis()) =>
          throw LeaseHeldException(l.holder, l.softDeadline)
        case _ => // no lease, own lease (renew), or soft-expired (fence)
          if (grantEpoch(fs, stateDir, epochs, holder, ttlMs, hard)) return
      }
    }
  }

  /** recoverLease — the explicit force-recovery verb
    * (protocol/ClientProtocol.java recoverLease →
    * FSNamesystem.java:1495, which calls
    * recoverLeaseInternal(force=true); :1556-1558 "close now: no need
    * to wait for soft lease expiration"): ANY client may fence the
    * current holder IMMEDIATELY, before either limit expires — pinned
    * by TestLeaseRecovery2.testImmediateRecoveryOfLease, where both
    * limits sit at an hour and another user's recoverLease (and the
    * same client's) still closes the file at once. This is the only
    * pre-soft-expiry fencing authority; it is an explicit
    * administrative action, never a background one. */
  private[graft] def recoverLease(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                                  newHolder: String, ttlMs: Long = LeaseSoftLimitMs,
                                  hardMs: Long = -1L): Unit = {
    val hard = if (hardMs >= 0) hardMs else leaseHardLimit(ttlMs)
    var attempts = 0
    var won = false
    while (!won) {
      attempts += 1
      if (attempts > 5) throw new java.io.IOException(s"lease churn on $stateDir")
      won = grantEpoch(fs, stateDir, leaseEpochs(fs, stateDir), newHolder, ttlMs, hard)
    }
  }

  /** Background lease scan — the reference's
    * LeaseManager.Monitor → checkLeases (LeaseManager.java:391-430):
    * the namenode reclaims a silent writer's lease UNILATERALLY only
    * past the HARD limit (`if (!oldest.expiredHardLimit()) return;`).
    * Before hard expiry — even when the soft limit has lapsed — the
    * scan must NOT touch the lease: soft expiry licenses a COMPETING
    * CLIENT ([[acquireLease]]'s takeover arm), never the background
    * sweep. Pinned by TestLeaseRecovery2.testHardLeaseRecovery (hard
    * limit shortened → recovery completes and the original writer's
    * next write is killed). Returns true iff the lease was
    * hard-expired and reclaimed (fenced with the
    * [[NamenodeLeaseHolder]] identity, then removed); false when no
    * lease exists or it is still inside its hard limit. */
  private[graft] def checkLease(fs: org.apache.hadoop.fs.FileSystem,
                                stateDir: String): Boolean =
    currentLease(fs, stateDir) match {
      case Some(l) if l.expiredHard(System.currentTimeMillis()) =>
        recoverLease(fs, stateDir, NamenodeLeaseHolder)
        releaseLease(fs, stateDir, NamenodeLeaseHolder)
        true
      case _ => false
    }

  /** renewLease — the writer keepalive (reference
    * ClientProtocol.java:537 renewLease; LeaseManager.java:63 renews a
    * client's leases on each heartbeat, resetting the expiry clock):
    * extend `holder`'s CURRENT lease by `ttlMs` from now. Strictly the
    * heartbeat, never the takeover: it succeeds only while `holder`
    * still holds the live, unexpired lease — a lease that expired, was
    * fenced by a recoverer, or was never held throws
    * LeaseHeldException, so a writer that lost its lease learns at the
    * NEXT HEARTBEAT instead of at commit time (the reference's
    * soft-limit discipline: a renewing slow writer survives recovery
    * attempts indefinitely; a silent one is reclaimable after one
    * missed TTL). Same create-exclusive epoch mechanics as
    * acquireLease, so a renewal racing a fencer resolves to exactly
    * one winner. */
  private[graft] def renewLease(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                                holder: String, ttlMs: Long = LeaseSoftLimitMs,
                                hardMs: Long = -1L): Unit =
    currentLease(fs, stateDir) match {
      case Some(l) if l.holder == holder &&
        !l.expiredSoft(System.currentTimeMillis()) =>
        // own live lease: the acquire path's own-renewal arm writes the
        // higher epoch create-exclusively and re-validates under race
        acquireLease(fs, stateDir, holder, ttlMs, hardMs)
      case Some(l) => throw LeaseHeldException(l.holder, l.softDeadline)
      case None => throw LeaseHeldException("<none>", 0L)
    }

  /** Release the lease iff the current epoch is held by `holder` (a
    * fenced-out writer must not delete its successor's lease — its
    * own superseded epoch file is already outranked, so deleting it
    * releases nothing it doesn't own). */
  private[graft] def releaseLease(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                                  holder: String): Unit =
    leaseEpochs(fs, stateDir).lastOption.foreach { case (_, p) =>
      readLease(fs, p) match {
        case Some(l) if l.holder == holder => fs.delete(p, false); ()
        case _ => ()
      }
    }

  /** Assert `holder` still holds the current, unexpired lease — called
    * immediately before the rename swap so a writer that overran its
    * TTL (and may have been fenced) aborts instead of interleaving.
    * Plain-filesystem locking cannot close the final window (the
    * check and the renames are not one atomic unit — the reference
    * closes it by checking leases inside the NameNode on every
    * mutation); this bounds the exposure to milliseconds. */
  private[graft] def verifyLease(fs: org.apache.hadoop.fs.FileSystem, stateDir: String,
                                 holder: String): Unit =
    currentLease(fs, stateDir) match {
      case Some(l) if l.holder == holder &&
        !l.expiredSoft(System.currentTimeMillis()) => ()
      case Some(l) => throw LeaseHeldException(l.holder, l.softDeadline)
      case None => throw LeaseHeldException("<none>", 0L)
    }

  /** Versioned swap, every rename checked: write the new version to
    * .tmp (materializing the read of the current state first), retire
    * current to .old, promote .tmp, drop .old. Production would commit
    * through a transactional table format; this keeps the same
    * foreachBatch contract with a restorable window instead of a lossy
    * one. */
  private[graft] def commitState(fs: org.apache.hadoop.fs.FileSystem,
                                 merged: DataFrame, stateDir: String): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(stateDir)
    val tmpP = new org.apache.hadoop.fs.Path(stateDir + ".tmp")
    val oldP = new org.apache.hadoop.fs.Path(stateDir + ".old")
    merged.write.mode("overwrite").parquet(stateDir + ".tmp")
    fs.delete(oldP, true)
    if (fs.exists(dirP) && !fs.rename(dirP, oldP))
      throw new java.io.IOException(s"cdcUpsert: could not retire $dirP")
    if (!fs.rename(tmpP, dirP))
      throw new java.io.IOException(s"cdcUpsert: could not promote $tmpP")
    fs.delete(oldP, true)
    ()
  }

  /** CDC-style upsert sink via foreachBatch: every micro-batch is
    * reduced to its latest purchase per user, merged with the keyed
    * parquet state (keep-latest by (ts, event_id)), and the state dir
    * is swapped through the checked versioned commit above. Converges
    * to the st_cdc_upsert batch truth regardless of how events are
    * split across micro-batches, because keep-latest is associative.
    * Returns the started query. */
  def cdcUpsert(events: DataFrame, stateDir: String,
                checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // One lease identity per started query. A concurrent cdcUpsert on
    // the same stateDir FAILS FAST with LeaseHeldException (the batch
    // error terminates that query) instead of interleaving renames and
    // corrupting state — an orchestrator restarts the loser once the
    // holder releases or its TTL expires.
    val holder = "cdc-" + java.util.UUID.randomUUID()
    events
      .filter(col("event_type") === "purchase")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        acquireLease(fs, stateDir, holder)
        try {
          recoverState(fs, stateDir)
          val fresh = keepLatest(batch.select(col("user_id"),
            col("value").as("last_value"), col("event_id").as("last_event"), col("ts")))
          val dirP = new org.apache.hadoop.fs.Path(stateDir)
          val merged =
            if (fs.exists(dirP))
              keepLatest(graft.operators.Lake.readParquet(spark, stateDir).unionByName(fresh))
            else fresh
          // the merge above may outlive the TTL: re-assert ownership at
          // the last moment before the swap
          verifyLease(fs, stateDir, holder)
          commitState(fs, merged, stateDir)
        } finally releaseLease(fs, stateDir, holder)
        ()
      }
      .start()
  }

  /** One doc flowing through the streaming near-dup pipeline. */
  case class DocEv(doc_id: Long, text: String)
  /** A doc's row in one LSH band bucket. */
  case class BandRow(band_idx: Int, band_key: Long, doc_id: Long, sh: Array[Long])
  /** Per-bucket dedup state: every (doc_id, shingles) seen. */
  case class BucketState(docs: Seq[(Long, Array[Long])])
  /** Emitted flag: `doc_id` is a near-dup of the earlier `dup_of`. */
  case class NearDup(doc_id: Long, dup_of: Long)

  /** STREAMING near-dup dedup: as documents arrive, each verified
    * near-duplicate pair (exact Jaccard >= threshold) is flagged as
    * NearDup(higher id, lower id) — ORDER-INDEPENDENT: whichever side
    * arrives later triggers the flag, so out-of-order delivery
    * (retries, multi-partition ingestion) converges to the same set
    * as the batch MinHash pipeline's `doc_b` flags (StreamingSpec
    * replays the corpus in order AND shuffled and asserts equality).
    *
    * Shape: the stateless prefix computes shingles, the MinHash
    * signature and the banded keys through the SAME projection the
    * batch candidate join uses (Graft.dedup.bandedKeys — one banding
    * definition, two consumers); state lives PER BAND BUCKET
    * (groupByKey on (band_idx, band_key)), so a new doc is verified
    * only against seen docs sharing a band — the banded-LSH candidate
    * discipline, never stream-vs-all. A pair sharing several bands is
    * flagged once per shared band; consumers take the distinct
    * doc_id. A redelivered doc already in state is skipped, so
    * replayed batches cannot re-flag.
    *
    * State is O(docs per bucket) and never evicted here (NoTimeout):
    * dedup-against-all-history is the semantic. A production deploy
    * bounds it the way the batch pipeline shards at 100 TB — TTL'd
    * state (ProcessingTimeTimeout) for dedup-within-horizon, or a
    * compacted external signature store for unbounded horizons. */
  def streamNearDup(docs: DataFrame, threshold: Double = 0.8,
                    k: Int = 32, bands: Int = 8): Dataset[NearDup] = {
    import docs.sparkSession.implicits._
    import graft.functions.Shingles
    val bl = graft.api.Graft.dedup.bandedKeys(
        docs.select(col("doc_id"), sort_array(Shingles.shingleHashes(col("text"))).as("sh")),
        k, bands)
      .as[BandRow]
    bl.groupByKey(row => (row.band_idx, row.band_key))
      .flatMapGroupsWithState[BucketState, NearDup](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
          // shingle arrays wrapped ONCE per doc per invocation, not
          // once per pair comparison
          val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], ArrayData)]
          state.getOption.map(_.docs).getOrElse(Seq.empty)
            .foreach(e => seen += ((e._1, e._2, new GenericArrayData(e._2))))
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDup]
          rows.toSeq.sortBy(_.doc_id).foreach { row =>
            if (!seen.exists(_._1 == row.doc_id)) { // redelivery guard
              val rowW = new GenericArrayData(row.sh)
              seen.foreach { case (other, _, otherW) =>
                if (graft.plans.GraftRuntime.jaccardSorted(otherW, rowW) >= threshold)
                  out += (if (other < row.doc_id) NearDup(row.doc_id, other)
                          else NearDup(other, row.doc_id))
              }
              seen += ((row.doc_id, row.sh, rowW))
            }
          }
          state.update(BucketState(seen.map(e => (e._1, e._2)).toSeq))
          out.iterator
      }
  }

  /** Per-series trailing-baseline scoring state: the day being
    * accumulated (its exact integer sums become the NEXT baseline),
    * the previous closed day's broadcast-shape stats, and the open
    * day's scoring counters. */
  case class BaselineState(day: Long, n: Long, cents: Long, e4: Long,
                           hasBase: Boolean, baseMu: Double, baseSd: Double,
                           scored: Long, anomalous: Long)
  case class BaselineOut(event_type: String, day: java.sql.Timestamp,
                         n_scored: Long, n_anomalous: Long, baseline_mu: Double)

  /** STREAMING trailing-baseline anomaly scan (streaming form of
    * ts_baseline_anomaly): each event is scored the moment it arrives
    * against its series' PREVIOUS CLOSED day's stats — exactly the
    * deployment the batch operator's doc promises, where yesterday's
    * 5-row stats table is broadcast and today's stream needs zero
    * coordination. State per event_type is O(1): the open day's three
    * exact integer accumulators (n, cents, cents^2 at 1e-4 scale — the
    * same decimal-exact sums the batch op uses, so the mu/sd doubles
    * are BIT-IDENTICAL to sumM/cast arithmetic), the previous closed
    * day's (mu, sd), and the open day's counters. A day closes when
    * its series' first later-day event arrives; its stats become the
    * new baseline. First observed day per series is unscored, and a
    * zero-sd baseline scores nothing — both mirroring the batch
    * operator's guards. Emits (Update mode) the open day's cumulative
    * row per invocation; the LAST row per (event_type, day) equals the
    * batch audit EXACTLY under any event-time-ordered chunking
    * (StreamingSpec asserts equality at two chunk sizes). Requires
    * time-ordered feeding, like transitionStream. */
  def anomalyStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val zoneId = spark.conf.get("spark.sql.session.timeZone",
      java.time.ZoneId.systemDefault().getId)
    events.as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BaselineState, BaselineOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key, evs, state) =>
          val zone = java.time.ZoneId.of(zoneId)
          def dayStartMicros(ts: java.sql.Timestamp): Long =
            ts.toInstant.atZone(zone).toLocalDate.atStartOfDay(zone)
              .toInstant.toEpochMilli * 1000L
          // value -> exact cents, mirroring cast(value as decimal(15,2)):
          // shortest-repr BigDecimal, HALF_UP to 2 dp
          def cents(v: Double): Long =
            java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
          // decimal-sum -> double -> double division: the batch op's
          // exact numeric path (sums < 2^53, conversions exact)
          def stats(s: BaselineState): (Double, Double) = {
            val mu = (s.cents / 100.0) / s.n
            val sd = math.sqrt(math.max((s.e4 / 10000.0) / s.n - mu * mu, 0.0))
            (mu, sd)
          }
          def row(s: BaselineState): Option[BaselineOut] =
            if (s.hasBase && s.baseSd > 0 && s.scored > 0)
              Some(BaselineOut(key, microsToTs(s.day), s.scored, s.anomalous, s.baseMu))
            else None
          val out = scala.collection.mutable.ArrayBuffer.empty[BaselineOut]
          var s = state.getOption
            .getOrElse(BaselineState(Long.MinValue, 0, 0, 0, false, 0, 0, 0, 0))
          evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
            val d = dayStartMicros(e.ts)
            if (s.day == Long.MinValue) s = s.copy(day = d)
            else if (d > s.day) {
              row(s).foreach(out += _) // the closed day's FINAL counters
              val (mu, sd) = stats(s) // its stats become the new baseline
              s = BaselineState(d, 0, 0, 0, hasBase = true, mu, sd, 0, 0)
            }
            val c = cents(e.value)
            s = s.copy(n = s.n + 1, cents = s.cents + c, e4 = s.e4 + c * c)
            if (s.hasBase && s.baseSd > 0) {
              val z = (e.value - s.baseMu) / s.baseSd
              s = s.copy(scored = s.scored + 1,
                anomalous = s.anomalous + (if (math.abs(z) > 2) 1L else 0L))
            }
          }
          state.update(s)
          row(s).foreach(out += _) // provisional row for the open day
          out.iterator
      }.toDF()
  }

  /** CUSUM drift-monitor state: the open day's accumulator, the
    * warm-up fold (first CusumWarmupDays closed days fix the
    * reference mean), and the two one-sided CUSUM prefix pairs in
    * their sum/running-min form — max(0, g + a) over a sequence is
    * S_t - min(0, min_i S_i), so the clamped recursion carries as two
    * longs per side and the streaming state stays 8 longs per key. */
  case class CusumState(day: Long, cents: Long, warmN: Long, warmSum: Long,
                        sp: Long, minSp: Long, sn: Long, minSn: Long)
  case class CusumOut(event_type: String, day: java.sql.Timestamp,
                      cents: Long, gpos: Long, gneg: Long, flag: Long)

  val CusumWarmupDays = 10

  /** STREAMING CUSUM CHANGE MONITOR (streaming form of
    * st_cusum_drift; ts_changepoint is the OFFLINE retrospective —
    * it needs the series total, which a live monitor never has): per
    * event type, the first 10 closed days fix a reference daily mass;
    * every later day updates two one-sided CUSUM statistics with a
    * 10%-of-reference allowance and flags when either exceeds a
    * quarter reference-day of accumulated drift — the page-the-operator form
    * of change detection, O(1) exact-integer state per key. A day
    * closes when its series' first later-day event arrives; the open
    * day is emitted provisionally (Update mode) so the LAST row per
    * (event_type, day) equals the batch truth exactly under any
    * event-time-ordered chunking (StreamingSpec asserts it at two
    * chunk sizes). Requires time-ordered feeding, like
    * transitionStream / anomalyStream. */
  def cusumStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val zoneId = spark.conf.get("spark.sql.session.timeZone",
      java.time.ZoneId.systemDefault().getId)
    events.as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key, evs, state) =>
          val zone = java.time.ZoneId.of(zoneId)
          def dayStartMicros(ts: java.sql.Timestamp): Long =
            ts.toInstant.atZone(zone).toLocalDate.atStartOfDay(zone)
              .toInstant.toEpochMilli * 1000L
          def cents(v: Double): Long =
            java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
          // fold ONE closed day into the CUSUM pair; emits the scored
          // row once the warm-up is complete
          def fold(s: CusumState, day: Long, dCents: Long): (CusumState, Option[CusumOut]) =
            if (s.warmN < CusumWarmupDays)
              (s.copy(warmN = s.warmN + 1, warmSum = s.warmSum + dCents), None)
            else {
              val k = s.warmSum / CusumWarmupDays // allowance: 10% of ref, x10 scale
              val d = CusumWarmupDays * dCents - s.warmSum
              val sp = s.sp + (d - k)
              val sn = s.sn + (-d - k)
              val minSp = math.min(s.minSp, sp)
              val minSn = math.min(s.minSn, sn)
              val gpos = sp - math.min(0L, minSp)
              val gneg = sn - math.min(0L, minSn)
              val flag =
                if (gpos > s.warmSum / 4 || gneg > s.warmSum / 4) 1L else 0L
              (s.copy(sp = sp, minSp = minSp, sn = sn, minSn = minSn),
                Some(CusumOut(key, microsToTs(day), dCents, gpos, gneg, flag)))
            }
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          var s = state.getOption.getOrElse(
            CusumState(Long.MinValue, 0, 0, 0, 0, Long.MaxValue, 0, Long.MaxValue))
          evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
            val d = dayStartMicros(e.ts)
            if (s.day == Long.MinValue) s = s.copy(day = d)
            else if (d > s.day) {
              val (s2, row) = fold(s, s.day, s.cents)
              row.foreach(out += _)
              s = s2.copy(day = d, cents = 0)
            }
            s = s.copy(cents = s.cents + cents(e.value))
          }
          state.update(s)
          // provisional row for the open day (its cents are complete
          // when the stream ends — the convergence point)
          if (s.day != Long.MinValue) fold(s, s.day, s.cents)._2.foreach(out += _)
          out.iterator
      }.toDF()
  }

  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)
  case class FunnelOut(user_id: Long, stage: String, t_stage: Long)

  /** STREAMING FUNNEL STAGE LOG (streaming form of st_funnel_steps):
    * per user, three longs of state — the reached stages' epoch
    * seconds (-1 = unreached). The batch chain (min view; first
    * click strictly after it within 24h; first purchase strictly
    * after that within 24h) is prefix-foldable in event-time order:
    * each stage time depends only on already-fixed earlier state, so
    * folding the time-ordered stream reproduces it EXACTLY — the
    * first qualifying event in time order IS the MIN the batch join
    * computes, and an event in the same second as its gate fails the
    * strict > in both forms. Each stage row is emitted exactly once
    * (Append mode), the moment the stage is reached. Requires
    * time-ordered feeding, like transitionStream / cusumStream;
    * state is O(users) and never grows with events. */
  def funnelSteps(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
            val sec = Math.floorDiv(tsToMicros(e.ts), 1000000L)
            e.event_type match {
              case "view" if s.tView < 0 =>
                s = s.copy(tView = sec)
                out += FunnelOut(uid, "1_view", sec)
              case "click" if s.tView >= 0 && s.tClick < 0 &&
                  sec > s.tView && sec <= s.tView + 86400 =>
                s = s.copy(tClick = sec)
                out += FunnelOut(uid, "2_click", sec)
              case "purchase" if s.tClick >= 0 && s.tPurchase < 0 &&
                  sec > s.tClick && sec <= s.tClick + 86400 =>
                s = s.copy(tPurchase = sec)
                out += FunnelOut(uid, "3_purchase", sec)
              case _ => ()
            }
          }
          state.update(s)
          out.iterator
      }.toDF()
  }

  case class SessCloseState(start: Long, last: Long, n: Long, idx: Long)
  case class SessClosedOut(user_id: Long, session_idx: Long, n_events: Long,
    start_sec: Long, duration_sec: Long)

  /** STREAMING SESSIONIZER (streaming form of st_sessionize): per
    * user FOUR longs of state — the open session's start, last-seen
    * second, event count and 1-based index. The 30-min-gap recursion
    * is prefix-foldable in event-time order (a session's membership
    * depends only on the previous event's time), so folding the
    * time-ordered stream reproduces the batch lag/cumsum construction
    * EXACTLY: an arrival within the gap extends the open span; an
    * arrival beyond it EMITS the closed session (exactly once, Append
    * mode — the moment it is provably over) and opens the next. Each
    * user's final session stays open and is emitted by NEITHER side —
    * the exact-convergence contract with the batch truth. Requires
    * time-ordered feeding, like transitionStream / funnelSteps;
    * state is O(users) and never grows with events. */
  def sessionize(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = graft.operators.Insights.SessionGapSec
    events.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessCloseState, SessClosedOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state) =>
          var s = state.getOption.getOrElse(SessCloseState(-1L, -1L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessClosedOut]
          evs.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
            val sec = Math.floorDiv(tsToMicros(e.ts), 1000000L)
            if (s.n == 0L)
              s = SessCloseState(sec, sec, 1L, 1L)
            else if (sec - s.last <= gapSec)
              s = s.copy(last = math.max(s.last, sec), n = s.n + 1)
            else {
              out += SessClosedOut(uid, s.idx, s.n, s.start, s.last - s.start)
              s = SessCloseState(sec, sec, 1L, s.idx + 1)
            }
          }
          state.update(s)
          out.iterator
      }.toDF()
  }

  /** Merge-adjacent coalesce over session spans: sort by start, merge
    * any neighbor starting within the gap of the running span — the
    * batch session_window closure, applied incrementally. */
  private[graft] def coalesceSpans(spans: Seq[SessionSpan]): Seq[SessionSpan] =
    spans.sortBy(s => (s.start, s.last)).foldLeft(List.empty[SessionSpan]) {
      case (head :: tail, s) if s.start <= head.last + GapMicros =>
        SessionSpan(head.start, math.max(head.last, s.last), head.n + s.n) :: tail
      case (acc, s) => s :: acc
    }.reverse

  /** Streaming sink into a versioned commit-log table: every
    * micro-batch lands as one immutable data dir plus one journal
    * commit (sources.CommitLog), so the stream's history is time
    * travelable — `snapshot(v)` is the table after batch v,
    * `snapshotAsOf(ts)` replays to an ingestion instant, and
    * checkpoints/retention apply as on any commit-log table.
    *
    * Identity + idempotence: data dirs are named
    * `data/sink-<id>-batch-<N>` where the sink id derives from the
    * CHECKPOINT path — the engine's batch ids are only meaningful per
    * checkpoint, so a second producer (or a rebuilt checkpoint)
    * writes under its own prefix and can never silently collide with
    * another stream's batches. Replays of the same checkpoint are
    * skipped via a per-sink high-water mark file (O(1) per batch, and
    * it survives journal retention, which may have dropped the
    * replayed batch's log entry); the first batch past the mark
    * falls back to a journal lookup to cover a crash between commit
    * and mark update. */
  def commitLogSink(events: DataFrame, tableDir: String,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val sinkId = java.lang.Long.toHexString(graft.plans.GraftRuntime.charHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(checkpointDir)))
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val hwmPath = new org.apache.hadoop.fs.Path(tableDir, s"_sink-$sinkId-hwm")
        def hwm: Long =
          if (!fs.exists(hwmPath)) -1L
          else {
            val in = fs.open(hwmPath)
            val txt =
              try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
              finally in.close()
            txt.trim.toLongOption.getOrElse(throw new java.io.IOException(
              s"sink high-water mark $hwmPath does not hold a batch id: '${txt.take(64)}'"))
          }
        if (batchId > hwm) {
          val rel = s"data/sink-$sinkId-batch-$batchId"
          // crash-between-commit-and-mark fallback: journal lookup
          val committed = fs.exists(new org.apache.hadoop.fs.Path(tableDir, rel)) &&
            graft.sources.CommitLog.commits(fs, tableDir).exists(_.adds.contains(rel))
          if (!committed)
            graft.sources.CommitLog.writeCommit(
              batch.sparkSession, tableDir, batch, rel,
              ts = System.currentTimeMillis())
          // write-tmp + rename (as CommitLog.flush): a crash mid-write
          // leaves the previous mark, never a truncated one
          val tmp = hwmPath.suffix(".tmp")
          val out = fs.create(tmp, true)
          try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
          fs.delete(hwmPath, false)
          if (!fs.rename(tmp, hwmPath))
            throw new java.io.IOException(s"sink high-water mark swap failed: $hwmPath")
        }
        ()
      }
      .start()
  }

  /** Custom-state sessionizer via flatMapGroupsWithState: the shape to
    * reach for when session output needs logic session_window can't
    * express (e.g. per-session feature vectors).
    *
    * Emission is strictly PROVABLE: a session emits only once the
    * watermark passes its last event + gap — until then it stays in
    * state, so any late event the engine still admits (i.e. newer than
    * the watermark) merges exactly as the batch truth would: two
    * mutually-within-gap late events coalesce into one span, and a
    * later bridging event can fuse earlier spans with the open one.
    * Events older than the watermark are dropped by the engine — the
    * standard streaming bound on lateness. */
  def sessionizeWithState(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          def toOut(s: SessionSpan) = SessionOut(
            user, microsToTs(s.start), s.n, (s.last - s.start).toDouble / 1e6)
          val existing = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val incoming = evs.map(e => tsToMicros(e.ts)).map(t => SessionSpan(t, t, 1)).toSeq
          val merged = coalesceSpans(existing ++ incoming)
          val wmMicros = state.getCurrentWatermarkMs() * 1000
          val (closed, open) = merged.partition(_.last + GapMicros < wmMicros)
          if (open.nonEmpty) {
            state.update(SessionState(open))
            // wake when the earliest still-open span becomes provable
            // (+1 ms: the timeout must lie strictly past the watermark)
            state.setTimeoutTimestamp(
              open.map(_.last).min / 1000 + GapMicros / 1000 + 1)
          } else state.remove()
          closed.sortBy(_.start).map(toOut).iterator
      }
  }

  /** Streaming twin of ts_seasonality's bucket map: a complete-mode
    * groupBy over (event_type, day-of-week, hour) — engine-managed
    * state is one counter per live bucket (≤ types×168 rows, O(1)
    * per event), no watermark needed because buckets never close
    * (seasonality accumulates forever; a production variant windows
    * by week). Emits the full map each refresh; apply
    * [[seasonalityHot]] sink-side for the hot flags — the per-type
    * total is a second aggregation level, which streaming cannot
    * stack, and deriving it at read time over ≤ types×168 rows is
    * free. The LAST refresh equals the batch operator's buckets
    * EXACTLY under any chunking (StreamingSpec asserts it). */
  def seasonalityStream(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"))

  /** Read-time hot-flag derivation over a materialized bucket map
    * (the stateless transform a sink applies per refresh): the exact
    * integer cross-multiplication ts_seasonality uses. */
  def seasonalityHot(buckets: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    buckets.withColumn("n_tot", sum(col("n_events")).over(w))
      .select(col("event_type"), col("dow"), col("hr"), col("n_events"),
        when(col("n_events") * 168 > col("n_tot") * 2, 1L).otherwise(0L).as("hot"))
  }
}
