package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

import graft.operators.{Compaction, PrefixSum}
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.StreamJob

/** Query family: Structured Streaming legs — stateful sessions/joins/dedup, state stores, drains.
  * Split from the monolithic Queries.scala (round 13) with def
  * bodies and oracle SQL byte-verbatim; surfaced unchanged via
  * [[Queries.all]] / [[Queries.oracle]]. */
private[graft] trait QueriesStreaming { this: Queries.type =>

  /** Custom streaming state (flatMapGroupsWithState) run in batch mode:
    * the same open-session state machine that powers the streaming
    * path (StreamingWindowSpec) here folds full per-user histories —
    * and must hash-match the q29 gaps-and-islands SQL oracle.
    */
  def q39_sessions_stateful(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    val ev = StatefulSessions.project(
      t(s, dir, "events"), "user_id", "event_id", "ts", "value")
    StatefulSessions.sessionizeBatch(ev, gapUs = 6L * 3600 * 1000000).toDF()
      .select(col("key").as("user_id"),
        timestamp_micros(col("startUs")).as("s_start"),
        col("n_events"), round(col("total"), 2).as("total"))
      .orderBy("user_id", "s_start")
  }

  /** Exact percentiles (continuous interpolation) per group — single
    * partial+final agg pass; `percentile` keeps per-group value buffers
    * so at 100 TB the approx sketch (q20's HLL cousin,
    * `percentile_approx`) is the scale path; this is the exact
    * verification baseline.
    */

  /** Click→purchase conversion pairs within 30 minutes, credited to the
    * click's campaign — the BATCH form of a stream-stream interval
    * join (the streaming execution — two MemoryStreams, watermarks on
    * both sides, state expiry from the interval bound — runs in
    * StreamingWindowSpec; this frame is its batch oracle, the q28/q32
    * pattern). The join is an EQUI-join on user_id with the time bound
    * as residual, so both sides co-partition at 100 TB and the range
    * never degenerates to a cross product; unlike q205 (latest-click
    * attribution) every qualifying pair counts.
    */
  def q213_stream_stream_join(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("campaign"),
        col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    c.join(p, Seq("user_id"))
      .filter(col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr("INTERVAL 30 MINUTES"))
      .groupBy("campaign")
      .agg(count(lit(1)).as("n_pairs"), round(sum("value"), 2).as("total_value"))
      .orderBy("campaign")
  }

  /** Watermark-impact what-if: for candidate watermark delays (0 s,
    * 1 min, 10 min, 1 h), how many events a streaming job would DROP
    * and how much purchase revenue goes with them — the decision
    * table q137's lateness percentiles feed (q137 describes lateness;
    * this prices each watermark choice). Lateness = run-max event
    * time over ARRIVAL order (event_id), q137's model, in exact
    * integer seconds; the 4-row delay dimension broadcasts over the
    * lateness frame and each (delay, day-independent) drop census is
    * one conditional aggregate.
    */
  def q283_watermark_impact(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(
      to_date(col("ts")).as("day"), col("event_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("day").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = base
      .withColumn("runmax", max("us").over(w))
      .withColumn("late_sec", expr("(runmax - us) div 1000000"))
    val wms = s.createDataFrame(
      Seq(Tuple1(0L), Tuple1(60L), Tuple1(600L), Tuple1(3600L))).toDF("wm_sec")
    late.crossJoin(broadcast(wms))
      .groupBy("wm_sec")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_sec") > col("wm_sec"), 1L).otherwise(0L)).as("n_dropped"),
        round(sum(when(col("late_sec") > col("wm_sec"), 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("drop_share"),
        round(sum(when(col("late_sec") > col("wm_sec") &&
          col("event_type") === "purchase", col("value")).otherwise(lit(0.0))), 2)
          .as("revenue_dropped"))
      .orderBy("wm_sec")
  }

  /** The Spark-4 arbitrary-state surface, ORACLE-JUDGED (it was
    * parity-tested only): full sessionization through
    * `StatefulSessions.SessionProcessor` (`transformWithState`, typed
    * ValueState + explicit event-time timers, RocksDB-backed) running
    * as a REAL streaming query — file-source micro-batch over the
    * events table, distributed parquet sink (session rows are
    * user-grain — q328's no-driver-materialization rule) — and
    * hash-matched against q29's
    * gaps-and-islands SQL oracle. A per-user far-future sentinel event
    * (global max ts + gap + 1h, value 0) rides the stream so every
    * REAL session closes through the event path and emits in Append
    * mode before the query drains; the sentinels' own sessions stay
    * open in state and are never emitted, so the output is exactly
    * the batch oracle's session set. Scale shape is the processor's
    * contract: one shuffle on the key, O(active keys) fixed-size
    * state, per-key timers.
    */
  def q324_sessions_tws_stream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    val gapUs = 6L * 3600 * 1000000
    val ev = StatefulSessions.project(
      t(s, dir, "events"), "user_id", "event_id", "ts", "value")
    val sentinels = ev.groupBy("key").agg(count(lit(1)))
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("gmx"))))
      .select(col("key"),
        lit(Long.MaxValue / 2).as("seq"),
        (col("gmx") + expr("INTERVAL 7 HOURS")).cast("timestamp").as("ts"),
        lit(0.0).as("value"))
    val stageDir = stagedParquet(s"tws|$dir") { d =>
      ev.toDF().unionByName(sentinels).write.mode("overwrite").parquet(d)
    }
    // Session rows are USER-grain (unbounded at corpus scale) — they
    // ride the distributed file sink (runToParquetSink, q328's rule);
    // the judged frame reads back from parquet.
    val stream0 = s.readStream.schema(ev.schema).parquet(stageDir)
      .as[StatefulSessions.SEvent](org.apache.spark.sql.Encoders
        .product[StatefulSessions.SEvent])
      .withWatermark("ts", "0 seconds")
    val sessions = runToParquetSink(s,
      StatefulSessions.sessionizeStreamTws(stream0, gapUs).toDF(), "tws",
      StreamJob.RocksProvider)
    sessions
      .select(col("key").as("user_id"),
        timestamp_micros(col("startUs")).as("s_start"),
        col("n_events"), round(col("total"), 2).as("total"))
      .orderBy("user_id", "s_start")
  }

  /** Stream-STATIC enrichment + streaming aggregation, ORACLE-JUDGED
    * as a real streaming query (q324's harness): the orders fact
    * streams through a file-source micro-batch, each batch is enriched
    * by a BROADCAST join against the static customer⋈nation dimension
    * (the per-micro-batch map-side join every streaming ETL runs —
    * dims broadcast once, fact rows never shuffle for the join), and
    * a stateful streaming aggregation in Complete mode folds revenue
    * per nation across batches. AvailableNow drains the topic and the
    * final state must equal the batch join — hash-matched against the
    * plain three-table SQL oracle. Complete-mode state is one row per
    * nation (bounded), which is exactly when Complete mode is the
    * right tool.
    */
  def q327_stream_static_enrich(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_custkey", "o_totalprice")
    val stageDir = stagedParquet(s"ss|$dir") { d =>
      orders.write.mode("overwrite").parquet(d)
    }
    val dim = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val n = Queries.twsRuns.incrementAndGet()
    val table = s"graft_stream_static_$n"
    StreamJob.drain(s, "ss") {
      s.readStream.schema(orders.schema).parquet(stageDir)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .writeStream.format("memory").queryName(table).outputMode("complete")
    }
    s.table(table).orderBy("n_name")
  }

  /** Stream-stream LEFT OUTER interval join, ORACLE-JUDGED as a real
    * streaming query — the missing rung of the stream-join matrix
    * (q213 is the batch form + the INNER streaming execution;
    * StreamingWindowSpec pins outer-row eviction on MemoryStreams;
    * this promotes the outer surface to the DuckDB gate). Clicks and
    * purchases stream from two staged topics; each click left-joins
    * purchases by the same user within [cts, cts+30min). A null-
    * extended row may only emit once the watermark PROVES no matching
    * purchase can still arrive — the state-eviction path an inner join
    * never exercises. A far-future sentinel row on BOTH topics (the
    * q324 pattern, via [[sojStreams]]) drives the final
    * watermark past every real click's expiry so AvailableNow's
    * closing no-data micro-batch flushes every unmatched click; the
    * sentinels' own rows (user_id < 0, and the sentinel click's expiry
    * sits past the final watermark) never emit and are filtered from
    * the aggregation regardless. Scale shape: the join is an EQUI-join
    * on user_id with the time bound as residual (co-partitioned state
    * on both sides, never a cross product), per-key state bounded by
    * the 30-minute interval + watermark eviction; the post-drain
    * rollup is one bounded campaign-grain aggregate.
    */
  def q328_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    runToParquetSink(s, cs.join(ps, sojCondition, "left_outer"), "soj")
      .filter(col("user_id") >= 0)
      .groupBy(coalesce(col("campaign"), lit(-1L)).as("campaign"))
      .agg(count(col("pts")).as("n_pairs"),
        count(when(col("pts").isNull, lit(1))).as("n_unmatched"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
      .orderBy("campaign")
  }

  /** Stream-stream FULL OUTER interval join — the last rung of the
    * streaming join matrix (inner: q213's streaming form; left outer:
    * q328; full outer completes it): BOTH sides' unmatched rows may
    * only emit once the watermark proves no partner can arrive, so
    * both state stores exercise eviction. Same dual-topic sentinels
    * ([[sojStreams]]); the sentinels themselves sit exactly AT the
    * final watermark, where emit-vs-hold is a boundary call — the
    * rollup filters negative ids so the judged frame is identical
    * either way. Output is the 1-row reconciliation report
    * (matched / click-only / purchase-only / matched value); the
    * fact-grain join output rides the distributed file sink (q328's
    * rule).
    */
  def q340_stream_full_join(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    val matched = col("user_id").isNotNull && col("p_user").isNotNull
    runToParquetSink(s, cs.join(ps, sojCondition, "full_outer"), "sfj")
      .filter(coalesce(col("user_id"), col("p_user")) >= 0)
      .agg(count(when(matched, lit(1))).as("n_pairs"),
        count(when(col("p_user").isNull, lit(1))).as("n_click_only"),
        count(when(col("user_id").isNull, lit(1))).as("n_purchase_only"),
        round(sum(when(matched, col("value")).otherwise(lit(0.0))), 2)
          .as("matched_value"))
  }

  /** Multi-SOURCE streaming union under the min-watermark policy: the
    * click and purchase topics (each carrying its OWN watermark) union
    * into one stream and aggregate into 1-day tumbling windows per
    * kind. The judged semantics is the coordination rule itself —
    * Spark advances the QUERY watermark to the MINIMUM across sources
    * (the default multipleWatermarkPolicy), so a window may only close
    * once BOTH topics pass it; one lagging topic correctly holds every
    * window open. The dual sentinels ([[sojStreams]]) push both
    * sources past the last real day, so AvailableNow drains every
    * REAL window in Append mode — while the sentinels' own far-future
    * windows can never emit (their window END sits past the final
    * watermark), so the output is exactly the real-day set with no
    * filtering at all. Bounded (day, kind) output to the memory sink;
    * batch union oracle.
    */
  def q343_stream_union_sources(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    val unioned = cs.select(col("cts").as("ts"), lit("click").as("kind"))
      .unionByName(ps.select(col("pts").as("ts"), lit("purchase").as("kind")))
    val n = Queries.twsRuns.incrementAndGet()
    val table = s"graft_usrc_$n"
    StreamJob.drain(s, "usrc") {
      unioned
        .groupBy(window(col("ts"), "1 day").as("w"), col("kind"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("day"), col("kind"), col("n_events"))
        .writeStream.format("memory").queryName(table).outputMode("append")
    }
    s.table(table).orderBy("day", "kind")
  }

  /** Streaming DEDUP → WINDOWED-AGG chain (the other multi-stateful
    * pipeline next to q333's join→agg): distinct purchasers per day,
    * computed as exact dropDuplicates on (user, day-window) feeding a
    * 1-day tumbling count in the SAME streaming query. The dedup key
    * includes the `window(pts)` column, which carries the event-time
    * watermark tag — so dedup state is watermark-EVICTED per day
    * (unbounded-retention dedup would hold every user forever), and
    * the downstream agg closes each window once the watermark passes
    * it. The purchase topic's sentinel drives the final watermark;
    * its own far-future window never emits. Bounded day-grain output;
    * batch count(DISTINCT) oracle.
    */
  def q344_stream_dedup_window(s: SparkSession, dir: String): DataFrame = {
    val (_, ps) = sojStreams(s, dir)
    val n = Queries.twsRuns.incrementAndGet()
    val table = s"graft_ddw_$n"
    StreamJob.drain(s, "ddw") {
      ps.withColumn("w", window(col("pts"), "1 day"))
        .dropDuplicates("p_user", "w")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("w.start").as("day"), col("n_users"))
        .writeStream.format("memory").queryName(table).outputMode("append")
    }
    s.table(table).orderBy("day")
  }

  /** NATIVE `session_window` aggregation as a real STREAMING query —
    * the built-in session operator end-to-end (q29 judges its batch
    * form; q324 judges the hand-rolled transformWithState twin; this
    * closes the triangle): per-user 6-hour purchase sessions through
    * the purchase topic, state merged by Spark's session-window store
    * and emitted in Append mode only when the watermark passes a
    * session's END (last event + gap). The topic sentinel pushes the
    * final watermark past every real session's end while its own
    * session (end = sentinel + gap, past the watermark) can never
    * emit — and is filtered by id regardless. Oracle is q29's
    * gaps-and-islands SQL restricted to purchases (break at ≥ gap,
    * Spark's half-open [start, last+gap) contract). Output is
    * user×session grain — UNBOUNDED — so it rides the distributed
    * parquet sink (q328's rule), never a driver-side memory table.
    */
  def q345_session_window_stream(s: SparkSession, dir: String): DataFrame = {
    val (_, ps) = sojStreams(s, dir)
    val sessions = ps
      .groupBy(session_window(col("pts"), "6 hours").as("sw"),
        col("p_user"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .select(col("p_user").as("user_id"), col("sw.start").as("s_start"),
        col("n_events"), col("total"))
    runToParquetSink(s, sessions, "swin")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "s_start")
  }

  /** Arbitrary MAP state through `transformWithState`, oracle-judged —
    * the multi-entry state surface next to q324's ValueState session
    * processor: per-user `MapState[epochDay -> cents]` accumulates
    * purchase revenue per day ([[graft.streaming.MapStateRevenue]]);
    * a per-key timer armed just past the key's LAST REAL EVENT
    * snapshots the whole map once the watermark (driven past every
    * real timer by one global sentinel row) passes it. Snapshots are
    * tagged with the timer's expiry time (strictly increasing per key
    * across firings) and the judged frame keeps the LATEST snapshot
    * per (user, day) — complete however the source sliced the topic
    * (q349's robustness contract, for hand-rolled state). Revenue
    * rides exact integer cents; user×day grain rides the distributed
    * parquet sink. Oracle is the plain per-user-per-day SQL rollup.
    */
  def q351_mapstate_daily(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.MapStateRevenue
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("key"),
        col("ts").cast("timestamp").as("ts"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    // One GLOBAL watermark-driver sentinel (cents = -1, skipped by the
    // processor): the per-key snapshot timers sit at lastEvent+1ms,
    // and without a later event time in the topic the final watermark
    // would never pass the latest key's timer (MapStateRevenue's doc).
    val sentinel = purchases.agg(max(col("ts")).as("gmx"))
      .select(lit(-1L).as("key"),
        (col("gmx") + expr("INTERVAL 1 HOUR")).as("ts"),
        lit(-1L).as("cents"))
    val stageDir = stagedParquet(s"msr|$dir") { d =>
      purchases.unionByName(sentinel).write.mode("overwrite").parquet(d)
    }
    val stream = s.readStream.schema(purchases.schema).parquet(stageDir)
      .as[MapStateRevenue.REvent](org.apache.spark.sql.Encoders
        .product[MapStateRevenue.REvent])
      .withWatermark("ts", "0 seconds")
    val snaps = runToParquetSink(s,
      MapStateRevenue.dailyRevenue(stream).toDF(), "msr", StreamJob.RocksProvider)
    snaps.groupBy(col("key").as("user_id"), col("day"))
      .agg(max_by(col("cents"), col("tagMs")).as("c"))
      .select(col("user_id"),
        expr("date_add(DATE'1970-01-01', cast(day as int))").as("day"),
        (col("c") / 100.0).as("revenue"))
      .orderBy("user_id", "day")
  }

  /** `transformWithState` WITH INITIAL STATE, oracle-judged — the
    * warm-start surface (`StatefulProcessorWithInitialState`): the
    * operational move every stateful migration needs, bootstrapping a
    * NEW streaming job from a historical BATCH aggregate instead of
    * replaying the full topic. Purchases split at the time midpoint:
    * the older half is pre-aggregated to per-user (day → cents) maps
    * + last-event times and seeded as initial state (the engine calls
    * handleInitialState once per key before any input); the newer
    * half streams on top through q351's processor semantics. Seeded
    * keys arm their snapshot timer from the seed's last HISTORICAL
    * event, so history-only users still emit. The judged frame (latest
    * snapshot per user×day) must equal the FULL-corpus rollup — a lost
    * seed, a double-applied seed, or a timer that never fired all
    * break the hash. Same oracle as q351.
    */
  def q353_initial_state(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.MapStateRevenue
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("key"),
        col("ts").cast("timestamp").as("ts"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    // Deterministic midpoint cut (1-row driver read — the bounded
    // envelope pattern): history seeds the state, the rest streams.
    val cutUs = purchases
      .agg(expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2"))
      .head().getLong(0)
    val hist = purchases.filter(expr(s"unix_micros(ts) < ${cutUs}L"))
    val live = purchases.filter(expr(s"unix_micros(ts) >= ${cutUs}L"))
    val init = hist
      .select(col("key"), expr("unix_micros(ts)").as("us"),
        expr("unix_micros(ts) div 86400000000").as("day"), col("cents"))
      .groupBy("key", "day").agg(sum("cents").as("c"), max("us").as("mu"))
      .groupBy("key").agg(max("mu").as("lastUs"),
        map_from_entries(collect_list(struct(col("day"), col("c")))).as("days"))
      .select("key", "lastUs", "days")
      .as[MapStateRevenue.UserInit](org.apache.spark.sql.Encoders
        .product[MapStateRevenue.UserInit])
    val sentinel = purchases.agg(max(col("ts")).as("gmx"))
      .select(lit(-1L).as("key"),
        (col("gmx") + expr("INTERVAL 1 HOUR")).as("ts"),
        lit(-1L).as("cents"))
    val stageDir = stagedParquet(s"ini|$dir") { d =>
      live.unionByName(sentinel).write.mode("overwrite").parquet(d)
    }
    val stream = s.readStream.schema(live.schema).parquet(stageDir)
      .as[MapStateRevenue.REvent](org.apache.spark.sql.Encoders
        .product[MapStateRevenue.REvent])
      .withWatermark("ts", "0 seconds")
    val snaps = runToParquetSink(s,
      MapStateRevenue.dailyRevenueWithInit(stream, init).toDF(), "ini",
      StreamJob.RocksProvider)
    snaps.groupBy(col("key").as("user_id"), col("day"))
      .agg(max_by(col("cents"), col("tagMs")).as("c"))
      .select(col("user_id"),
        expr("date_add(DATE'1970-01-01', cast(day as int))").as("day"),
        (col("c") / 100.0).as("revenue"))
      .orderBy("user_id", "day")
  }

  /** ListState through `transformWithState`, oracle-judged — the trio
    * closer (ValueState q324, MapState q351, ListState here) with an
    * aggregate that genuinely NEEDS the full per-key history: the
    * exact per-user purchase MEDIAN
    * ([[graft.streaming.ListStateMedian]]). Purchases append integer
    * cents to per-user ListState; at snapshot (q351's timer + tag
    * discipline, same global watermark sentinel) the LOWER median —
    * the actual data value at integer rank ⌊(n−1)/2⌋+1, q99's
    * rounding-free rule — emits with the count. Latest snapshot per
    * user judged; user-grain output rides the distributed parquet
    * sink. Oracle: the same integer-rank median in SQL. This query
    * runs the UNBOUNDED exact dial; the processor's own 100 TB guard
    * (the `maxKept` level-sampling cap — ListStateMedian's class doc)
    * is pinned by Round13OpsSpec on an engineered hot key.
    */
  def q352_liststate_median(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ListStateMedian
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("key"),
        col("ts").cast("timestamp").as("ts"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val sentinel = purchases.agg(max(col("ts")).as("gmx"))
      .select(lit(-1L).as("key"),
        (col("gmx") + expr("INTERVAL 1 HOUR")).as("ts"),
        lit(-1L).as("cents"))
    val stageDir = stagedParquet(s"lsm|$dir") { d =>
      purchases.unionByName(sentinel).write.mode("overwrite").parquet(d)
    }
    val stream = s.readStream.schema(purchases.schema).parquet(stageDir)
      .as[ListStateMedian.MEvent](org.apache.spark.sql.Encoders
        .product[ListStateMedian.MEvent])
      .withWatermark("ts", "0 seconds")
    val snaps = runToParquetSink(s,
      ListStateMedian.medians(stream).toDF(), "lsm", StreamJob.RocksProvider)
    snaps.groupBy(col("key").as("user_id"))
      .agg(max_by(struct(col("n"), col("medianCents")), col("tagMs")).as("m"))
      .select(col("user_id"), col("m.n").as("n_purchases"),
        (col("m.medianCents") / 100.0).as("median_value"))
      .orderBy("user_id")
  }

  /** Stream-stream RIGHT OUTER interval join — q328's mirror, keeping
    * the PURCHASE side: every purchase emits, null-extended once the
    * click watermark proves no click within the preceding 30 minutes
    * can still arrive — the "organic vs attributed revenue" split.
    * Exercises the opposite state store's eviction path from q328
    * (unmatched PURCHASES flush, not clicks); same co-partitioned
    * equi-key + interval residual, dual sentinels drive the drain.
    * The organic-revenue sum rides exact integer cents (q156's rule:
    * the matched subset makes partial-sum order engine-visible at a
    * 2-dp round). Purchase-grain output on the distributed parquet
    * sink; day-grain rollup after.
    */
  def q350_stream_right_outer(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    runToParquetSink(s, cs.join(ps, sojCondition, "right_outer"), "sro")
      .filter(col("p_user") >= 0)
      .groupBy(date_trunc("day", col("pts")).as("day"))
      .agg(count(col("cts")).as("n_attributed"),
        count(when(col("cts").isNull, lit(1))).as("n_organic"),
        (sum(when(col("cts").isNull,
          expr("cast(round(value * 100, 0) as bigint)")).otherwise(lit(0L)))
          / 100.0).as("organic_value"))
      .orderBy("day")
  }

  /** Stream-stream LEFT SEMI interval join — the conversion-detection
    * rung that completes the judged stream-join matrix (INNER
    * q213/q333, LEFT OUTER q328, FULL OUTER q340, SEMI here): each
    * click emits AT MOST ONCE, exactly when some purchase by the same
    * user lands within [cts, cts+30min) — the "did this click
    * convert" primitive, without the row-multiplication an inner join
    * pays when one click matches several purchases. Same equi-key +
    * interval-residual state shape as q328 (co-partitioned on
    * user_id, watermark-evicted, never a cross product); the dual
    * sentinels drive the final watermark so unmatched click state
    * drains without emitting. Click-grain output rides the
    * distributed parquet sink; the post-drain rollup is
    * campaign-grain. Oracle: the EXISTS form in DuckDB.
    */
  def q348_stream_semi_join(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    runToParquetSink(s, cs.join(ps, sojCondition, "left_semi"), "ssj")
      .filter(col("user_id") >= 0)
      .groupBy(coalesce(col("campaign"), lit(-1L)).as("campaign"))
      .agg(count(lit(1)).as("n_converted"))
      .orderBy("campaign")
  }

  /** The Spark-4 STATE-STORE READER surface, oracle-judged — the ops
    * door into a streaming query's checkpointed state (`spark.read
    * .format("statestore")`), which is how a production pipeline
    * debugs "what does the agg hold right now" without stopping the
    * query. q327's complete-mode nation-revenue aggregation is drained
    * through a NOOP sink (state is written by the stateful operator,
    * not the sink), then the FINAL STATE SNAPSHOT is read back from
    * the checkpoint as a batch frame — key struct (n_name), value
    * struct (the agg buffer: count + raw sum) — and projected to the
    * same three-table SQL oracle q327 answers from the sink side. A
    * state codec bug, a lost store partition, or a buffer-schema
    * mangle breaks the hash. Scale shape: the reader scans state
    * partition-parallel (one task per store partition, no driver
    * collect), and the judged state itself is nation-grain bounded.
    */
  def q347_state_reader(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select("o_custkey", "o_totalprice")
    val stageDir = stagedParquet(s"ss|$dir") { d =>
      orders.write.mode("overwrite").parquet(d)
    }
    val dim = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val ckpt = StreamJob.drain(s, "stread") {
      s.readStream.schema(orders.schema).parquet(stageDir)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .writeStream.format("noop").outputMode("complete")
    }
    // The agg buffer holds (count, RAW sum) — round() is an output
    // projection, not buffer state — so the round happens here.
    s.read.format("statestore").option("path", ckpt).load()
      .select(col("key.n_name").as("n_name"),
        col("value.count").as("n_orders"),
        round(col("value.sum"), 2).as("revenue"))
      .orderBy("n_name")
  }

  /** The state-store CHANGE FEED surface (q347's snapshot twin): the
    * same nation-revenue aggregation is drained across SEVERAL
    * micro-batches (`maxFilesPerTrigger` splits the staged topic), so
    * the checkpoint accumulates one state UPDATE per touched key per
    * batch; `readChangeFeed` replays that history — (batch_id,
    * change_type, key, value) — and the judged frame is the LATEST
    * change per key, which must equal the batch aggregate regardless
    * of how the file source happened to slice the topic. This is the
    * CDC-shaped audit ("what did the agg state look like as it
    * evolved") a production pipeline replays after an incident; the
    * latest-per-key reduction runs on the feed's own grain (keys ×
    * batches, bounded by nation × micro-batch count), never the fact
    * table.
    */
  def q349_state_changefeed(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select("o_custkey", "o_totalprice")
    val stageDir = stagedParquet(s"ss|$dir") { d =>
      orders.write.mode("overwrite").parquet(d)
    }
    val dim = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val ckpt = StreamJob.drain(s, "stcf") {
      s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 8) // force a multi-batch history
        .parquet(stageDir)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .writeStream.format("noop").outputMode("complete")
    }
    val feed = s.read.format("statestore")
      .option("path", ckpt)
      .option("readChangeFeed", "true")
      .option("changeStartBatchId", 0)
      .load()
      .select(col("batch_id"), col("key.n_name").as("n_name"),
        col("value.count").as("n_orders"),
        round(col("value.sum"), 2).as("revenue"))
    val latest = feed.groupBy("n_name").agg(max("batch_id").as("batch_id"))
    feed.join(latest, Seq("n_name", "batch_id"))
      .select("n_name", "n_orders", "revenue")
      .orderBy("n_name")
  }

  /** Stream-static LEFT ANTI incremental dedup, ORACLE-JUDGED (it was
    * spec-only on MemoryStreams): the arriving increment — the final
    * 7 days of events (cutoff = exact max(ts) − 7d, engine-stable),
    * salted with a replay of 500 ALREADY-INGESTED rows to give the
    * anti-join something real to drop — streams from a staged topic
    * and anti-joins the static corpus (everything before the cutoff)
    * on event_id. This is the streaming
    * analogue of q45's incremental dedup and the state-free cousin of
    * BloomDedup: the static side broadcasts per micro-batch (at
    * corpus scale: a bloom/bucketed variant — q80's route), the
    * stream side never shuffles for the join and carries NO state, so
    * there is no watermark to manage at all. Fresh rows land in the
    * distributed file sink; the judged frame is the per-type arrival
    * report, which must count exactly the truly-new rows (replays
    * dropped) — the batch anti-join oracle.
    */
  def q341_stream_anti_dedup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("c"))
    val evC = ev.crossJoin(broadcast(cutoff))
    val corpus = evC.filter(col("ts") < col("c"))
      .select("event_id", "user_id", "event_type", "value")
    val increment = evC.filter(col("ts") >= col("c"))
      .unionByName(evC.filter(col("ts") < col("c") && col("event_id") % 97 === 0)
        .limit(500))
      .select("event_id", "user_id", "event_type", "value")
    val incSchema = increment.schema
    val stageDir = stagedParquet(s"sad|$dir") { d =>
      increment.write.mode("overwrite").parquet(d)
    }
    val fresh = s.readStream.schema(incSchema).parquet(stageDir)
      .join(broadcast(corpus.select("event_id")), Seq("event_id"), "left_anti")
    runToParquetSink(s, fresh, "sad")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_new"),
        round(sum("value"), 2).as("new_value"))
      .orderBy("event_type")
  }

  /** CHAINED stateful streaming — stream-stream interval join feeding
    * a windowed aggregation in ONE streaming query (the multi-stateful
    * pipeline Spark allowed from 3.4: per-operator watermark
    * propagation lets the join's append output be re-keyed into a
    * 1-day tumbling event-time window downstream). Clicks⋈purchases
    * within [cts, cts+30m) as in q328, then revenue per (day,
    * campaign) with day = the purchase's tumbling window. In Append
    * mode a window only emits once the watermark passes its END;
    * [[sojStreams]]' +50h sentinels push the final watermark past even
    * the last partial day, so AvailableNow drains every real window —
    * and the sentinels themselves never join (distinct negative
    * user_ids), so they influence time, never data. Hash-matched
    * against the batch join + date_trunc oracle. State is join-bounded
    * by the interval and agg-bounded by open windows — both
    * watermark-evicted, both co-partitioned on their keys.
    *
    * GRAIN CONTRACT (StreamSinkGateSpec): the output keys on (day,
    * campaign). `campaign` is parsed from the click's JSON props, but
    * it is a MARKETING-DIMENSION key — tens to low-thousands of live
    * campaigns at any corpus size — not a fact-grain value; combined
    * with the calendar-bounded day, open-window state and the
    * driver-side memory table stay bounded. If campaign were ever
    * fact-grain (e.g. a per-click id), this query would have to move
    * to runToParquetSink like q328/q345.
    */
  def q333_stream_join_window(s: SparkSession, dir: String): DataFrame = {
    val (cs, ps) = sojStreams(s, dir)
    val n = Queries.twsRuns.incrementAndGet()
    val table = s"graft_sjw_$n"
    val joined = cs.join(ps, sojCondition)
    StreamJob.drain(s, "sjw") {
      joined
        .groupBy(window(col("pts"), "1 day").as("w"),
          coalesce(col("campaign"), lit(-1L)).as("campaign"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum("value"), 2).as("total_value"))
        .select(col("w.start").as("day"), col("campaign"),
          col("n_pairs"), col("total_value"))
        .writeStream.format("memory").queryName(table).outputMode("append")
    }
    s.table(table).orderBy("day", "campaign")
  }

  private[graft] def streamingAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q39_sessions_stateful" -> (q39_sessions_stateful _),
    "q213_stream_stream_join" -> (q213_stream_stream_join _),
    "q283_watermark_impact" -> (q283_watermark_impact _),
    "q324_sessions_tws_stream" -> (q324_sessions_tws_stream _),
    "q327_stream_static_enrich" -> (q327_stream_static_enrich _),
    "q328_stream_outer_join" -> (q328_stream_outer_join _),
    "q333_stream_join_window" -> (q333_stream_join_window _),
    "q340_stream_full_join" -> (q340_stream_full_join _),
    "q341_stream_anti_dedup" -> (q341_stream_anti_dedup _),
    "q343_stream_union_sources" -> (q343_stream_union_sources _),
    "q344_stream_dedup_window" -> (q344_stream_dedup_window _),
    "q345_session_window_stream" -> (q345_session_window_stream _),
    "q347_state_reader" -> (q347_state_reader _),
    "q348_stream_semi_join" -> (q348_stream_semi_join _),
    "q349_state_changefeed" -> (q349_state_changefeed _),
    "q350_stream_right_outer" -> (q350_stream_right_outer _),
    "q351_mapstate_daily" -> (q351_mapstate_daily _),
    "q352_liststate_median" -> (q352_liststate_median _),
    "q353_initial_state" -> (q353_initial_state _),
  )

  private[graft] def streamingOracle: Map[String, String] = Map(
    "q39_sessions_stateful" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '6 hours' THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
        |  round(sum(value), 2) AS total
        |FROM y GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "q213_stream_stream_join" ->
      """WITH c AS (SELECT user_id, json_extract(props, '$.k')::BIGINT AS campaign,
        |             ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT campaign, count(*)::BIGINT AS n_pairs,
        |  round(sum(value), 2) AS total_value
        |FROM c JOIN p USING (user_id)
        |WHERE pts >= cts AND pts < cts + INTERVAL 30 MINUTE
        |GROUP BY campaign ORDER BY campaign""".stripMargin,
    "q283_watermark_impact" ->
      """WITH base AS (SELECT ts::DATE AS day, event_id, event_type, value,
        |    epoch_us(ts) AS us FROM events),
        |late AS (SELECT *,
        |    (max(us) OVER (PARTITION BY day ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us) // 1000000
        |      AS late_sec FROM base),
        |wms AS (SELECT unnest([0, 60, 600, 3600])::BIGINT AS wm_sec)
        |SELECT wm_sec, count(*)::BIGINT AS n_events,
        |  sum(CASE WHEN late_sec > wm_sec THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
        |  round(sum(CASE WHEN late_sec > wm_sec THEN 1 ELSE 0 END) /
        |    count(*)::DOUBLE, 6) AS drop_share,
        |  round(sum(CASE WHEN late_sec > wm_sec AND event_type = 'purchase'
        |    THEN value ELSE 0.0 END), 2) AS revenue_dropped
        |FROM late, wms GROUP BY wm_sec ORDER BY wm_sec""".stripMargin,
    "q324_sessions_tws_stream" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '6 hours' THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
        |  round(sum(value), 2) AS total
        |FROM y GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "q327_stream_static_enrich" ->
      """SELECT n_name, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q328_stream_outer_join" ->
      """WITH c AS (SELECT user_id, json_extract(props, '$.k')::BIGINT AS campaign,
        |             ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT coalesce(campaign, -1) AS campaign,
        |  count(pts)::BIGINT AS n_pairs,
        |  count(CASE WHEN pts IS NULL THEN 1 END)::BIGINT AS n_unmatched,
        |  round(sum(coalesce(value, 0)), 2) AS total_value
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q333_stream_join_window" ->
      """WITH c AS (SELECT user_id, json_extract(props, '$.k')::BIGINT AS campaign,
        |             ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT date_trunc('day', pts) AS day,
        |  coalesce(campaign, -1) AS campaign,
        |  count(*)::BIGINT AS n_pairs,
        |  round(sum(value), 2) AS total_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q340_stream_full_join" ->
      """WITH c AS (SELECT user_id, ts AS cts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS pts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT
        |  count(CASE WHEN c.user_id IS NOT NULL AND p.p_user IS NOT NULL
        |             THEN 1 END)::BIGINT AS n_pairs,
        |  count(CASE WHEN p.p_user IS NULL THEN 1 END)::BIGINT AS n_click_only,
        |  count(CASE WHEN c.user_id IS NULL THEN 1 END)::BIGINT AS n_purchase_only,
        |  round(sum(CASE WHEN c.user_id IS NOT NULL AND p.p_user IS NOT NULL
        |                 THEN value ELSE 0 END), 2) AS matched_value
        |FROM c FULL JOIN p ON c.user_id = p.p_user
        |  AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE""".stripMargin,
    "q341_stream_anti_dedup" ->
      """WITH c AS (SELECT max(ts) - INTERVAL 7 DAY AS c FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_new,
        |  round(sum(value), 2) AS new_value
        |FROM events, c WHERE ts >= c.c
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q343_stream_union_sources" ->
      """WITH u AS (
        |  SELECT ts, 'click' AS kind FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT ts, 'purchase' AS kind FROM events
        |  WHERE event_type = 'purchase')
        |SELECT date_trunc('day', ts) AS day, kind,
        |  count(*)::BIGINT AS n_events
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q344_stream_dedup_window" ->
      """SELECT date_trunc('day', ts) AS day,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q345_session_window_stream" ->
      """WITH p AS (
        |  SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '6 hours' THEN 1
        |         ELSE 0 END AS brk
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS s_start, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS total
        |FROM y GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    "q353_initial_state" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(round("value" * 100, 0) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS revenue
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q352_liststate_median" ->
      """WITH p AS (
        |  SELECT user_id, CAST(round("value" * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM p)
        |SELECT user_id, max(n)::BIGINT AS n_purchases,
        |  max(CASE WHEN rn = (n - 1) // 2 + 1 THEN cents END) / 100.0
        |    AS median_value
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q351_mapstate_daily" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(round("value" * 100, 0) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS revenue
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q350_stream_right_outer" ->
      """WITH c AS (SELECT user_id, ts AS cts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, "value" FROM events
        |      WHERE event_type = 'purchase')
        |SELECT date_trunc('day', p.pts) AS day,
        |  count(cts)::BIGINT AS n_attributed,
        |  count(CASE WHEN cts IS NULL THEN 1 END)::BIGINT AS n_organic,
        |  sum(CASE WHEN cts IS NULL
        |        THEN CAST(round("value" * 100, 0) AS BIGINT)
        |        ELSE 0 END) / 100.0 AS organic_value
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q348_stream_semi_join" ->
      """WITH c AS (SELECT user_id, json_extract(props, '$.k')::BIGINT AS campaign,
        |             ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT coalesce(campaign, -1) AS campaign,
        |  count(*)::BIGINT AS n_converted
        |FROM c WHERE EXISTS (
        |  SELECT 1 FROM p WHERE p.user_id = c.user_id
        |    AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q349_state_changefeed" ->
      """SELECT n_name, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q347_state_reader" ->
      """SELECT n_name, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
  )
}
