package graft.queries

import graft.QueryPack
import graft.streaming.{BoundedOver, Cep, Ev, StatefulOps, StreamOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Streaming operators (SURVEY.md §2.9 / M2-M3), each executed through a
 * REAL Structured Streaming query (file source → event-time transforms
 * → memory sink, Trigger.AvailableNow) and then compared against the
 * batch DuckDB oracle — the streaming/batch-equivalence testing pattern
 * of the reference's ITCases (`runtime/stream/sql/`).
 *
 * Coverage → reference exec nodes:
 *  - tumble/hop/session window agg → `StreamExecWindowAggregate.java:74`
 *  - stream-stream interval join   → `StreamExecIntervalJoin.java:67`
 *  - keep-last deduplication       → `StreamExecDeduplicate.java:70`
 *  - streaming Top-N               → `StreamExecRank.java:73`
 *  - streaming OVER (running agg)  → `StreamExecOverAggregate.java:82`
 *  - CEP / MATCH_RECOGNIZE subset  → `StreamExecMatch.java:90` / `nfa/NFA.java:86`
 *
 * Scale notes: all state lives in the streaming state store (per-key
 * O(1) or pattern-horizon-bounded); aggregations shuffle once on
 * (window, key); the interval join is a keyed stream-stream join whose
 * state is bounded by the join's time range + watermark. The memory
 * sink is only the test harness — any DSv2 streaming sink swaps in.
 */
/** Connected-streams co-process legs (two DISTINCT element types, the
 * reference ConnectedStreams contract) and its enriched output. */
case class ClickIn(user_id: Long, event_id: Long, ts_us: Long, cents: Long)
case class ActIn(user_id: Long, event_id: Long, ts_us: Long)
case class CoEnriched(user_id: Long, event_id: Long,
  n_clicks_before: Long, click_cents_before: Long)

/** Pane-scoped row for the streaming window rank: pk is the composite
 * (window start, type) state key the bounded Top-N op shards on. */
case class PaneEv(pk: String, ws_us: Long, event_type: String,
    event_id: Long, value: Double)

object StreamQueries extends QueryPack {

  private val TenMinUs = 10L * 60 * 1000 * 1000

  /** Shared scaffold of the outer interval-join gates: sentinel-staged
   * clicks ⋈ purchases in the 10-minute window. Catalyst pushes the
   * type filters BELOW the watermark node, so sentinel rows must
   * SURVIVE the filters (event_id < 0 branch) to advance each side's
   * observed event time past all real data — they only ever join each
   * other and are dropped by the caller's post-filter. Two GLOBAL
   * sentinel rounds suffice (join operators scan state every batch;
   * null-extensions emit one advance after eviction). */
  private def sentinelIntervalJoin(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val ev = StreamOps.eventsTypedWithFinalWatermark(s, dir, rounds = 2).toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
    val clicks = ev.filter(col("event_type") === "click" || col("event_id") < 0)
      .select(col("user_id").as("cu"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val buys = ev.filter(col("event_type") === "purchase" || col("event_id") < 0)
      .select(col("user_id").as("bu"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
    clicks.join(buys,
      col("cu") === col("bu") &&
      col("buy_ts") >= col("click_ts") &&
      col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
      joinType)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming TUMBLE window aggregation (complete mode).
    "stream_tumble_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
        .select(col("w.start").as("ws"), col("w.end").as("we"),
                col("event_type"), col("n"), col("sum_value"))
      StreamOps.runToBatch(s, agg, "complete", "stream_tumble")
        .orderBy(col("ws"), col("event_type"))
    }),

    // Non-keyed window aggregation (reference DataStream.windowAll /
    // AllWindowedStream): one tumbling window stream over ALL records.
    // The reference runs this single-task; Spark still parallelizes
    // the partial aggregation and only the per-window finals meet.
    "stream_windowall_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
        .select(col("w.start").as("ws"), col("n"), col("sum_value"))
      StreamOps.runToBatch(s, agg, "complete", "stream_winall")
        .orderBy(col("ws"))
    }),

    // Stream UNION (reference DataStream.union): two filtered event
    // streams merge by name before a shared windowed aggregation.
    "stream_union_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val ev = StreamOps.readStream(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
      val buys = ev.filter(col("event_type") === "purchase")
      val agg = clicks.unionByName(buys)
        .groupBy(window(col("ts"), "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
      StreamOps.runToBatch(s, agg, "complete", "stream_union")
        .orderBy(col("ws"), col("event_type"))
    }),

    // Streaming HOP (sliding) window aggregation.
    "stream_hop_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
        .select(col("w.start").as("ws"), col("w.end").as("we"), col("n"), col("sum_value"))
      StreamOps.runToBatch(s, agg, "complete", "stream_hop")
        .orderBy(col("ws"))
    }),

    // STREAMING sliced hop (the reference's slice-shared window
    // aggregation — SliceAssigners.hopping under
    // StreamExecWindowAggregate): stage 1 aggregates each row's ONE
    // 10-minute slice; stage 2 hops over the already-aggregated slice
    // frame (window_time() carries the event-time attribute across the
    // stages, Spark's chained-stateful-operator support). The per-key
    // hop state fans out slices, not raw rows — at a 1h/5min hop that
    // is 12× less state-store traffic. Same oracle shape as
    // stream_hop_agg.
    "stream_hop_sliced" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val sliced = StreamOps.eventsTypedWithFinalWatermark(s, dir, rounds = 2).toDF()
        .select(expr("timestamp_micros(ts_us)").as("ts"), col("value"))
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("pn"),
          sum(floor(col("value") * 100).cast("long")).as("ps"))
      val hop = sliced
        .groupBy(window(window_time(col("w")), "30 minutes", "10 minutes").as("hw"))
        .agg(sum(col("pn")).cast("long").as("n"),
          sum(col("ps")).cast("long").as("sum_value"))
        .select(col("hw.start").as("ws"), col("hw.end").as("we"),
          col("n"), col("sum_value"))
      StreamOps.runToBatch(s, hop, "append", "stream_slicehop")
        // the global sentinels aggregate into their own far-future
        // windows; everything real is decades earlier
        .filter(col("ws") < lit("2100-01-01").cast("timestamp"))
        .select(expr("cast(ws as timestamp_ntz)").as("ws"),
          expr("cast(we as timestamp_ntz)").as("we"),
          col("n"), col("sum_value"))
        .orderBy(col("ws"))
    }),

    // Streaming SESSION window aggregation (30-min gap per user).
    "stream_session_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
        .select(col("user_id"), col("w.start").as("ws"), col("w.end").as("we"),
                col("n"), col("sum_value"))
      StreamOps.runToBatch(s, agg, "complete", "stream_session")
        .orderBy(col("user_id"), col("ws"))
    }),

    // Streaming CUMULATE aggregation: the slice-explode rewrite is
    // stateless map-side fan-out, so it composes with the streaming
    // windowed agg unchanged (reference StreamExecWindowTableFunction
    // slicing on a stream).
    "stream_cumulate_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = graft.operators.CumulateWindow(
          StreamOps.readStream(s, dir, "events"), "ts", stepMinutes = 20, sizeMinutes = 60)
        .groupBy(col("w_start"), col("w_end"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
        .select(col("w_start").as("ws"), col("w_end").as("we"),
                col("n"), col("sum_value"))
      StreamOps.runToBatch(s, agg, "complete", "stream_cumulate")
        .orderBy(col("ws"), col("we"))
    }),

    // Streaming CUMULATE from SQL TEXT: the TVF desugar is a stateless
    // text rewrite onto the slice-explode formulation, so the same
    // query text a reference user writes drives the streaming windowed
    // agg (StreamExecWindowTableFunction on a stream). Hash-identical
    // to stream_cumulate_agg.
    "stream_cumulate_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      StreamOps.readStream(s, dir, "events")
        .createOrReplaceTempView("events_stream")
      val agg = graft.sqlx.WindowTvfSql.sql(s, """
        SELECT window_start AS ws, window_end AS we,
               count(*) AS n, sum(floor(value * 100)) AS sum_value
        FROM TABLE(CUMULATE(TABLE events_stream, DESCRIPTOR(ts), INTERVAL '20' MINUTE, INTERVAL '60' MINUTE))
        GROUP BY window_start, window_end""")
      StreamOps.runToBatch(s, agg, "complete", "stream_cumulate_sql")
        .orderBy(col("ws"), col("we"))
    }),

    // Streaming LEGACY group-window SQL: `GROUP BY TUMBLE(ts, INTERVAL
    // …)` + TUMBLE_START/_END text through the unified SQL door over a
    // real stream — the desugar is a pure text rewrite onto window(),
    // so the streaming windowed agg is byte-identical to
    // stream_tumble_agg (shared oracle enforces it).
    "stream_tumble_legacy_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      StreamOps.readStream(s, dir, "events")
        .createOrReplaceTempView("events_stream_legacy")
      val agg = new graft.api.TableEnv(s).sqlQuery("""
        SELECT TUMBLE_START(ts, INTERVAL '15' MINUTE) AS ws,
               TUMBLE_END(ts, INTERVAL '15' MINUTE) AS we,
               event_type, count(*) AS n, sum(floor(value * 100)) AS sum_value
        FROM events_stream_legacy
        GROUP BY TUMBLE(ts, INTERVAL '15' MINUTE), event_type""")
      StreamOps.runToBatch(s, agg, "complete", "stream_tumble_legacy")
        .orderBy(col("ws"), col("event_type"))
    }),

    // MULTI-SINK subplan reuse (reference
    // StreamCommonSubGraphBasedOptimizer statement sets): ONE streaming
    // query computes the shared filtered/enriched prefix once per
    // micro-batch and fans it out to TWO sinks via foreachBatch; the
    // gate result is the tagged union of both sinks' aggregates, so
    // both fan-out legs are oracle-checked.
    "multi_sink_fanout" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val outA = StreamOps.scratchDir("graft_msink_a").toString
      val outB = StreamOps.scratchDir("graft_msink_b").toString
      val shared = StreamOps.readStream(s, dir, "events")
        .filter(col("value") >= 0.1)
        .select(col("event_type"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      val q = shared.writeStream
        .foreachBatch(graft.streaming.MultiSink.foreachBatchFanout(Seq(
          (df, _) => df.select(col("event_type"), col("cents"))
            .write.mode("append").parquet(outA),
          (df, _) => df.select(col("user_id"), col("cents"))
            .write.mode("append").parquet(outB))) _)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val a = s.read.parquet(outA).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(lit("by_type").as("sink"), col("event_type").as("k"),
          col("n"), col("cents"))
      val b = s.read.parquet(outB).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(lit("by_user").as("sink"), col("user_id").cast("string").as("k"),
          col("n"), col("cents"))
      a.unionByName(b).orderBy(col("sink"), col("k"))
    }),

    // Streaming group aggregation in UPDATE mode (reference
    // StreamExecGroupAggregate's per-key update stream): the sink holds
    // every per-batch update; the final image is the max-count row per
    // key (counts grow monotonically) — the upsert materialization.
    // State bootstrap (reference flink-state-processing-api
    // OperatorTransformation.bootstrapWith + WritableSavepoint): per-user
    // historical totals from the ORDERS batch table seed keyed state,
    // then the event stream folds on top. The sink holds per-batch
    // updates; the final image per key is the max-n row (n grows
    // monotonically from the seeded base). Oracle: orders totals +
    // events totals for every user that appears in the stream.
    "state_bootstrap_agg" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s.implicits._
      val initial = graft.Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .as[graft.streaming.BootTotal]
      val stream = StreamOps.eventsTyped(s, dir)
      val updates = StreamOps.runToBatch(s,
        graft.streaming.BootstrapOps.totalsWithBootstrap(stream, initial).toDF(),
        "update", "state_bootstrap")
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
      updates.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n"), col("cents"))
        .orderBy(col("user_id"))
    }),

    "stream_group_agg_update" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
      val updates = StreamOps.runToBatch(s, agg, "update", "stream_groupagg")
      val w = Window.partitionBy(col("event_type")).orderBy(col("n").desc)
      updates.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Stream-stream interval join: purchases within 10 minutes after a
    // click, same user; watermarks bound the join state on both sides.
    "stream_interval_join" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      // watermarks require TIMESTAMP (not NTZ); session tz is UTC so the
      // cast is instant-preserving
      val ev = StreamOps.readStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"), col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")
      val joined = clicks.join(buys,
          col("cu") === col("bu") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("buy_id"), col("cu").as("user_id"))
      StreamOps.runToBatch(s, joined, "append", "stream_ijoin")
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // Streaming window join (reference StreamExecWindowJoin): both
    // sides bucketed into the same 30-min tumbling pane, equi-join on
    // (window, user). Unlike the interval join's per-row time-range
    // state, pane state is dropped wholesale once the watermark passes
    // the window end — the state bound is panes-in-flight × keys.
    // Hash-identical to the batch win_window_join gate.
    "stream_window_join" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val ev = StreamOps.readStream(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
      val clicks = ev.filter(col("event_type") === "click")
        .withWatermark("ts", "1 hour")
        .select(window(col("ts"), "30 minutes").as("cw"),
          col("user_id").as("cu"), col("event_id").as("click_id"))
      val buys = ev.filter(col("event_type") === "purchase")
        .withWatermark("ts", "1 hour")
        .select(window(col("ts"), "30 minutes").as("bw"),
          col("user_id").as("bu"), col("event_id").as("buy_id"))
      val joined = clicks
        .join(buys, col("cw") === col("bw") && col("cu") === col("bu"))
        .select(col("cw.start").as("ws"), col("cu").as("user_id"),
          col("click_id"), col("buy_id"))
      StreamOps.runToBatch(s, joined, "append", "stream_wjoin")
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // Streaming window join — FULL OUTER (reference
    // StreamExecWindowJoin's outer forms): pane equality is the time
    // constraint Spark's stream-stream outer join needs, and a pane
    // with activity on one side only null-extends when the watermark
    // closes it (sentinel harness, rounds = 2 — null-extensions emit
    // one watermark advance after eviction). Sentinel rows only ever
    // join each other and are dropped by the negative-id post-filter.
    "stream_window_join_outer" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val ev = StreamOps.eventsTypedWithFinalWatermark(s, dir, rounds = 2).toDF()
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val clicks = ev.filter(col("event_type") === "click" || col("event_id") < 0)
        .withWatermark("ts", "0 seconds")
        .select(window(col("ts"), "30 minutes").as("cw"),
          col("user_id").as("cu"), col("event_id").as("click_id"))
      val buys = ev.filter(col("event_type") === "purchase" || col("event_id") < 0)
        .withWatermark("ts", "0 seconds")
        .select(window(col("ts"), "30 minutes").as("bw"),
          col("user_id").as("bu"), col("event_id").as("buy_id"))
      val joined = clicks
        .join(buys, col("cw") === col("bw") && col("cu") === col("bu"), "full_outer")
        .select(coalesce(col("cw.start"), col("bw.start")).as("ws"),
          coalesce(col("cu"), col("bu")).as("user_id"),
          col("click_id"), col("buy_id"))
      StreamOps.runToBatch(s, joined, "append", "stream_wjoin_outer")
        .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
          coalesce(col("buy_id"), lit(0L)) >= 0)
        .orderBy(col("ws"), col("user_id"), col("click_id"), col("buy_id"))
    }),

    // Streaming windowed coGroup (reference DataStream
    // `CoGroupedStreams.java:81` — `a.coGroup(b).where(…).equalTo(…)
    // .window(…).apply(fn)`: the function sees BOTH groups of a
    // key-pane, either possibly empty — unlike a join, one-sided keys
    // still produce output). Spark-first as the repo's two-input
    // emulation: both sides union-tagged into ONE windowed aggregation
    // whose per-side conditional aggregates are the apply() over
    // (leftGroup, rightGroup) — a single shuffle, per-pane state one
    // row, map-side partials intact (vs. the join-based alternative's
    // two stateful operators).
    "stream_window_cogroup" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val ev = StreamOps.readStream(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
      val agg = ev
        .groupBy(window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_buys"),
          sum(when(col("event_type") === "click", floor(col("value") * 100))
            .otherwise(0L)).as("click_cents"),
          sum(when(col("event_type") === "purchase", floor(col("value") * 100))
            .otherwise(0L)).as("buy_cents"))
        .select(col("w.start").as("ws"), col("user_id"),
          col("n_clicks"), col("n_buys"), col("click_cents"), col("buy_cents"))
      StreamOps.runToBatch(s, agg, "complete", "stream_wcogroup")
        .orderBy(col("ws"), col("user_id"))
    }),

    // Streaming window deduplication (reference
    // StreamExecWindowDeduplicate): keep-FIRST row per (30-min pane,
    // user), expressed as a windowed min_by aggregate — partial
    // aggregation runs map-side, per-pane state is one winner row, and
    // with a watermark + append sink the pane state evicts at close
    // (the gate runs complete mode to flush final panes without the
    // sentinel harness). Hash-identical to win_window_dedup_tvf_sql.
    "stream_window_dedup" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val agg = StreamOps.readStream(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(min_by(struct(col("event_id"), col("event_type")),
          struct(col("ts"), col("event_id"))).as("first"))
        .select(col("w.start").as("ws"), col("user_id"),
          col("first.event_id").as("event_id"),
          col("first.event_type").as("event_type"))
      StreamOps.runToBatch(s, agg, "complete", "stream_wdedup")
        .orderBy(col("ws"), col("user_id"))
    }),

    // Streaming window rank (reference StreamExecWindowRank): top-2
    // per (1-hour pane, type) through the bounded Top-N state op
    // keyed by the composite pane key — state per pane is N rows, the
    // reference's AppendOnlyTopNFunction-per-window design. Update
    // stream re-ranked to the final image, as the other Top-N gates
    // do. Hash-identical to win_window_rank.
    "stream_window_rank" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val typed = StreamOps.readStream(s, dir, "events")
        .select(
          unix_micros(window(col("ts"), "1 hour").getField("start")
            .cast("timestamp")).as("ws_us"),
          col("event_type"), col("event_id"), col("value"))
        .withColumn("pk", concat_ws("|", col("ws_us"), col("event_type")))
        .select(col("pk"), col("ws_us"), col("event_type"), col("event_id"), col("value"))
        .as[PaneEv]
      val updates = StreamOps.runToBatch(s,
        StatefulOps.topNBy(typed, "pk", "value", "event_id", 2).toDF(),
        "update", "stream_wrank")
      val w = Window.partitionBy(col("ws_us"), col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      updates.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("event_type"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("ws"), col("event_type"), col("rn"))
    }),

    // Stream-stream interval LEFT OUTER join: clicks keep their row
    // even without a purchase in the window (reference IntervalJoin
    // outer emission on watermark close); null side fills once both
    // watermarks pass the join range.
    "stream_interval_join_outer" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val joined = sentinelIntervalJoin(s, dir, "left_outer")
        .select(col("click_id"), col("buy_id"), col("cu").as("user_id"))
      StreamOps.runToBatch(s, joined, "append", "stream_ijoin_outer")
        .filter(col("click_id") >= 0)
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // Stream-stream interval FULL OUTER join: unmatched rows on BOTH
    // sides null-extend once both watermarks pass the join range
    // (reference interval join full-outer emission).
    "stream_interval_join_full" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val joined = sentinelIntervalJoin(s, dir, "full_outer")
        .select(col("click_id"), col("buy_id"),
          coalesce(col("cu"), col("bu")).as("user_id"))
      StreamOps.runToBatch(s, joined, "append", "stream_ijoin_full")
        .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
          coalesce(col("buy_id"), lit(0L)) >= 0)
        .orderBy(col("click_id"), col("buy_id"))
    }),

    // JDBC UPSERT SINK (reference flink-connector-jdbc upsert sink):
    // per micro-batch, the batch's per-key winner upserts into an
    // embedded Derby table — per-partition batched delete+insert
    // transactions (sinks/JdbcUpsertSink), the reference's dialect-
    // portable upsert fallback. Two deterministic micro-batches (even
    // event_ids then odd, eventsTypedHalves), so the final table is
    // LAST-BATCH-WINS per key — the stream-order upsert contract: keys
    // with odd events hold their odd winner, the rest their even one.
    "jdbc_upsert_sink" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val db = s"${System.getProperty("java.io.tmpdir")}/graft_fmt/${dir.replaceAll("[^a-zA-Z0-9]", "_")}/derby_upsert/udb"
      val url = s"jdbc:derby:$db;create=true"
      graft.sinks.JdbcUpsertSink.resetTable(url, "USER_LATEST",
        "user_id BIGINT PRIMARY KEY, last_event_id BIGINT, ts_us BIGINT")
      val q = StreamOps.eventsTypedHalves(s, dir).toDF()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts_us").desc, col("event_id").desc)
          graft.sinks.JdbcUpsertSink.upsert(
            b.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
              .select(col("user_id"), col("event_id").as("last_event_id"),
                col("ts_us")),
            url, "USER_LATEST", Seq("user_id", "last_event_id", "ts_us"),
            "user_id")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("jdbc").option("url", url)
        .option("dbtable", "USER_LATEST")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
        .toDF("user_id", "last_event_id", "ts_us")
        .select(col("user_id").cast("long").as("user_id"),
          col("last_event_id").cast("long").as("last_event_id"),
          col("ts_us").cast("long").as("ts_us"))
        .orderBy(col("user_id"))
    }),

    // Streaming keep-LAST dedup (flatMapGroupsWithState): final winner
    // per user by (event time, id). The update stream is materialized
    // to its final upsert image by a keyed re-rank — the same
    // changelog→table materialization every upsert sink performs.
    "stream_dedup_keeplast" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val updates = StreamOps.runToBatch(
        s, graft.api.StreamEnv.get(s).fromDataset(StreamOps.eventsTyped(s, dir))
          .keyBy("user_id").keepLast("ts_us", "event_id").toDF(),
        "update", "stream_keeplast")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      updates.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          expr("cast(timestamp_micros(ts_us) as timestamp_ntz)").as("last_ts"))
        .orderBy(col("user_id"))
    }),

    // Streaming Top-3 per event_type by (value desc, id): re-rank the
    // distinct emitted candidates — the true top rows are always in the
    // update stream.
    "stream_topn" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val updates = StreamOps.runToBatch(
        s, graft.api.StreamEnv.get(s).fromDataset(StreamOps.eventsTyped(s, dir))
          .keyBy("event_type").topN("value", "event_id", n = 3).toDF(),
        "update", "stream_topn")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      updates.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // State-backend proof (reference EmbeddedRocksDBStateBackend,
    // flink-statebackend-rocksdb/.../EmbeddedRocksDBStateBackend.java:95):
    // the SAME keyed Top-N state op with the state store swapped to
    // RocksDB — at production scale the state store IS RocksDB, so the
    // provider swap is gated on a hash-identical final image (shared
    // oracle with stream_topn), not just on config plumbing.
    "state_rocksdb_topn" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val updates = StreamOps.runToBatch(
          s, graft.api.StreamEnv.get(s).fromDataset(StreamOps.eventsTyped(s, dir))
            .keyBy("event_type").topN("value", "event_id", n = 3).toDF(),
          "update", "state_rocksdb_topn")
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))
        updates.distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("event_type"), col("event_id"), col("value"), col("rn"))
          .orderBy(col("event_type"), col("rn"))
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),

    // Exactly-once RESTART proof as an ORACLE GATE (reference
    // CheckpointCoordinator.java recovery at the user-visible level;
    // the per-op kill-and-restart proofs live in RestartRecoverySpec):
    // the SAME keyed Top-N state op is fed HALF the events (even
    // event_ids), the query TERMINATES with live Top-N buffers in the
    // state store, then a fresh query restarts from the SAME
    // checkpoint with the odd half staged. The update stream
    // accumulated across both runs re-ranks to the final image, which
    // must hash-match the whole-stream batch oracle — impossible
    // unless the per-key buffers round-tripped the checkpoint.
    "state_restart_topn" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val work = StreamOps.scratchDir("graft_rst_topn_work")
      val out = StreamOps.scratchDir("graft_rst_topn_out").toString
      val ckpt = StreamOps.scratchDir("graft_rst_topn_ckpt").toString
      val batch = s.read.parquet(s"$dir/events.parquet")
      def half(par: Int) = batch.filter(col("event_id") % 2 === par)
      def runOnce(): Unit = {
        val ds = StreamOps.evView(StreamOps.readStaged(s, work, batch.schema))
        val updates = graft.api.StreamEnv.get(s).fromDataset(ds)
          .keyBy("event_type").topN("value", "event_id", n = 3).toDF()
        val q = updates.writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              b.write.mode("append").parquet(out)
          }
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      StreamOps.stage(work, half(0)); runOnce() // phase 1, then the query STOPS
      StreamOps.stage(work, half(1)); runOnce() // restart from the same checkpoint
      val updates = s.read.parquet(out)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      updates.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // Savepoint RESCALING as an ORACLE GATE (reference
    // StateAssignmentOperation.java:60 — key groups re-assigned across
    // a DIFFERENT parallelism on restore from a savepoint; the `flink
    // stop --savepointPath` → redeploy-wider workflow): the keyed
    // totals fold runs HALF the events at THREE state partitions and
    // STOPS; the checkpoint is read back as a savepoint frame
    // (state data source, streaming/Rescale.scala); a FRESH query at
    // SEVEN partitions — a layout change Structured Streaming forbids
    // on a native restart — resumes seeded with that frame and folds
    // the other half. The latest per-key total across both runs must
    // hash-match the whole-stream batch oracle, impossible unless
    // every key's (n, cents) crossed the 3→7 redistribution intact.
    // RescaleSpec pins the physical movement itself (keys provably
    // spread over more partitions after the resume).
    "state_rescale_totals" -> ((s0, dir) => {
      val out = StreamOps.scratchDir("graft_rescale_out").toString
      // both rescale gates replay the same deterministic halves —
      // staged once per driver context (input staging, never results)
      def runPhase(s: SparkSession, par: Int, ckpt: String,
          seed: org.apache.spark.sql.Dataset[graft.streaming.BootTotal]): Unit = {
        val updates = graft.streaming.Rescale.resumeTotals(
          StreamOps.eventsTypedHalf(s, dir, par), seed).toDF()
        val q = updates.writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              b.write.mode("append").parquet(out)
          }
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // transformWithState needs column families → RocksDB provider
      // (the faithful pairing anyway: the reference's savepoint story
      // is EmbeddedRocksDBStateBackend's)
      def rocks(s: SparkSession): SparkSession = {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s
      }
      val s1 = rocks(StreamOps.tuned(s0, 3))
      val ckpt1 = StreamOps.scratchDir("graft_rescale_ck1").toString
      locally {
        import s1.implicits._
        runPhase(s1, 0, ckpt1, s1.emptyDataset[graft.streaming.BootTotal])
      }
      val s2 = rocks(StreamOps.tuned(s0, 7))
      val ckpt2 = StreamOps.scratchDir("graft_rescale_ck2").toString
      runPhase(s2, 1, ckpt2,
        graft.streaming.Rescale.savepointTotals(s2, ckpt1))
      val updates = s0.read.parquet(out)
      val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc)
      updates.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n"), col("cents"))
        .orderBy(col("user_id"))
    }),

    // Savepoint rescaling through the GENERIC reader (round-15 verdict
    // task — the reference's savepoint API is operator-generic,
    // flink-libraries/flink-state-processing-api/.../SavepointReader
    // .java readKeyedState): the SAME stop → savepoint-read → resume-
    // wider workflow as state_rescale_totals, but over the keyed Top-N
    // buffer state through Rescale.savepointRead(ckpt, stateVarName) —
    // a DIFFERENT operator whose seed projection is the only
    // op-specific code. Half the events at THREE partitions, stop,
    // generic read of the `topn` state variable, resume at SEVEN with
    // the other half; the re-ranked update stream must hash-match the
    // whole-stream batch Top-N oracle, impossible unless every key's
    // buffer crossed the 3→7 redistribution intact.
    "state_rescale_topn" -> ((s0, dir) => {
      val out = StreamOps.scratchDir("graft_rescale_topn_out").toString
      // shared with state_rescale_totals: same deterministic halves,
      // staged once per driver context (input staging, never results)
      def runPhase(s: SparkSession, par: Int, ckpt: String,
          seed: org.apache.spark.sql.Dataset[graft.streaming.TopNBuf]): Unit = {
        val updates = graft.streaming.Rescale.resumeTopN(
          StreamOps.eventsTypedHalf(s, dir, par), seed).toDF()
        val q = updates.writeStream
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              b.write.mode("append").parquet(out)
          }
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def rocks(s: SparkSession): SparkSession = {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s
      }
      val s1 = rocks(StreamOps.tuned(s0, 3))
      val ckpt1 = StreamOps.scratchDir("graft_rescale_tn_ck1").toString
      locally {
        import s1.implicits._
        runPhase(s1, 0, ckpt1, s1.emptyDataset[graft.streaming.TopNBuf])
      }
      val s2 = rocks(StreamOps.tuned(s0, 7))
      val ckpt2 = StreamOps.scratchDir("graft_rescale_tn_ck2").toString
      runPhase(s2, 1, ckpt2,
        graft.streaming.Rescale.savepointTopN(s2, ckpt1))
      val updates = s0.read.parquet(out)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      updates.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // Idle-source watermark handling (reference WatermarksWithIdleness,
    // flink-core/.../eventtime/WatermarksWithIdleness.java, FLIP-126:
    // a source detected idle is EXCLUDED from the combined watermark so
    // the live inputs drive the clock): TWO independent file sources
    // union into one event-time windowed aggregate; the odd-user leg
    // carries only the stream's first 30 minutes and then goes idle
    // FOREVER. Under the default min-combined policy the stalled leg
    // would wedge every window past its last row open; the idleness
    // analog — multipleWatermarkPolicy=max, track the advancing input —
    // lets the even-user leg (whose far-future flush row plays the
    // bounded-source MAX_WATERMARK) finalize every real window. The
    // append-mode image must equal the batch aggregate over exactly
    // the rows the two legs carried.
    "stream_watermark_idleness" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      s.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
      val liveDir = StreamOps.scratchDir("graft_wmidle_live")
      val idleDir = StreamOps.scratchDir("graft_wmidle_idle")
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val minUs = ev.agg(min(col("ts_us"))).head().getLong(0)
      StreamOps.stage(liveDir, ev.filter(col("user_id") % 2 === 0),
        // the live leg's far-future flush row (its own window never
        // closes, so it is self-excluding from the append image)
        s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit(7258118400000000L).as("ts_us"), lit(0L).as("cents")))
      // the idle leg: 30 minutes of odd-user rows, then silence forever
      StreamOps.stage(idleDir, ev.filter(col("user_id") % 2 === 1 &&
        col("ts_us") < minUs + 1800L * 1000000))
      def leg(work: java.nio.file.Path): DataFrame =
        StreamOps.readStaged(s, work, ev.schema)
          .withColumn("ets", timestamp_micros(col("ts_us")))
          .withWatermark("ets", "0 seconds")
      val agg = leg(liveDir).union(leg(idleDir))
        .groupBy(window(col("ets"), "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(unix_micros(col("w.start")).as("ws_us"), col("n"), col("cents"))
      StreamOps.runToBatch(s, agg, "append", "stream_wmidle")
        .orderBy(col("ws_us"))
    }),

    // SQL-TRANSPARENT streaming Top-N (reference FlinkLogicalRankRule +
    // StreamExecRank): the SQL text is a plain ROW_NUMBER() <= 3 rank
    // filter over a STREAMING view — which Spark cannot execute at all
    // (non-time window on a stream) — rewritten by StreamRankToTopNRule
    // into the keyed Top-N state operator. The gate asserts the Window
    // is gone from the rewritten plan, runs the update stream, and
    // re-ranks the distinct emitted candidates to the final image.
    // SQL-transparent streaming OVER aggregation (reference
    // StreamExecOverAggregate): plain window-function SQL on a
    // streaming view plans into the keyed watermark-released state op
    // via StreamOverAggRule — Spark alone cannot run a window function
    // on a stream. Bounded ROWS frame, three aggregates in one window.
    "stream_over_agg_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts_us,
               count(*) OVER w AS n_frame,
               sum(cents) OVER w AS sum_frame,
               max(cents) OVER w AS max_frame
        FROM (SELECT user_id, event_id, ts_us, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w AS (PARTITION BY user_id ORDER BY __event_ts
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Same rule, LAG: frameless row offsets (reference LagAggFunction
    // in streaming OVER) mixed with a running aggregate in ONE window
    // — lag reads the n-back released row from a bounded ring while
    // count accumulates, exercising the per-expression frame split.
    "stream_over_lag_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id,
               lag(cents, 2) OVER w AS lag2_c,
               lag(event_type, 1) OVER w AS prev_t,
               count(*) OVER w AS running_n
        FROM (SELECT user_id, event_id, event_type, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w AS (PARTITION BY user_id ORDER BY __event_ts)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_lag_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Same rule, navigation functions: FIRST_VALUE/LAST_VALUE over a
    // bounded ROWS frame (reference FIRST_VALUE/LAST_VALUE aggregate
    // functions in streaming OVER), string and integral outputs.
    "stream_over_nav_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id,
               first_value(cents) OVER w AS first_c,
               last_value(event_type) OVER w AS last_t
        FROM (SELECT user_id, event_id, event_type, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w AS (PARTITION BY user_id ORDER BY __event_ts
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_nav_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Same rule, RANGE mode: interval-preceding frame over event time
    // (reference RowTimeRangeBoundedPrecedingFunction), with MIN and
    // AVG joining the aggregate set. AVG folds integral-valued doubles
    // below 2^53, so the division is engine-exact.
    "stream_over_range_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts_us,
               count(*) OVER w AS n_frame,
               min(cents) OVER w AS min_frame,
               avg(cents) OVER w AS avg_frame
        FROM (SELECT user_id, event_id, ts_us, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w AS (PARTITION BY user_id ORDER BY __event_ts
                     RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_range_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Same rule, UNBOUNDED mode: the default ORDER BY frame (RANGE
    // UNBOUNDED PRECEDING) becomes O(1) running accumulators per key —
    // no row history at all (reference
    // RowTimeRowsUnboundedPrecedingFunction).
    "stream_over_running_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts_us,
               count(*) OVER w AS running_n,
               sum(cents) OVER w AS running_cents
        FROM (SELECT user_id, event_id, ts_us, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w AS (PARTITION BY user_id ORDER BY __event_ts)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_run_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Same rule, MIXED frames: three different frames in ONE SELECT
    // (ROWS 3 PRECEDING, RANGE 10 minutes, ROWS UNBOUNDED) — the
    // reference StreamExecOverAggregate groups window aggregates by
    // frame; here each expression evaluates over its own slice of one
    // shared history — plus the VARIANCE family (VAR_SAMP over the
    // ROWS frame, STDDEV_POP over the RANGE frame). Variance columns
    // are compared through the exact integer moment identity
    // n·(n−1)·var_samp = n·Σc² − S² (and n²·stddev_pop² likewise):
    // the true value is an INTEGER for integer cents, so round() is
    // engine-stable — any fixed decimal quantization of the raw
    // variance sits knife-edge on the 2-decimal data's lattice.
    "stream_over_mixed_frames_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_wm")
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .withColumn("__event_ts", timestamp_micros(col("ts_us")))
        .withWatermark("__event_ts", "0 seconds")
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts_us,
               sum(cents) OVER w3 AS sum_rows3,
               count(*) OVER wr AS n_range,
               count(*) OVER wu AS running_n,
               CAST(round(var_samp(cents) OVER w3
                    * (count(*) OVER w3) * (count(*) OVER w3 - 1)) AS BIGINT) AS var3_m2n,
               CAST(round(stddev_pop(cents) OVER wr * stddev_pop(cents) OVER wr
                    * (count(*) OVER wr) * (count(*) OVER wr)) AS BIGINT) AS stdp_m2n
        FROM (SELECT user_id, event_id, ts_us, __event_ts,
                     CAST(floor(value * 100) AS BIGINT) AS cents FROM $view)
        WINDOW w3 AS (PARTITION BY user_id ORDER BY __event_ts
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
               wr AS (PARTITION BY user_id ORDER BY __event_ts
                      RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW),
               wu AS (PARTITION BY user_id ORDER BY __event_ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
        .queryExecution.analyzed
      val rewritten = graft.rules.StreamOverAggRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "streaming OVER rewrite did not fire")
      StreamOps.runToBatch(s, org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten),
          "append", "over_mixed_sql")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    "stream_topn_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_stream")
      StreamOps.eventsTyped(s, dir).toDF().createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT event_type, event_id, value, rn FROM (
          SELECT event_type, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY value DESC, event_id) AS rn
          FROM $view) WHERE rn <= 3""").queryExecution.analyzed
      val rewritten = graft.rules.StreamRankToTopNRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "rank-to-TopN rewrite did not fire")
      val df = org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten)
      val updates = StreamOps.runToBatch(s, df, "update", "topn_sql")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      updates.select(col("event_type"), col("event_id"), col("value")).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("event_type"), col("rn"))
    }),

    // SQL-TRANSPARENT streaming deduplication (reference
    // FlinkLogicalRankRule routes ROW_NUMBER() = 1 over a time
    // attribute to StreamExecDeduplicate — keep-FIRST when the rowtime
    // orders ascending, RowTimeDeduplicateFunction keepFirstRow). The
    // SQL text is the reference's documented dedup recipe verbatim;
    // Spark cannot run the Window on a stream at all, so the rewrite
    // is load-bearing. Top-1 of the rank state op gives exactly the
    // dedup update semantics: a key re-emits only when an
    // earlier-rowtime row arrives. Re-ranking the distinct updates
    // materializes the final image.
    "stream_dedup_keepfirst_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_stream")
      StreamOps.readStream(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts FROM (
          SELECT user_id, event_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM $view) WHERE rn = 1""").queryExecution.analyzed
      val rewritten = graft.rules.StreamRankToTopNRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "rank-to-dedup rewrite did not fire")
      val df = org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten)
      val updates = StreamOps.runToBatch(s, df, "update", "dedupfirst_sql")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      updates.select(col("user_id"), col("event_id"), col("ts")).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("ts").as("first_ts"))
        .orderBy(col("user_id"))
    }),

    // Keep-LAST half of the same rewrite (rowtime DESC →
    // StreamExecDeduplicate keepLastRow): hash-identical image to the
    // native keepLast state-op gate, proving the SQL door and the
    // fluent API land on the same answer.
    "stream_dedup_keeplast_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val view = StreamOps.freshName("events_stream")
      StreamOps.readStream(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .createOrReplaceTempView(view)
      val analyzed = s.sql(s"""
        SELECT user_id, event_id, ts FROM (
          SELECT user_id, event_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM $view) WHERE rn = 1""").queryExecution.analyzed
      val rewritten = graft.rules.StreamRankToTopNRule(s)(analyzed)
      require(rewritten.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, "rank-to-dedup rewrite did not fire")
      val df = org.apache.spark.sql.graft.SqlShim.ofRows(s, rewritten)
      val updates = StreamOps.runToBatch(s, df, "update", "deduplast_sql")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      updates.select(col("user_id"), col("event_id"), col("ts")).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"))
        .orderBy(col("user_id"))
    }),

    // Keyed connected streams (reference ConnectedStreams.keyBy +
    // KeyedCoProcessFunction): two typed inputs — clicks and non-click
    // actions split from the staged source — share ONE per-key state
    // through the union-tagged co-process. Elements deliver in
    // event-time order (clicks first on timestamp ties), so each
    // action is stamped with the count and cent-sum of the same user's
    // clicks at-or-before its timestamp — deterministic, and exactly a
    // running conditional sum in the oracle.
    "stream_connect_coprocess" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val evs = StreamOps.eventsTypedWithKeyedSentinels(s, dir)
      // sentinels (event_id = -1) pass BOTH side filters so each leg's
      // watermark advances past all real rows; the op never buffers them
      val clicks = evs.filter(e => e.event_type == "click" || e.event_id < 0)
        .map(e => ClickIn(e.user_id, e.event_id, e.ts_us,
          math.floor(e.value * 100).toLong))
      val acts = evs.filter(e => e.event_type != "click")
        .map(e => ActIn(e.user_id, e.event_id, e.ts_us))
      val out = graft.streaming.ConnectedOps.keyedCoProcessOrdered[
          ClickIn, ActIn, (Long, Long), CoEnriched](
        clicks, _.user_id, _.ts_us, _.event_id,
        acts, _.user_id, _.ts_us, _.event_id,
        zero = (0L, 0L),
        on1 = (_, st, c) => ((st._1 + 1, st._2 + c.cents), Nil),
        on2 = (k, st, a) => (st, Seq(CoEnriched(k, a.event_id, st._1, st._2))))
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_connect")
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Event-time stream sort (reference RowTimeSortOperator): rows
    // release in (ts, id) order as the watermark passes them, each
    // stamped with its per-key release index — the oracle checks the
    // ORDER itself, not just membership.
    "stream_sorted_emit" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = StatefulOps.sortedEmitIndexed(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir))
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_sorted")
        .select(col("key"), col("id"),
          expr("cast(timestamp_micros(ts_us) as timestamp_ntz)").as("ts"),
          col("idx"))
        .orderBy(col("key"), col("idx"))
    }),

    // Streaming Top-N as a changelog (reference AppendOnlyTopNFunction
    // emitting insert/delete records): the normalized changelog IS the
    // final Top-3 membership — no consumer-side re-rank needed.
    "stream_topn_changelog" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val changes = StatefulOps.topNChangelog(StreamOps.eventsTyped(s, dir), 3)
      val changelog = StreamOps.runToBatch(s, changes.toDF(), "append", "stream_topn_cl")
      val members = graft.changelog.ChangelogOps.normalize(
        changelog, Seq("event_type", "event_id"), "out_seq")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      members.withColumn("rn", row_number().over(w))
        .select(col("event_type"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // Streaming OVER: per-user running count + integer-cent running sum
    // in (event time, id) order (append stream, one row out per row in).
    // CURRENT_WATERMARK(rowtime) — reference FLIP-162: every row
    // stamped with the watermark in force when its batch ran. Events
    // are staged as two micro-batches (even ids, then odd), so the
    // first batch sees no watermark (NULL — the reference contract)
    // and the second sees exactly max(even ts) floored to ms minus the
    // 10-minute delay. The watermark VALUE itself is oracle-checked.
    "stream_current_watermark" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      StreamOps.runToBatch(
        s, StatefulOps.currentWatermark(
          StreamOps.eventsTypedHalves(s, dir), "10 minutes").toDF(),
        "append", "stream_wm")
        .select(col("event_id"), col("ts_us"), col("wm_us"))
        .orderBy(col("event_id"))
    }),

    "stream_over_running" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      StreamOps.runToBatch(
        s, StatefulOps.runningByUser(StreamOps.eventsTyped(s, dir)).toDF(),
        "append", "stream_over")
        .select(col("user_id"), col("event_id"), col("running_n"), col("running_cents"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Streaming temporal (versioned) join, ROW-TIME semantics: each
    // event enriched with the customer's order version in force at the
    // event's time; probes HELD until the watermark passes them
    // (reference TemporalRowTimeJoinOperator), so the probe side is
    // staged with a far-future sentinel that drives the final flush.
    "stream_temporal_join" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val dims = StreamOps.readStream(s, dir, "orders")
        .select(col("o_custkey"), unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"))
        .as[OrderVer]
      val probes = StreamOps.eventsTypedWithFinalWatermark(s, dir)
      val joined = graft.streaming.TemporalJoin.runTyped(dims, probes,
        "o_custkey", "ts_us", "o_orderkey", "user_id", "ts_us", "event_id")
      StreamOps.runToBatch(s, joined.toDF(), "append", "stream_tjoin")
        .filter(col("probe.event_id") >= 0)
        .select(col("probe.event_id").as("event_id"),
          col("probe.user_id").as("user_id"),
          col("dim.o_orderkey").as("o_orderkey"),
          col("dim.o_totalprice").as("o_totalprice"))
        .orderBy(col("event_id"))
    }),

    // SQL-TRANSPARENT temporal join (reference
    // LogicalCorrelateToJoinFromTemporalTableRule + StreamExecTemporalJoin):
    // the SQL text carries FOR SYSTEM_TIME AS OF; TemporalSql desugars it
    // to the marker-conjunct join, StreamTemporalJoinRule plans it into
    // the versioned-join state op. Must equal stream_temporal_join.
    "stream_temporal_join_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val dimsView = StreamOps.freshName("orders_versioned")
      val probesView = StreamOps.freshName("events_probes")
      StreamOps.readStream(s, dir, "orders")
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ver_us"),
          col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView(dimsView)
      StreamOps.eventsTypedWithFinalWatermark(s, dir).toDF()
        .createOrReplaceTempView(probesView)
      graft.sqlx.TemporalSql.registerVersioned(dimsView, "ver_us", "o_orderkey")
      val df = graft.sqlx.TemporalSql.sql(s, s"""
        SELECT p.event_id, p.user_id, d.o_orderkey, d.o_totalprice
        FROM $probesView p
        LEFT JOIN $dimsView FOR SYSTEM_TIME AS OF p.ts_us AS d
          ON p.user_id = d.o_custkey""")
      StreamOps.runToBatch(s, df, "append", "stream_tjoin_sql")
        .filter(col("event_id") >= 0)
        .orderBy(col("event_id"))
    }),

    // Event-time bounded streaming OVER, ROWS frame (reference
    // RowTimeRowsBoundedPrecedingFunction): per-user sliding 3-row
    // count/sum, rows released as the watermark passes them; the staged
    // sentinel drives the end-of-input watermark so the bounded run
    // flushes completely.
    "stream_over_bounded_rows" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = BoundedOver.run(
        StreamOps.eventsTypedWithFinalWatermark(s, dir), BoundedOver.RowsFrame(2))
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_obrows")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Event-time bounded streaming OVER, RANGE frame (reference
    // RowTimeRangeBoundedPrecedingFunction): per-user 10-minute
    // trailing count/sum; same-ts peers share a frame per SQL RANGE.
    "stream_over_bounded_range" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = BoundedOver.run(
        StreamOps.eventsTypedWithFinalWatermark(s, dir), BoundedOver.RangeFrame(TenMinUs))
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_obrange")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Count windows (reference KeyedStream.countWindow → GlobalWindows
    // + purging CountTrigger): per-user tumbling 5-row windows over
    // watermark-ordered release; the trailing incomplete window never
    // fires, like the purging trigger. Per-key sentinels flush.
    "stream_count_window" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.CountSession.countWindow(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir), n = 5)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_cwin")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("win_idx"))
    }),

    // Streaming keep-FIRST dedup — Spark's NATIVE streaming
    // dropDuplicates (reference DeduplicateKeepFirstRowFunction; the
    // keep-last half needs the custom keepLastBy op, gated
    // separately). Keys-only projection: WHICH keys exist is
    // deterministic; which physical row represented a key first is
    // partition-order-dependent, so the gate asserts the key set.
    "stream_dedup_keepfirst" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val sdf = StreamOps.readStream(s, dir, "events")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamOps.runToBatch(s, sdf, "append", "stream_keepfirst")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // SLIDING count window (reference countWindow(size, slide)):
    // every 2nd released row fires an aggregate of the last up-to-5
    // rows — GlobalWindow + CountEvictor(5) + CountTrigger(2).
    "stream_count_window_sliding" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.CountSession.countWindowSliding(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir), size = 5, slide = 2)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_cwslide")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("fire_idx"))
    }),

    // Dynamic-gap session windows, streaming (reference
    // DynamicEventTimeSessionWindows + SessionWindowTimeGapExtractor):
    // clicks close after 10 minutes of quiet, other events after 30 —
    // the same merge rule as the batch session_window gate, so the
    // same SQL shape oracles both engines.
    "stream_session_dynamic" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.CountSession.sessionDynamic(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir),
        e => if (e.event_type == "click") 10L * 60 * 1000000 else 30L * 60 * 1000000)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_dynsess")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          expr("cast(timestamp_micros(we_us) as timestamp_ntz)").as("we"),
          col("n"), col("sum_cents"))
        .orderBy(col("user_id"), col("ws"))
    }),

    // Tumbling window agg WITH late-data side capture (reference
    // WindowedStream.sideOutputLateData): per-user 15-minute windows
    // finalized under the per-key sentinel cascade; late rows would
    // surface tagged 'late' instead of silently dropping (none exist
    // in the ordered bounded replay, so the oracle is the agg side).
    "stream_window_late_capture" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.LateCapture.tumble(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir), 15L * 60 * 1000000)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_latecap")
        .select(col("kind"), col("user_id"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("n"), col("sum_cents"), col("late_event_id"))
        .orderBy(col("user_id"), col("ws"))
    }),

    // Allowed-lateness window refiring (reference
    // WindowedStream.allowedLateness): the early-hour rows arrive as a
    // LATE second micro-batch below the batch-1 watermark; windows the
    // watermark already closed fire first with on-time content, then
    // re-fire cumulatively for the late-but-allowed arrivals. The gate
    // checks the changelog contract: the max-fire_seq image per window
    // equals the batch aggregate, and the firing COUNT is exactly 2 for
    // windows that were due at the late batch and received late rows,
    // 1 otherwise.
    "stream_window_late_refire" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.LateCapture.tumbleWithLateness(
        StreamOps.eventsTypedLateSplitWithSentinels(s, dir, 3600L * 1000000),
        15L * 60 * 1000000, 400L * 86400 * 1000000)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_latref")
        .filter(col("kind") =!= "late")
        .groupBy(col("user_id"), col("ws_us"))
        .agg(max_by(struct(col("n"), col("sum_cents")), col("fire_seq")).as("fin"),
          count(lit(1)).as("fires"))
        .select(col("user_id"), col("ws_us"), col("fin.n").as("n"),
          col("fin.sum_cents").as("sum_cents"), col("fires"))
        .orderBy(col("user_id"), col("ws_us"))
    }),

    // PER-ELEMENT re-firing cadence (reference WindowOperator.java:98
    // processElement → EventTimeTrigger.onElement FIRE per
    // late-but-allowed element — the engine's default coalesces a
    // batch's late rows into ONE cumulative update, MIGRATION
    // divergence #2; this is the opt-in exact-cadence mode, the
    // lateness analog of changelog_per_record_log): every late row of
    // an already-due window emits its OWN cumulative firing with an
    // incrementing fire_seq. The gate checks the firing LOG itself —
    // one on-time firing per window with on-time content, then one
    // firing per late row in (ts, id) order with running n/cents —
    // against a scalar-fold oracle, not just the final image.
    // Keys are densified to 5 (like stream_session_late_refire) so
    // windows genuinely receive SEVERAL late rows and mix on-time with
    // late content — at natural key density each late window holds one
    // late row and the per-element cadence would be indistinguishable
    // from the coalesced one.
    "stream_window_late_refire_per_element" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val in = StreamOps.eventsTypedLateSplitWithSentinels(s, dir, 3600L * 1000000)
        .map(e => e.copy(user_id = e.user_id % 5))
      val out = graft.streaming.LateCapture.tumbleWithLateness(
        in, 15L * 60 * 1000000, 400L * 86400 * 1000000, perElement = true)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_latref_pe")
        .filter(col("kind") =!= "late")
        .select(col("user_id"), col("ws_us"), col("fire_seq"),
          col("n"), col("sum_cents"))
        .orderBy(col("user_id"), col("ws_us"), col("fire_seq"))
    }),

    // Degenerate lateness = 0: every below-watermark arrival is beyond
    // the lateness horizon, so the SAME operator reproduces pure
    // sideOutputLateData semantics with REAL late rows (the existing
    // stream_window_late_capture gate replays in order, so its late
    // side is provably empty; this one exercises the capture path).
    "stream_window_lateness_capture" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.LateCapture.tumbleWithLateness(
        StreamOps.eventsTypedLateSplitWithSentinels(s, dir, 3600L * 1000000),
        15L * 60 * 1000000, 0L)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_latcap0")
        .select(col("kind"), col("user_id"), col("ws_us"),
          col("n"), col("sum_cents"), col("late_event_id"))
        .orderBy(col("kind"), col("user_id"), col("ws_us"), col("late_event_id"))
    }),

    // Session windows with allowed lateness and late-session MERGING
    // (reference EventTimeSessionWindows + MergingWindowSet under
    // allowedLateness): the early-hour rows arrive late and may BRIDGE
    // already-fired sessions into merged ones that re-fire. Superseded
    // firings are not retracted (the reference's documented behavior),
    // so the gate applies the changelog contract: keep each key's
    // firings that no later overlapping firing supersedes (emit_seq
    // anti-join) — that final image must equal the batch session
    // island sweep over ALL rows. Keys are densified to 5 so sessions
    // genuinely chain and merge.
    "stream_session_late_refire" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val gapUs = 30L * 60 * 1000000
      val in = StreamOps.eventsTypedLateSplitWithSentinels(s, dir, 3600L * 1000000)
        .map(e => e.copy(user_id = e.user_id % 5))
      val out = graft.streaming.LateCapture.sessionWithLateness(
        in, gapUs, 400L * 86400 * 1000000)
      val raw = StreamOps.runToBatch(s, out.toDF(), "append", "stream_sessref")
        .filter(col("kind") =!= "late")
      val later = raw.select(col("user_id").as("b_user"), col("emit_seq").as("b_seq"),
        col("ws_us").as("b_ws"), col("we_us").as("b_we"))
      raw.join(later,
          col("user_id") === col("b_user") && col("b_seq") > col("emit_seq") &&
            col("b_ws") <= col("we_us") && col("ws_us") <= col("b_we"),
          "left_anti")
        .select(col("user_id"), col("ws_us"), col("we_us"), col("n"), col("sum_cents"))
        .orderBy(col("user_id"), col("ws_us"))
    }),

    // PER-ELEMENT re-firing for MERGING SESSIONS (round-15 verdict
    // task — the last scoped piece of MIGRATION divergence #2; the
    // reference's WindowOperator.java:98 fires per late element on
    // MERGED windows too, via MergingWindowSet + EventTimeTrigger
    // .onElement). Each late-but-allowed row whose MERGED session is
    // already due emits its OWN cumulative firing — and because merges
    // change window identity, consecutive firings can carry different
    // [ws, we) extents. The gate checks the firing LOG itself (every
    // firing's extent + cumulative content): phase-1 on-time session
    // firings, one firing per late row with its prefix-merged island,
    // and the final watermark-close firings of never-due sessions. A
    // firing log is only reproducible because each firing's content
    // strictly grows within an extent — the coalesced mode would emit
    // strictly fewer rows. Coalesced gate (stream_session_late_refire)
    // unchanged.
    "stream_session_late_refire_per_element" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val gapUs = 30L * 60 * 1000000
      val in = StreamOps.eventsTypedLateSplitWithSentinels(s, dir, 3600L * 1000000)
        .map(e => e.copy(user_id = e.user_id % 5))
      val out = graft.streaming.LateCapture.sessionWithLateness(
        in, gapUs, 400L * 86400 * 1000000, perElement = true)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_sessref_pe")
        .filter(col("kind") =!= "late")
        .select(col("user_id"), col("ws_us"), col("we_us"),
          col("n"), col("sum_cents"))
        .orderBy(col("user_id"), col("ws_us"), col("we_us"), col("n"))
    }),

    // Retraction-aware streaming join (reference StreamingJoinOperator):
    // customer (right upserts) ⋈ latest-order-per-customer (left
    // upserts) through one keyed state op; every change emits -U/+U
    // changelog rows, and ChangelogOps.normalize materializes the
    // final join image that the oracle reproduces.
    "stream_retract_join" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val lefts = StreamOps.readStream(s, dir, "orders")
        .select(lit(true).as("isLeft"), col("o_custkey").as("key"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("time_us"),
          col("o_orderkey").as("seq"), col("o_totalprice").as("payload"))
      val rights = StreamOps.readStream(s, dir, "customer")
        .select(lit(false).as("isLeft"), col("c_custkey").as("key"),
          lit(0L).as("time_us"), lit(0L).as("seq"), col("c_acctbal").as("payload"))
      val changes = graft.streaming.RetractJoin.run(
        lefts.unionByName(rights).as[graft.streaming.RjInput])
      val changelog = StreamOps.runToBatch(s, changes.toDF(), "append", "stream_rjoin")
      graft.changelog.ChangelogOps.normalize(changelog, Seq("key"), "out_seq")
        .select(col("key"), col("left_seq").as("o_orderkey"),
          col("left_payload").as("o_totalprice"),
          col("right_payload").as("c_acctbal"))
        .orderBy(col("key"))
    }),

    // MATCH_RECOGNIZE SQL surface (reference StreamExecMatch): the
    // same click→purchase pattern expressed as PARTITION BY / ORDER BY
    // / MEASURES / PATTERN / DEFINE and parsed onto the CEP engine.
    "match_recognize_sql" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS click_id, B.event_id AS buy_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '10' MINUTE
          DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "stream_mr")
        .orderBy(col("click_id"))
    }),

    // CEP: click strictly followed by a purchase (adjacent in the
    // user's event-time order) within 10 minutes.
    "stream_cep_next" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("click", _.event_type == "click")
        .next("buy", _.event_type == "purchase")
        .within(TenMinUs)
      import s.implicits._
      val matches = graft.api.StreamEnv.get(s)
        .fromDataset(StreamOps.eventsTyped(s, dir))
        .keyBy("user_id").cep(pattern, "ts_us", "event_id").select
        .map(b => (b.binds.head.ev.user_id,
          b.binds.head.ev.event_id, b.binds.last.ev.event_id))
        .toDF("user_id", "click_id", "buy_id")
      StreamOps.runToBatch(s, matches, "append", "stream_cep")
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE ALL ROWS PER MATCH (reference StreamExecMatch
    // all-rows output mode): every matched event becomes a row with
    // its CLASSIFIER symbol and the match's FINAL measures.
    "match_recognize_all_rows" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id
          ALL ROWS PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '10' MINUTE
          DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
        )"""
      StreamOps.runToBatch(
        s, graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
        "append", "stream_mr_all")
        .orderBy(col("a_id"), col("classifier"))
    }),

    // MATCH_RECOGNIZE ALL ROWS PER MATCH WITH UNMATCHED ROWS
    // (SQL:2016 output-mode matrix; reference MatchCodeGenerator
    // unmatched-row emission): rows participating in NO match surface
    // with NULL classifier and NULL measures. Emission is
    // eviction-driven (a row is provably unmatched only once the
    // watermark passes its within horizon), so the fixture needs the
    // per-key sentinel harness to flush the tail.
    "match_recognize_unmatched" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id
          ALL ROWS PER MATCH WITH UNMATCHED ROWS
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(
            StreamOps.eventsTypedWithKeyedSentinels(s, dir), mrSql),
          "append", "mr_unmatched")
        .filter(col("event_id") >= 0) // sentinel rows are harness plumbing
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // MATCH_RECOGNIZE timed-out partial matches through the SQL door
    // (engine extension over the reference's TimedOutPartialMatchHandler
    // — cep/PatternStream.java:26; the SQL standard has no timeout
    // output): click → view → purchase within 12 hours, ONE ROW PER
    // MATCH WITH TIMED OUT MATCHES. A click whose window closes before
    // completing surfaces flagged timed_out=true, with measures over
    // its PARTIAL binding — CLASSIFIER() tells how far it got ('A' =
    // click only, 'B' = click+view). Same independent-per-start
    // semantics as stream_cep_timeout, now reachable from SQL.
    "match_recognize_timeout" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS click_id, CLASSIFIER() AS last_step
          ONE ROW PER MATCH WITH TIMED OUT MATCHES
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B C)
          WITHIN INTERVAL '720' MINUTE
          DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view',
                 C AS C.event_type = 'purchase'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(
            StreamOps.eventsTypedWithKeyedSentinels(s, dir), mrSql),
          "append", "mr_timeout")
        .filter(col("timed_out") && col("click_id") >= 0)
        .select(col("user_id"), col("click_id"), col("last_step"))
        .orderBy(col("user_id"), col("click_id"))
    }),

    // Broadcast state / connected streams (reference
    // KeyedBroadcastProcessFunction): a control stream of per-type
    // thresholds (batch-computed mean cents, the broadcast side) and
    // the event stream union into one keyed state op; data rows pass
    // iff their cents reach the threshold current at their position.
    // Controls stage as the FIRST micro-batch (mtime-ordered files),
    // the integer-cent domain keeps the compare exact cross-engine.
    "stream_broadcast_threshold" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val ev = graft.Tables.load(s, dir, "events")
      val controls = ev.groupBy(col("event_type"))
        .agg(sum(floor(col("value") * 100).cast("bigint")).as("sc"), count(lit(1)).as("n"))
        .select(lit(true).as("isControl"), col("event_type"),
          expr("cast(sc div n as double)").as("threshold"),
          lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit(0L).as("ts_us"), lit(0.0).as("value"))
      val data = ev.select(lit(false).as("isControl"), col("event_type"),
        lit(0.0).as("threshold"), col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        floor(col("value") * 100).cast("double").as("value"))
      val work = StreamOps.scratchDir("graft_bcast")
      StreamOps.stage(work, controls, data)
      // control-before-data relies on FileStreamSource consuming files
      // in modification-time order under maxFilesPerTrigger=1 — the
      // documented latestFirst=false default sorts pending files by
      // mtime, and stage() times each file after the one before.
      val tagged = StreamOps.readStaged(s, work, controls.schema)
        .as[graft.streaming.Tagged]
      val out = graft.streaming.StatefulOps.thresholdFilter(tagged)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_bcast")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("bigint").as("cents"))
        .orderBy(col("event_id"))
    }),

    // Window COUNT EVICTOR (reference CountEvictor via
    // WindowedStream.evictor): per-user 30-minute tumbling windows
    // whose aggregate applies to only the LAST 5 elements in event-time
    // order — the state never buffers more than `keep` rows per open
    // window. Keyed sentinels drive the end-of-input finalize.
    "stream_evictor_count" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Evictors.tumbleCountEvictor(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir),
        sizeUs = 30L * 60 * 1000 * 1000, keep = 5)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_evict")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("n_kept"), col("kept_cents"))
        .orderBy(col("user_id"), col("ws"))
    }),

    // Window TIME EVICTOR (reference TimeEvictor via
    // WindowedStream.evictor): per-type 6-hour tumbling windows whose
    // aggregate sees only the trailing hour of event time — elements
    // at ts <= max_ts − 1h are evicted. Eviction is eager (the cutoff
    // is monotone), so state stays bounded by one keep-span of data.
    "stream_evictor_time" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Evictors.tumbleTimeEvictor(
        StreamOps.eventsTypedWithFinalWatermark(s, dir),
        sizeUs = 6L * 3600 * 1000 * 1000, keepUs = 3600L * 1000 * 1000)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_evict_time")
        .filter(col("event_type") =!= "sentinel")
        .select(col("event_type"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("n_kept"), col("kept_cents"))
        .orderBy(col("event_type"), col("ws"))
    }),

    // Window DELTA EVICTOR (reference DeltaEvictor): the aggregate
    // sees only elements within 10000 integer cents of the window's
    // LAST element — the rest evict at firing time.
    "stream_evictor_delta" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Evictors.tumbleDeltaEvictor(
        StreamOps.eventsTypedWithFinalWatermark(s, dir),
        sizeUs = 6L * 3600 * 1000 * 1000, thresholdCents = 10000L)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_evict_delta")
        .filter(col("event_type") =!= "sentinel")
        .select(col("event_type"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("n_kept"), col("kept_cents"))
        .orderBy(col("event_type"), col("ws"))
    }),

    // PURGING COUNT TRIGGER (reference PurgingTrigger.of(CountTrigger
    // .of(n))): within a 24-hour window every 5th element fires AND
    // PURGES — each pane is the accumulation since the last firing.
    // The trailing partial pane never fires (the wrapped trigger
    // replaces the default event-time trigger).
    "stream_trigger_purging" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Triggers.tumblePurgingCountTrigger(
        StreamOps.eventsTypedWithFinalWatermark(s, dir),
        sizeUs = 24L * 3600 * 1000 * 1000, n = 5)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_trig_purge")
        .filter(col("event_type") =!= "sentinel")
        .select(col("event_type"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("fire_idx"), col("n_rows"), col("pane_cents"))
        .orderBy(col("event_type"), col("ws"), col("fire_idx"))
    }),

    // DELTA TRIGGER (reference DeltaTrigger): within a 6-hour window
    // the first element arms a baseline; an element whose cents jump
    // from the baseline exceeds 15000 FIRES the window's current
    // accumulation and becomes the new baseline. No end-of-window
    // firing — the trigger replaces the default, as in the reference.
    "stream_trigger_delta" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Triggers.tumbleDeltaTrigger(
        StreamOps.eventsTypedWithFinalWatermark(s, dir),
        sizeUs = 6L * 3600 * 1000 * 1000, thresholdCents = 15000L)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_trig_delta")
        .filter(col("event_type") =!= "sentinel")
        .select(col("event_type"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          col("fire_id"), col("n_at_fire"), col("cents_at_fire"))
        .orderBy(col("event_type"), col("ws"), col("n_at_fire"))
    }),

    // CONTINUOUS EVENT-TIME TRIGGER (reference
    // ContinuousEventTimeTrigger): a 6-hour window fires every hour of
    // event time while open — each firing emits the accumulation over
    // events strictly before the interval boundary — plus the final
    // full-window pane at the window end.
    "stream_trigger_continuous" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val out = graft.streaming.Triggers.tumbleContinuousTrigger(
        StreamOps.eventsTypedWithFinalWatermark(s, dir),
        sizeUs = 6L * 3600 * 1000 * 1000, intervalUs = 3600L * 1000 * 1000)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_trig_cont")
        .filter(col("event_type") =!= "sentinel")
        .select(col("event_type"),
          expr("cast(timestamp_micros(ws_us) as timestamp_ntz)").as("ws"),
          expr("cast(timestamp_micros(fire_us) as timestamp_ntz)").as("fire"),
          col("n_so_far"), col("cents_so_far"))
        .orderBy(col("event_type"), col("ws"), col("fire"))
    }),

    // CEP absence detection (reference Pattern.notFollowedBy ending a
    // pattern, `cep/pattern/Pattern.java` notFollowedBy + within):
    // clicks with NO purchase in the next 10 minutes. Absence over a
    // window is only provable once the watermark closes it, so matches
    // hold until then; the keyed sentinels drive the final watermark.
    "stream_cep_absence" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("click", _.event_type == "click")
        .notFollowedBy("no_buy", _.event_type == "purchase")
        .within(TenMinUs)
      StreamOps.runToBatch(
        s, Cep.run(StreamOps.eventsTypedWithKeyedSentinels(s, dir), pattern).toDF(),
        "append", "stream_cep_abs")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("event_ids").getItem(0).as("click_id"))
        .orderBy(col("user_id"), col("click_id"))
    })
  )

  override def oracle: Map[String, String] = Map(
    // shared constant — one text for the batch gate, the TVF twin,
    // the legacy-SQL twin, and this streaming gate (hash-identity by
    // construction)
    "stream_tumble_agg" -> TimeWindowQueries.tumbleOracleSql,
    "stream_hop_agg" -> """
      SELECT ws, ws + INTERVAL 30 MINUTE AS we, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM (
        SELECT time_bucket(INTERVAL 10 MINUTE, ts) - k * INTERVAL 10 MINUTE AS ws,
               value
        FROM events, generate_series(0, 2) AS t(k))
      GROUP BY ws ORDER BY ws""",
    "stream_hop_sliced" -> """
      SELECT ws, ws + INTERVAL 30 MINUTE AS we, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM (
        SELECT time_bucket(INTERVAL 10 MINUTE, ts) - k * INTERVAL 10 MINUTE AS ws,
               value
        FROM events, generate_series(0, 2) AS t(k))
      GROUP BY ws ORDER BY ws""",
    "stream_session_agg" -> """
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS ws, max(ts) + INTERVAL 30 MINUTE AS we,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM sessions GROUP BY user_id, sid ORDER BY user_id, ws""",
    // one shared constant per window shape (TimeWindowQueries) keeps
    // the streaming gates' oracles identical to the batch ones
    "stream_cumulate_agg" -> TimeWindowQueries.cumulateOracleSql,
    "stream_cumulate_sql" -> TimeWindowQueries.cumulateOracleSql,
    "stream_tumble_legacy_sql" -> TimeWindowQueries.tumbleOracleSql,
    "multi_sink_fanout" -> """
      SELECT 'by_type' AS sink, event_type AS k, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE value >= 0.1 GROUP BY event_type
      UNION ALL
      SELECT 'by_user', CAST(user_id AS VARCHAR), count(*),
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      FROM events WHERE value >= 0.1 GROUP BY user_id
      ORDER BY sink, k""",
    "state_bootstrap_agg" -> """
      WITH boot AS (
        SELECT o_custkey AS user_id, count(*) AS n0,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c0
        FROM orders GROUP BY 1),
      ev AS (
        SELECT user_id, count(*) AS n1,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS c1
        FROM events GROUP BY 1)
      SELECT ev.user_id,
             coalesce(b.n0, 0) + ev.n1 AS n,
             coalesce(b.c0, 0) + ev.c1 AS cents
      FROM ev LEFT JOIN boot b ON ev.user_id = b.user_id
      ORDER BY ev.user_id""",
    "stream_group_agg_update" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_interval_join" -> """
      SELECT c.event_id AS click_id, b.event_id AS buy_id, c.user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        ON c.user_id = b.user_id
       AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 10 MINUTE
      ORDER BY click_id, buy_id""",
    "stream_window_join" -> TimeWindowQueries.windowJoinOracleSql,
    "stream_window_join_outer" -> """
      SELECT COALESCE(c.ws, b.ws) AS ws, COALESCE(c.user_id, b.user_id) AS user_id,
             c.click_id, b.buy_id
      FROM (SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, user_id,
                   event_id AS click_id
            FROM events WHERE event_type = 'click') c
      FULL OUTER JOIN (SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, user_id,
                   event_id AS buy_id
            FROM events WHERE event_type = 'purchase') b
        ON c.ws = b.ws AND c.user_id = b.user_id
      ORDER BY ws, user_id, click_id, buy_id""",
    "stream_window_cogroup" -> """
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, user_id,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clicks,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_buys,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS click_cents,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS buy_cents
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY ws, user_id ORDER BY ws, user_id""",
    "stream_window_dedup" -> TimeWindowQueries.windowDedupOracleSql,
    "stream_window_rank" -> TimeWindowQueries.windowRankOracleSql,
    "stream_interval_join_outer" -> """
      SELECT c.event_id AS click_id, b.event_id AS buy_id, c.user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        ON c.user_id = b.user_id
       AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 10 MINUTE
      ORDER BY click_id, buy_id""",
    "stream_interval_join_full" -> """
      SELECT c.event_id AS click_id, b.event_id AS buy_id,
             coalesce(c.user_id, b.user_id) AS user_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        ON c.user_id = b.user_id
       AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 10 MINUTE
      ORDER BY click_id, buy_id""",
    "jdbc_upsert_sink" -> """
      SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS ts_us
      FROM (SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY event_id % 2 DESC,
                              CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""",
    "stream_dedup_keeplast" -> """
      SELECT user_id, event_id AS last_event_id, CAST(ts AS TIMESTAMP) AS last_ts
      FROM (SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""",
    "stream_connect_coprocess" -> """
      WITH tagged AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events),
      run AS (
        SELECT user_id, event_id, event_type,
               CAST(sum(is_click) OVER w AS BIGINT) AS n_clicks_before,
               CAST(sum(is_click * cents) OVER w AS BIGINT) AS click_cents_before
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_click DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, event_id, n_clicks_before, click_cents_before
      FROM run WHERE event_type <> 'click'
      ORDER BY user_id, event_id""",
    "stream_dedup_keepfirst_sql" -> """
      SELECT user_id, event_id AS first_event_id, CAST(ts AS TIMESTAMP) AS first_ts
      FROM (SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""",
    "stream_dedup_keeplast_sql" -> """
      SELECT user_id, event_id AS last_event_id, CAST(ts AS TIMESTAMP) AS last_ts
      FROM (SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""",
    "stream_over_agg_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id, ts_us,
             CAST(count(*) OVER w AS BIGINT) AS n_frame,
             CAST(sum(cents) OVER w AS BIGINT) AS sum_frame,
             CAST(max(cents) OVER w AS BIGINT) AS max_frame
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_over_lag_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id,
             CAST(lag(cents, 2) OVER w AS BIGINT) AS lag2_c,
             lag(event_type, 1) OVER w AS prev_t,
             CAST(count(*) OVER w AS BIGINT) AS running_n
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      ORDER BY user_id, event_id""",
    "stream_over_nav_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id,
             CAST(first_value(cents) OVER w AS BIGINT) AS first_c,
             last_value(event_type) OVER w AS last_t
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_over_range_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id, ts_us,
             CAST(count(*) OVER w AS BIGINT) AS n_frame,
             CAST(min(cents) OVER w AS BIGINT) AS min_frame,
             CAST(sum(cents) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS avg_frame
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_over_running_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id, ts_us,
             CAST(count(*) OVER w AS BIGINT) AS running_n,
             CAST(sum(cents) OVER w AS BIGINT) AS running_cents
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      ORDER BY user_id, event_id""",
    "stream_over_mixed_frames_sql" -> """
      WITH src AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, event_id, ts_us,
             CAST(sum(cents) OVER w3 AS BIGINT) AS sum_rows3,
             CAST(count(*) OVER wr AS BIGINT) AS n_range,
             CAST(count(*) OVER wu AS BIGINT) AS running_n,
             CAST(round(var_samp(cents) OVER w3
                  * (count(*) OVER w3) * (count(*) OVER w3 - 1)) AS BIGINT) AS var3_m2n,
             CAST(round(stddev_pop(cents) OVER wr * stddev_pop(cents) OVER wr
                  * (count(*) OVER wr) * (count(*) OVER wr)) AS BIGINT) AS stdp_m2n
      FROM src
      WINDOW w3 AS (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
             wr AS (PARTITION BY user_id ORDER BY ts_us
                    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW),
             wu AS (PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_topn_sql" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events)
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "stream_topn" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events) t
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "state_rocksdb_topn" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events) t
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "state_restart_topn" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events) t
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "state_rescale_totals" -> """
      SELECT user_id, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY user_id ORDER BY user_id""",
    "state_rescale_topn" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events) t
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "stream_watermark_idleness" -> """
      WITH m AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS mn FROM events),
      src AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id % 2 = 0
        UNION ALL
        SELECT epoch_us(CAST(ts AS TIMESTAMP)),
               CAST(floor(value * 100) AS BIGINT)
        FROM events, m
        WHERE user_id % 2 = 1
          AND epoch_us(CAST(ts AS TIMESTAMP)) < m.mn + 1800000000)
      SELECT ts_us - ts_us % 900000000 AS ws_us, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM src GROUP BY 1 ORDER BY ws_us""",
    "stream_sorted_emit" -> """
      SELECT user_id AS key, event_id AS id, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS idx
      FROM events
      ORDER BY key, idx""",
    "stream_topn_changelog" -> """
      SELECT event_type, event_id, value, rn
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY value DESC, event_id) AS rn
            FROM events) t
      WHERE rn <= 3 ORDER BY event_type, rn""",
    "stream_current_watermark" -> """
      SELECT event_id,
             epoch_us(ts) AS ts_us,
             CASE WHEN event_id % 2 = 0 THEN NULL
                  ELSE (SELECT (CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT) - 600000) * 1000
                        FROM events WHERE event_id % 2 = 0) END AS wm_us
      FROM events ORDER BY event_id""",
    "stream_over_running" -> """
      SELECT user_id, event_id,
             count(*) OVER w AS running_n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS running_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_temporal_join" -> """
      SELECT event_id, user_id, o_orderkey, o_totalprice
      FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
      ) t WHERE rn = 1
      ORDER BY event_id""",
    "stream_temporal_join_sql" -> """
      SELECT event_id, user_id, o_orderkey, o_totalprice
      FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
      ) t WHERE rn = 1
      ORDER BY event_id""",
    "stream_over_bounded_rows" -> """
      SELECT user_id, event_id,
             count(*) OVER w AS frame_n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS frame_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_over_bounded_range" -> """
      SELECT user_id, event_id,
             count(*) OVER w AS frame_n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS frame_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP)
                   RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",
    "stream_count_window" -> """
      WITH ranked AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        FROM events)
      SELECT user_id, CAST((rn - 1) // 5 + 1 AS BIGINT) AS win_idx,
             count(*) AS n_rows,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS win_cents
      FROM ranked GROUP BY user_id, win_idx
      HAVING count(*) = 5
      ORDER BY user_id, win_idx""",
    "stream_dedup_keepfirst" -> """
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""",
    "stream_count_window_sliding" -> """
      WITH ranked AS (
        SELECT user_id, value, event_id,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT user_id, CAST(rn / 2 AS BIGINT) AS fire_idx,
             CAST(least(rn, 5) AS BIGINT) AS n_rows,
             CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_cents
      FROM ranked
      QUALIFY rn % 2 = 0
      ORDER BY user_id, fire_idx""",
    "stream_session_dynamic" -> """
      WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                    ELSE INTERVAL 30 MINUTE END AS gap
        FROM events),
      flagged AS (
        SELECT user_id, ts, value, gap,
               CASE WHEN max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                      OR ts >= max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_session
        FROM g),
      sessions AS (
        SELECT user_id, ts, value, gap,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS ws, max(ts + gap) AS we, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM sessions GROUP BY user_id, sid ORDER BY user_id, ws""",
    "stream_window_late_capture" -> """
      SELECT 'agg' AS kind, user_id,
             time_bucket(INTERVAL 15 MINUTE, ts) AS ws,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(-1 AS BIGINT) AS late_event_id
      FROM events
      GROUP BY user_id, ws
      ORDER BY user_id, ws""",
    "stream_session_late_refire" -> """
      WITH e AS (SELECT user_id % 5 AS user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      o AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM o)
      SELECT user_id, min(us) AS ws_us, max(us) + 1800000000 AS we_us,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM s GROUP BY user_id, sid ORDER BY user_id, ws_us""",
    "stream_session_late_refire_per_element" -> """
      WITH e AS (SELECT user_id % 5 AS user_id, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      m AS (SELECT min(us) AS mn FROM e),
      wmv AS (SELECT (max(us) // 1000) * 1000 AS wm1 FROM e),
      e2 AS (SELECT e.*, us >= (SELECT mn FROM m) + 3600000000 AS ontime FROM e),
      ots AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                    OR us - lag(us) OVER w > 1800000000
                              THEN 1 ELSE 0 END AS brk
                    FROM e2 WHERE ontime
                    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) t),
      p1 AS (SELECT user_id, min(us) AS ws_us, max(us) + 1800000000 AS we_us,
                    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
             FROM ots GROUP BY user_id, sid
             HAVING max(us) + 1800000000 <= (SELECT wm1 FROM wmv)),
      -- Per-element late firings in CLOSED FORM: late rows arrive in
      -- (us, event_id) order and all precede every on-time row in event
      -- time, so the merged session firing for late row l is exactly
      -- the prefix of l's STATIC late-island up to l, plus the FIRST
      -- on-time island iff its head is within the gap of l. The naive
      -- spelling (a LATERAL prefix re-scan per late row) is quadratic:
      -- at sf10 it spilled DuckDB past the machine's disk.
      lisl AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
               FROM (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                     OR us - lag(us) OVER w > 1800000000
                               THEN 1 ELSE 0 END AS brk
                     FROM e2 WHERE NOT ontime
                     WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) t),
      lpref AS (SELECT user_id, event_id, us,
                  min(us) OVER isl AS chain_ws,
                  count(*) OVER isl AS chain_n,
                  sum(cents) OVER isl AS chain_cents
                FROM lisl
                WINDOW isl AS (PARTITION BY user_id, sid ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING)),
      ofirst AS (SELECT user_id, min(us) AS o1_us, max(us) AS o1_max,
                        count(*) AS o1_n, CAST(sum(cents) AS BIGINT) AS o1_cents
                 FROM ots WHERE sid = 1 GROUP BY user_id),
      p2 AS (SELECT user_id, ws_us, we_us, n, sum_cents FROM (
               SELECT l.user_id, l.chain_ws AS ws_us,
                      CASE WHEN o.o1_us IS NOT NULL AND o.o1_us - l.us <= 1800000000
                           THEN o.o1_max + 1800000000
                           ELSE l.us + 1800000000 END AS we_us,
                      l.chain_n + CASE WHEN o.o1_us IS NOT NULL
                                        AND o.o1_us - l.us <= 1800000000
                                   THEN o.o1_n ELSE 0 END AS n,
                      CAST(l.chain_cents + CASE WHEN o.o1_us IS NOT NULL
                                                 AND o.o1_us - l.us <= 1800000000
                                            THEN o.o1_cents ELSE 0 END AS BIGINT) AS sum_cents
               FROM lpref l LEFT JOIN ofirst o ON l.user_id = o.user_id) q
             WHERE we_us <= (SELECT wm1 FROM wmv)),
      als AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                    OR us - lag(us) OVER w > 1800000000
                              THEN 1 ELSE 0 END AS brk
                    FROM e2
                    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) t),
      p3 AS (SELECT user_id, min(us) AS ws_us, max(us) + 1800000000 AS we_us,
                    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
             FROM als GROUP BY user_id, sid
             HAVING max(us) + 1800000000 > (SELECT wm1 FROM wmv))
      SELECT * FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                     UNION ALL SELECT * FROM p3)
      ORDER BY user_id, ws_us, we_us, n""",
    "stream_window_late_refire" -> """
      WITH b AS (SELECT user_id, event_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      m AS (SELECT min(us) AS mn FROM b),
      wm AS (SELECT (max(us) // 1000) * 1000 AS wm1 FROM b, m WHERE us >= mn + 3600000000),
      w AS (SELECT user_id,
              us - us % 900000000 AS ws_us,
              us >= (SELECT mn FROM m) + 3600000000 AS ontime,
              CAST(floor(value * 100) AS BIGINT) AS cents FROM b)
      SELECT user_id, ws_us, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(CASE WHEN bool_or(ontime) AND bool_or(NOT ontime)
                        AND ws_us + 900000000 <= (SELECT wm1 FROM wm)
                  THEN 2 ELSE 1 END AS BIGINT) AS fires
      FROM w GROUP BY user_id, ws_us ORDER BY user_id, ws_us""",
    "stream_window_late_refire_per_element" -> """
      WITH b AS (SELECT user_id % 5 AS user_id, event_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      m AS (SELECT min(us) AS mn FROM b),
      wm AS (SELECT (max(us) // 1000) * 1000 AS wm1 FROM b, m WHERE us >= mn + 3600000000),
      w AS (SELECT user_id, event_id,
              us - us % 900000000 AS ws_us, us,
              us >= (SELECT mn FROM m) + 3600000000 AS ontime,
              CAST(floor(value * 100) AS BIGINT) AS cents FROM b),
      base AS (SELECT user_id, ws_us,
                 CAST(count(*) FILTER (WHERE ontime) AS BIGINT) AS n_on,
                 CAST(COALESCE(sum(cents) FILTER (WHERE ontime), 0) AS BIGINT) AS c_on,
                 CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(cents) AS BIGINT) AS c_all,
                 (ws_us + 900000000 <= (SELECT wm1 FROM wm)) AS due1
               FROM w GROUP BY user_id, ws_us),
      lat AS (SELECT user_id, ws_us, us, event_id, cents,
                CAST(row_number() OVER pw AS BIGINT) AS i,
                CAST(sum(cents) OVER pw AS BIGINT) AS csum
              FROM w WHERE NOT ontime
              WINDOW pw AS (PARTITION BY user_id, ws_us ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING))
      SELECT user_id, ws_us, CAST(0 AS BIGINT) AS fire_seq,
             CASE WHEN due1 THEN n_on ELSE n_all END AS n,
             CASE WHEN due1 THEN c_on ELSE c_all END AS sum_cents
      FROM base WHERE (due1 AND n_on > 0) OR NOT due1
      UNION ALL
      SELECT l.user_id, l.ws_us,
             CAST(CASE WHEN b2.n_on > 0 THEN l.i ELSE l.i - 1 END AS BIGINT),
             b2.n_on + l.i, b2.c_on + l.csum
      FROM lat l JOIN base b2 USING (user_id, ws_us) WHERE b2.due1
      ORDER BY user_id, ws_us, fire_seq""",
    "stream_window_lateness_capture" -> """
      WITH b AS (SELECT user_id, event_id, value,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      m AS (SELECT min(us) AS mn FROM b)
      SELECT 'agg' AS kind, user_id, us - us % 900000000 AS ws_us,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(-1 AS BIGINT) AS late_event_id
      FROM b, m WHERE us >= mn + 3600000000
      GROUP BY user_id, ws_us
      UNION ALL
      SELECT 'late' AS kind, user_id, us - us % 900000000 AS ws_us,
             CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_cents,
             event_id AS late_event_id
      FROM b, m WHERE us < mn + 3600000000
      ORDER BY kind, user_id, ws_us, late_event_id""",
    "stream_retract_join" -> """
      SELECT c.c_custkey AS key, o.o_orderkey, o.o_totalprice, c.c_acctbal
      FROM customer c JOIN (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) o
        ON o.o_custkey = c.c_custkey AND o.rn = 1
      ORDER BY key""",
    "match_recognize_sql" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts,
               lead(event_id) OVER w AS nid,
               lead(event_type) OVER w AS ntype,
               lead(CAST(ts AS TIMESTAMP)) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      SELECT user_id, event_id AS click_id, nid AS buy_id
      FROM o
      WHERE event_type = 'click' AND ntype = 'purchase'
        AND nts - uts <= INTERVAL 10 MINUTE
      ORDER BY click_id""",
    "stream_cep_next" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS uts,
               lead(event_id) OVER w AS nid,
               lead(event_type) OVER w AS ntype,
               lead(CAST(ts AS TIMESTAMP)) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      SELECT user_id, event_id AS click_id, nid AS buy_id
      FROM o
      WHERE event_type = 'click' AND ntype = 'purchase'
        AND nts - uts <= INTERVAL 10 MINUTE
      ORDER BY click_id""",
    "stream_windowall_agg" -> """
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, count(*) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
      FROM events GROUP BY 1 ORDER BY ws""",
    "stream_union_agg" -> """
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type, count(*) AS n
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2 ORDER BY ws, event_type""",
    "match_recognize_all_rows" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS uts,
               lead(event_id) OVER w AS nid, lead(event_type) OVER w AS ntype,
               lead(value) OVER w AS nval,
               lead(CAST(ts AS TIMESTAMP)) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      m AS (
        SELECT * FROM o
        WHERE event_type = 'click' AND ntype = 'purchase'
          AND nts - uts <= INTERVAL 10 MINUTE)
      SELECT user_id, 'A' AS classifier, event_id, event_type,
             CAST(epoch_us(uts) AS BIGINT) AS ts_us, value, event_id AS a_id
      FROM m
      UNION ALL
      SELECT user_id, 'B' AS classifier, nid AS event_id, ntype AS event_type,
             CAST(epoch_us(nts) AS BIGINT) AS ts_us, nval AS value, event_id AS a_id
      FROM m
      ORDER BY a_id, classifier""",
    "match_recognize_unmatched" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS uts,
               lead(event_type) OVER w AS ntype,
               lead(CAST(ts AS TIMESTAMP)) OVER w AS nts,
               lag(event_id) OVER w AS pid,
               lag(event_type) OVER w AS ptype,
               lag(CAST(ts AS TIMESTAMP)) OVER w AS pts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      c AS (
        SELECT *,
               (event_type = 'click' AND ntype = 'purchase'
                  AND nts - uts <= INTERVAL 30 MINUTE) AS is_a,
               (event_type = 'purchase' AND ptype = 'click'
                  AND uts - pts <= INTERVAL 30 MINUTE) AS is_b
        FROM o)
      SELECT user_id,
             CASE WHEN is_a THEN 'A' WHEN is_b THEN 'B' END AS classifier,
             event_id, event_type,
             CAST(epoch_us(uts) AS BIGINT) AS ts_us, value,
             CASE WHEN is_a THEN event_id WHEN is_b THEN pid END AS a_id
      FROM c
      ORDER BY user_id, ts_us, event_id""",
    // MATCH_RECOGNIZE contiguity is STRICT (consecutive rows, unlike
    // the CEP gate's relaxed followedBy): B must be the row immediately
    // after the click, C the row after that, both within the 12 h
    // window. A timed-out partial is a click whose strict run did not
    // complete; last_step says how far the prefix bound.
    "match_recognize_timeout" -> """
      -- reference TimedOutPartialMatchHandler semantics: only runs
      -- still ALIVE at window expiry are timed out. The pattern is
      -- STRICT-contiguous (A B C), so a click whose ADJACENT row lands
      -- inside the window but is not a view was killed by the
      -- contiguity mismatch (a MISS, not a timeout) — same for a
      -- click+view whose next row inside the window is not a purchase.
      WITH seq AS (
        SELECT user_id, event_id, event_type, ts,
               lead(event_type, 1) OVER w AS t1, lead(ts, 1) OVER w AS ts1,
               lead(event_type, 2) OVER w AS t2, lead(ts, 2) OVER w AS ts2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id,
             CASE WHEN t1 = 'view' AND ts1 <= ts + INTERVAL 12 HOUR
                  THEN 'B' ELSE 'A' END AS last_step
      FROM seq
      WHERE event_type = 'click'
        AND ((t1 IS NULL OR ts1 > ts + INTERVAL 12 HOUR)
             OR (t1 = 'view' AND ts1 <= ts + INTERVAL 12 HOUR
                 AND (t2 IS NULL OR ts2 > ts + INTERVAL 12 HOUR)))
      ORDER BY user_id, click_id""",
    "stream_broadcast_threshold" -> """
      WITH thr AS (
        SELECT event_type,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) // count(*) AS BIGINT) AS t
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.user_id, e.event_type,
             CAST(floor(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN thr USING (event_type)
      WHERE CAST(floor(e.value * 100) AS BIGINT) >= t
      ORDER BY event_id""",
    "stream_evictor_count" -> """
      WITH r AS (
        SELECT user_id, time_bucket(INTERVAL 30 MINUTE, ts) AS ws, value,
               row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL 30 MINUTE, ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, ws, count(*) AS n_kept,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS kept_cents
      FROM r WHERE rn <= 5
      GROUP BY user_id, ws ORDER BY user_id, ws""",
    "stream_evictor_time" -> """
      WITH r AS (
        SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS ws, ts, value,
               max(ts) OVER (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)) AS mx
        FROM events)
      SELECT event_type, ws, count(*) AS n_kept,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS kept_cents
      FROM r WHERE ts > mx - INTERVAL 1 HOUR
      GROUP BY event_type, ws ORDER BY event_type, ws""",
    "stream_evictor_delta" -> """
      WITH r AS (
        SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS ws,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               last_value(CAST(floor(value * 100) AS BIGINT)) OVER (
                 PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_cents
        FROM events)
      SELECT event_type, ws, count(*) AS n_kept, CAST(sum(cents) AS BIGINT) AS kept_cents
      FROM r WHERE abs(cents - last_cents) < 10000
      GROUP BY event_type, ws ORDER BY event_type, ws""",
    "stream_trigger_purging" -> """
      WITH r AS (
        SELECT event_type, time_bucket(INTERVAL 24 HOUR, ts) AS ws,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL 24 HOUR, ts)
                                  ORDER BY ts, event_id) AS rn
        FROM events)
      SELECT event_type, ws, CAST((rn - 1) // 5 + 1 AS BIGINT) AS fire_idx,
             count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS pane_cents
      FROM r GROUP BY event_type, ws, (rn - 1) // 5
      HAVING count(*) = 5
      ORDER BY event_type, ws, fire_idx""",
    "stream_trigger_delta" -> """
      WITH RECURSIVE r AS MATERIALIZED (
        -- MATERIALIZED: the recursive walk references the row table
        -- every iteration and DuckDB re-inlines plain CTEs — at sf10
        -- that recomputes the 10M-row double-window sort once per
        -- iteration (hours) instead of probing a materialized table.
        SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS ws, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER w AS rn,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS run_cents,
               dense_rank() OVER (ORDER BY event_type, time_bucket(INTERVAL 6 HOUR, ts)) AS gid
        FROM events
        WINDOW w AS (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                     ORDER BY ts, event_id)),
      -- The recursion advances every group one row per iteration, so
      -- its cost is (max rows per group) x (probe of the row table).
      -- Two reductions keep that tractable at scale: (a) the walk runs
      -- over a NARROW integer-keyed projection, and (b) runs of equal
      -- consecutive cents collapse to their first row — a row whose
      -- cents equal its predecessor's can neither fire (same distance
      -- to the inherited baseline; zero distance to a freshly-reset
      -- one) nor move the baseline, so dropping it changes nothing
      -- downstream. Fired rows keep their ORIGINAL rn/run_cents via
      -- the final join back to r. At sf10 (21k-row groups of ~100-run
      -- duplicates) this took the oracle from 68 min to seconds.
      rw AS MATERIALIZED (
        SELECT gid, rn, cents,
               row_number() OVER (PARTITION BY gid ORDER BY rn) AS crn
        FROM (SELECT gid, rn, cents,
                     lag(cents) OVER (PARTITION BY gid ORDER BY rn) AS pc
              FROM r) t0
        WHERE pc IS NULL OR cents <> pc),
      walk AS (
        SELECT gid, rn, crn, cents AS baseline, FALSE AS fired
        FROM rw WHERE crn = 1
        UNION ALL
        SELECT n.gid, n.rn, n.crn,
               CASE WHEN abs(n.cents - w.baseline) > 15000 THEN n.cents ELSE w.baseline END,
               abs(n.cents - w.baseline) > 15000
        FROM walk w JOIN rw n ON n.gid = w.gid AND n.crn = w.crn + 1)
      SELECT r.event_type, r.ws, r.event_id AS fire_id,
             CAST(r.rn AS BIGINT) AS n_at_fire,
             r.run_cents AS cents_at_fire
      FROM walk w JOIN r ON r.gid = w.gid AND r.rn = w.rn
      WHERE w.fired ORDER BY r.event_type, r.ws, r.rn""",
    "stream_trigger_continuous" -> """
      WITH w AS (
        SELECT event_type, time_bucket(INTERVAL 6 HOUR, ts) AS ws, min(ts) AS mn
        FROM events GROUP BY 1, 2),
      b AS (
        SELECT event_type, ws, fire FROM (
          SELECT event_type, ws,
                 unnest(generate_series(time_bucket(INTERVAL 1 HOUR, mn) + INTERVAL 1 HOUR,
                                        ws + INTERVAL 6 HOUR, INTERVAL 1 HOUR)) AS fire
          FROM w) WHERE fire < ws + INTERVAL 6 HOUR
        UNION ALL
        SELECT event_type, ws, ws + INTERVAL 6 HOUR AS fire FROM w)
      SELECT b.event_type, b.ws, b.fire, count(*) AS n_so_far,
             CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS cents_so_far
      FROM b JOIN events e
        ON e.event_type = b.event_type
       AND time_bucket(INTERVAL 6 HOUR, e.ts) = b.ws
       AND e.ts < b.fire
      GROUP BY b.event_type, b.ws, b.fire
      ORDER BY b.event_type, b.ws, b.fire""",
    "stream_cep_absence" -> """
      SELECT user_id, event_id AS click_id
      FROM events c
      WHERE event_type = 'click' AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
          AND p.ts <= c.ts + INTERVAL 10 MINUTE)
      ORDER BY user_id, click_id"""
  )
}
