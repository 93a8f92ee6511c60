package graft.queries

import graft.{QueryPack, Tables}
import graft.streaming.{Cep, Ev, StreamOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-stream event for the generic (non-`Ev`) CEP gate: the CEP
 * engine is generic over any case-class event type (reference
 * `cep/operator/CepOperator.java:81`, `Pattern<T, F extends T>`), so
 * this gate runs a pattern over the `orders` table — partition key
 * `o_custkey`, event time `o_orderdate` (epoch micros), id
 * `o_orderkey`. */
case class OrderEv(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, ts_us: Long)

/**
 * Oracle gates for the advanced CEP pattern surface (SURVEY.md §2.9):
 * `until()` stop conditions (reference `cep/pattern/Pattern.java:219`),
 * iterative conditions reading the partial match + PREV rows
 * (`cep/pattern/conditions/IterativeCondition.java:59`), group-pattern
 * splicing (`cep/pattern/GroupPattern.java:30`), and genericity over
 * the event type (`Pattern.java:128` type parameter).
 *
 * Each gate is a REAL Structured Streaming query (file source →
 * flatMapGroupsWithState NFA → memory sink) hash-checked against a
 * DuckDB oracle expressing the same earliest-match semantics with
 * chained LATERAL first-qualifying scans.
 *
 * Scale notes: state per key is bounded by the pattern's `within`
 * horizon (watermark eviction inside `Cep.runBoundBy`); matching is
 * per-key sequential over that bounded buffer, so the work distributes
 * by partition key with no shuffle beyond the initial groupByKey.
 */
object CepQueries extends QueryPack {

  private val TenMinUs = 10L * 60 * 1000 * 1000
  private val TwelveHoursUs = 12L * 3600 * 1000 * 1000
  private val ThreeDaysUs = 3L * 24 * 3600 * 1000 * 1000
  private val NinetyDaysUs = 90L * 24 * 3600 * 1000 * 1000

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HOT-KEY FLOOD (the round-13 verdict's CEP stress case — one key,
    // the ENTIRE event stream in one partition, long within, many
    // concurrently-open runs): every event remaps to user 0, cheap
    // clicks open runs and only rare expensive purchases (>300, ~0.1%)
    // complete them inside a 12-hour window; completions AND timed-out
    // runs both gate against the oracle. This is the workload class
    // the incremental matcher exists for: open runs RESUME over each
    // batch's new events (reference NFA per-event cost,
    // cep/nfa/NFA.java:86) instead of re-scanning the horizon buffer
    // per micro-batch — the per-batch cost bound is pinned
    // deterministically in CepSpec ("hot-key flood" test, scanOps
    // counter). Single-key work is inherently one task; the bench row
    // records the absolute cost of that worst case.
    "stream_cep_hotkey_flood" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val in = StreamOps.eventsTypedWithKeyedSentinels(s, dir)
        .map(e => e.copy(user_id = 0L))
      val pattern = Cep.Pattern
        .begin("a", (e: Ev) => e.event_type == "click" && e.value < 1.0)
        .followedBy("b", (e: Ev) => e.event_type == "purchase" && e.value > 300.0)
        .within(TwelveHoursUs)
      val out = Cep.runBoundBy(in, pattern, "user_id", "ts_us", "event_id",
        timedOut = true)
      val head = col("binds").getItem(0)
      StreamOps.runToBatch(s, out.toDF(), "append", "cep_flood")
        .filter(head.getField("ev").getField("event_id") =!= -1L)
        .select(
          head.getField("ev").getField("event_id").as("a_id"),
          when(size(col("binds")) === 2,
            col("binds").getItem(1).getField("ev").getField("event_id")).as("b_id"),
          when(head.getField("step").startsWith(Cep.TimedOutStep), lit("timeout"))
            .otherwise(lit("match")).as("kind"))
        .orderBy(col("a_id"))
    }),

    // QUANTIFIED HOT-KEY FLOOD (round-15 verdict task): the same
    // one-key stress shape as stream_cep_hotkey_flood, but with a
    // quantified loop (`oneOrMore` — the reference's default reluctant
    // relaxed quantifier) between the opening click and the rare
    // completing purchase. Round 14's incremental matcher only
    // resumed all-Once chains; quantified patterns re-derived from the
    // whole horizon buffer each micro-batch. The loop families are now
    // incremental too (open runs resume per batch, cost open-runs ×
    // NEW events — reference NFA quantifier states, cep/nfa/State.java)
    // — the deterministic cost pin is CepSpec's "quantified hot-key
    // flood" scanOps bound. Reluctant semantics: the loop consumes the
    // FIRST view after the click; the purchase is the first qualifying
    // one after that view.
    "stream_cep_hotkey_flood_quantified" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val in = StreamOps.eventsTypedWithKeyedSentinels(s, dir)
        .map(e => e.copy(user_id = 0L))
      val pattern = Cep.Pattern
        .begin("a", (e: Ev) => e.event_type == "click" && e.value < 1.0)
        .oneOrMore("v", (e: Ev) => e.event_type == "view")
        .followedBy("b", (e: Ev) => e.event_type == "purchase" && e.value > 300.0)
        .within(TwelveHoursUs)
      require(Cep.incrementalEligible(pattern),
        "flood gate must exercise the incremental quantified path")
      val out = Cep.runBoundBy(in, pattern, "user_id", "ts_us", "event_id")
      val head = col("binds").getItem(0)
      StreamOps.runToBatch(s, out.toDF(), "append", "cep_qflood")
        .filter(head.getField("ev").getField("event_id") =!= -1L)
        .select(
          head.getField("ev").getField("event_id").as("a_id"),
          col("binds").getItem(1).getField("ev").getField("event_id").as("v_id"),
          col("binds").getItem(2).getField("ev").getField("event_id").as("b_id"))
        .orderBy(col("a_id"))
    }),

    // until() stop condition on a looping step (reference
    // `Pattern.java:219`): a click followed by page views, where the
    // view loop stops (unconsumed) at the first purchase — so the match
    // exists only if a view is reached BEFORE any purchase. Reluctant
    // oneOrMore emits the minimal (first-view) match.
    "stream_cep_until" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("click", _.event_type == "click")
        .oneOrMore("page", _.event_type == "view")
        .until(_.event_type == "purchase")
        .within(TenMinUs)
      StreamOps.runToBatch(
        s, Cep.run(StreamOps.eventsTyped(s, dir), pattern).toDF(),
        "append", "stream_cep_until")
        .select(col("user_id"),
          col("event_ids").getItem(0).as("click_id"),
          col("event_ids").getItem(1).as("view_id"))
        .orderBy(col("click_id"))
    }),

    // Iterative condition (reference `IterativeCondition.java:59` +
    // MATCH_RECOGNIZE PREV): the second step's predicate reads the
    // partial match (`ctx.eventsFor("click")` — the purchase must beat
    // the click's value) AND the physical predecessor row
    // (`ctx.prev(1)` — the purchase must not directly follow an error).
    "stream_cep_iterative" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("click", _.event_type == "click")
        .followedByIter("big_buy", (e, ctx) =>
          e.event_type == "purchase" &&
            ctx.eventsFor("click").headOption.exists(c => e.value > c.value) &&
            ctx.prev(1).forall(_.event_type != "error"))
        .within(TwelveHoursUs)
      StreamOps.runToBatch(
        s, Cep.run(StreamOps.eventsTyped(s, dir), pattern).toDF(),
        "append", "stream_cep_iter")
        .select(col("user_id"),
          col("event_ids").getItem(0).as("click_id"),
          col("event_ids").getItem(1).as("buy_id"))
        .orderBy(col("click_id"))
    }),

    // Group-pattern splicing (reference `GroupPattern.java:30`,
    // `Pattern.followedBy(Pattern).times(n)`): a (view → purchase)
    // group repeated twice after a click, relaxed contiguity
    // throughout, each repetition's bindings addressable via the
    // `name#k` convention.
    "stream_cep_group" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val grp = Cep.Pattern.of[graft.streaming.Ev]("v", _.event_type == "view")
        .followedBy("b", _.event_type == "purchase")
      val pattern = Cep.Pattern
        .begin("click", _.event_type == "click")
        .timesGroup(grp, 2)
        .within(ThreeDaysUs)
      StreamOps.runToBatch(
        s, Cep.run(StreamOps.eventsTyped(s, dir), pattern).toDF(),
        "append", "stream_cep_group")
        .select(col("user_id"),
          col("event_ids").getItem(0).as("click_id"),
          col("event_ids").getItem(1).as("v1_id"),
          col("event_ids").getItem(2).as("b1_id"),
          col("event_ids").getItem(3).as("v2_id"),
          col("event_ids").getItem(4).as("b2_id"))
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE aggregate measures (reference
    // `MatchCodeGenerator.scala:61-354` aggregate support): COUNT/SUM/
    // MAX over a one-or-more pattern variable — a click followed by a
    // maximal strict run of >=1-dollar events within 30 minutes.
    "match_recognize_agg_measures" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val df = StreamOps.eventsTyped(s, dir).toDF()
        .withColumn("value_cents", floor(col("value") * 100).cast("long"))
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS start_id, COUNT(B.*) AS n_b,
                   SUM(B.value_cents) AS sum_b, MAX(B.value_cents) AS max_b
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B+)
          WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.event_type = 'click', B AS B.value_cents >= 100
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(df, mrSql, "event_id"),
          "append", "mr_agg")
        .orderBy(col("start_id"))
    }),

    // allowCombinations() (reference Pattern.java:437,
    // Quantifier.combinations() — SKIP_TILL_ANY inner contiguity):
    // signup → one-or-more views → purchase, where every in-order
    // SUB-SEQUENCE of the views (first-qualifying view always
    // included, later views each in-or-out) is its own match. The
    // oracle counts branches per (signup, last view, buy) exactly:
    // 2^(views strictly between the first and the last consumed view).
    "stream_cep_combinations" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("signup", _.event_type == "signup")
        .oneOrMore("views", _.event_type == "view")
        .allowCombinations()
        .followedBy("buy", _.event_type == "purchase")
        .within(ThreeDaysUs)
      StreamOps.runToBatch(
        s, Cep.run(StreamOps.eventsTyped(s, dir), pattern).toDF(),
        "append", "stream_cep_combos")
        .select(col("event_ids").getItem(0).as("signup_id"),
          element_at(col("event_ids"), -2).as("last_view_id"),
          element_at(col("event_ids"), -1).as("buy_id"))
        .groupBy("signup_id", "last_view_id", "buy_id")
        .agg(count(lit(1)).as("n_branches"))
        .orderBy("signup_id", "last_view_id")
    }),

    // MATCH_ROWTIME() measure (reference FlinkSqlOperatorTable.java:127
    // — the rowtime attribute of the match, FLIP-deferred TIMESTAMP_LTZ
    // rewrite aside): a signup immediately followed by a purchase; the
    // match's rowtime then drives a DOWNSTREAM 30-minute tumbling
    // window aggregate, proving the measure stays a usable time
    // attribute after MATCH_RECOGNIZE (the reference's reason this
    // function exists).
    "match_recognize_rowtime" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS signup_id, B.event_id AS buy_id,
                   MATCH_ROWTIME() AS mrt
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '60' MINUTE
          DEFINE A AS A.event_type = 'signup', B AS B.event_type = 'purchase'
        )"""
      val matches = graft.sqlx.MatchRecognize.run(
        StreamOps.eventsTyped(s, dir).toDF(), mrSql, "event_id")
      StreamOps.runToBatch(s, matches, "append", "mr_rowtime")
        .groupBy(window(timestamp_micros(col("mrt")), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_matches"), sum(col("buy_id")).as("buy_id_sum"))
        .select(unix_seconds(col("w.start")).as("bucket_s"),
          col("n_matches"), col("buy_id_sum"))
        .orderBy(col("bucket_s"))
    }),

    // MATCH_RECOGNIZE with PREV and a cross-symbol DEFINE (reference
    // MatchCodeGenerator PREV navigation + inter-variable conditions):
    // a purchase directly after a click that beats BOTH the click's
    // value (cross-symbol LAST(A.value)) and the value two rows back
    // (PREV(B.value, 2)).
    "match_recognize_prev_define" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS click_id, B.event_id AS buy_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '60' MINUTE
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'purchase' AND B.value > LAST(A.value)
                      AND B.value > PREV(B.value, 2)
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_prev")
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE PATTERN alternation `(H | L)` (reference
    // flink-sql-parser pattern grammar + StreamExecMatch): the row
    // after each click binds to the FIRST alternative whose DEFINE
    // holds (H: value >= 0.5, else L), preserving the classifier in
    // MEASURES; SKIP TO NEXT ROW keeps overlapping matches (a click's
    // alternation row can start the next match).
    "match_recognize_alternation" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES C.event_id AS click_id, H.event_id AS h_id, L.event_id AS l_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (C (H | L))
          WITHIN INTERVAL '30' MINUTE
          DEFINE C AS C.event_type = 'click',
                 H AS H.value >= 0.5,
                 L AS L.value < 0.5
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_alt")
        .orderBy(col("click_id"))
    }),

    // BATCH-mode MATCH_RECOGNIZE (reference BatchExecMatch — the same
    // SQL text runs in bounded queries): identical parse/compile/
    // measures, but the matcher runs once per key over the sorted
    // bounded input — no streaming machinery. Same query text and
    // oracle as the streaming alternation gate, so the two modes are
    // pinned result-identical.
    "match_recognize_batch" -> ((s, dir) => {
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES C.event_id AS click_id, H.event_id AS h_id, L.event_id AS l_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (C (H | L))
          WITHIN INTERVAL '30' MINUTE
          DEFINE C AS C.event_type = 'click',
                 H AS H.value >= 0.5,
                 L AS L.value < 0.5
        )"""
      val batch = StreamOps.evView(Tables.load(s, dir, "events")).toDF()
      graft.sqlx.MatchRecognize.runBatch(batch, mrSql, "event_id")
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE EXCLUSION `{- B -}` (SQL:2016 row pattern
    // exclusion; reference flink-sql-parser pattern grammar): the
    // middle symbol matches (and is visible to DEFINE/MEASURES via
    // COUNT(B.*)) but its rows are omitted from ALL ROWS output.
    "match_recognize_exclusion" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, COUNT(B.*) AS n_b
          ALL ROWS PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A {- B -} C)
          WITHIN INTERVAL '6' HOUR
          DEFINE A AS A.event_type = 'click', C AS C.event_type = 'purchase'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_excl")
        .orderBy(col("a_id"), col("classifier"))
    }),

    // MATCH_RECOGNIZE SUBSET union variables (SQL:2016 SUBSET clause;
    // reference flink-sql-parser SUBSET + MatchCodeGenerator union
    // variables): U = (B, C) is navigable in MEASURES as the
    // time-ordered union of its members' rows — COUNT spans the B run
    // plus the C row, FIRST lands on the first B, LAST on C. The B+
    // run is maximal (value < 40), C is the run-ending row iff it
    // clears 80, and the whole match sits inside the 6-hour horizon.
    "match_recognize_subset" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, COUNT(U.*) AS n_u,
                   FIRST(U.event_id) AS first_u, LAST(U.event_id) AS last_u
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B+ C)
          SUBSET U = (B, C)
          WITHIN INTERVAL '6' HOUR
          DEFINE A AS A.event_type = 'click',
                 B AS B.value < 40,
                 C AS C.value >= 80
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_sub")
        .orderBy(col("a_id"))
    }),

    // MATCH_RECOGNIZE QUANTIFIED alternation group (H | L)+ (reference
    // pattern grammar allows quantifiers on groups): after each click,
    // the maximal contiguous run inside the 30-minute horizon — every
    // row satisfies H (value >= 50) or L — with each repetition
    // binding its first qualifying alternative, so COUNT and LAST per
    // variable split the run by branch.
    "match_recognize_alt_quant" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES C.event_id AS click_id, COUNT(H.*) AS n_h,
                   COUNT(L.*) AS n_l, LAST(H.event_id) AS last_h
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (C (H | L)+)
          WITHIN INTERVAL '30' MINUTE
          DEFINE C AS C.event_type = 'click',
                 H AS H.value >= 50,
                 L AS L.value < 50
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_altq")
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE CLASSIFIER() measure (SQL:2016; reference
    // StreamExecMatch classifier output): under ONE ROW PER MATCH it
    // names the LAST matched row's pattern variable — here the
    // alternation branch (H or L) the row after each click bound to.
    "match_recognize_classifier" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES C.event_id AS click_id, CLASSIFIER() AS cls
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (C (H | L))
          WITHIN INTERVAL '30' MINUTE
          DEFINE C AS C.event_type = 'click',
                 H AS H.value >= 50,
                 L AS L.value < 50
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_cls")
        .orderBy(col("click_id"))
    }),

    // MATCH_RECOGNIZE zero-or-more quantifier B* (SQL row-pattern
    // grammar; reference Quantifier.looping + optional, i.e.
    // oneOrMore().optional()): a click, a maximal POSSIBLY-EMPTY
    // low-value run, then the run-ending row clearing 80 — an empty
    // run leaves FIRST/LAST(B.*) NULL in the measures.
    "match_recognize_star" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, COUNT(B.*) AS n_b,
                   FIRST(B.event_id) AS first_b, LAST(B.event_id) AS last_b
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B* C)
          WITHIN INTERVAL '24' HOUR
          DEFINE A AS A.event_type = 'click',
                 B AS B.value < 50,
                 C AS C.value >= 80
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_star")
        .orderBy(col("a_id"))
    }),

    // MATCH_RECOGNIZE min-unbounded quantifier B{2,} (SQL row-pattern
    // quantifier grammar; reference flink-sql-parser): one required
    // step plus a MAXIMAL one-or-more tail — a click, a low-value run
    // of at least TWO rows, then the run-ending row clearing 80, all
    // inside a 24-hour horizon.
    // MATCH_RECOGNIZE with a QUANTIFIED FIRST symbol (`H+ L`): the
    // reference allows any head quantifier as long as the whole
    // pattern cannot match empty (StreamExecMatch.java:143-145); the
    // engine anchors the greedy head run at each candidate row. SKIP
    // PAST LAST makes matches the maximal high-value runs that an
    // under-5 row terminates.
    "match_recognize_quant_head" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(H.event_id) AS start_id, COUNT(H.*) AS n_h,
                   L.event_id AS l_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (H+ L)
          WITHIN INTERVAL '90' DAY
          DEFINE H AS H.value >= 20,
                 L AS L.value < 5
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_qhead")
        .orderBy(col("user_id"), col("start_id"))
    }),

    "match_recognize_min_quant" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, COUNT(B.*) AS n_b,
                   FIRST(B.event_id) AS first_b, LAST(B.event_id) AS last_b
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B{2,} C)
          WITHIN INTERVAL '24' HOUR
          DEFINE A AS A.event_type = 'click',
                 B AS B.value < 50,
                 C AS C.value >= 80
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_minq")
        .orderBy(col("a_id"))
    }),

    // MATCH_RECOGNIZE PATTERN PERMUTE(A, B) (SQL:2016 row-pattern
    // PERMUTE; reference flink-sql-parser grammar expands it to the
    // lexicographic alternation ((A B) | (B A))): two contiguous rows
    // bind A and B in EITHER order, and the matcher backtracks across
    // alternatives — a first row satisfying both A and B re-binds to B
    // when the A-first assignment strands the second row. SKIP TO NEXT
    // ROW keeps overlapping pairs.
    "match_recognize_permute" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, B.event_id AS b_id, A.value AS a_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (PERMUTE(A, B))
          WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.value >= 0.3,
                 B AS B.event_type = 'click'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "mr_perm")
        .orderBy(col("a_id"), col("b_id"))
    }),

    // PER-STEP time gap (reference Pattern.within(duration,
    // WithinType.PREVIOUS_AND_CURRENT), Pattern.java:245): a click and
    // its next TWO rows, each CONSECUTIVE pair at most 30 minutes
    // apart — the whole-match 4-hour within alone would accept a
    // 2-hour middle gap that withinStep rejects.
    "stream_cep_step_gap" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val pattern = Cep.Pattern
        .begin("a", (_: graft.streaming.Ev).event_type == "click")
        .next("b", (_: graft.streaming.Ev) => true)
        .next("c", (_: graft.streaming.Ev) => true)
        .within(4L * 3600 * 1000000)
        .withinStep(30L * 60 * 1000000)
      val matches = Cep.runBound(StreamOps.eventsTyped(s, dir), pattern)
        .map(m => (m.user_id, m.binds(0).ev.event_id,
          m.binds(1).ev.event_id, m.binds(2).ev.event_id))
        .toDF("user_id", "a_id", "b_id", "c_id")
      StreamOps.runToBatch(s, matches, "append", "cep_gap")
        .orderBy(col("a_id"))
    }),

    // AFTER MATCH SKIP PAST LAST ROW, overlap-sensitive (reference
    // cep/nfa/aftermatch/AfterMatchSkipStrategy.java): each click
    // pairs with its next row, and the CONSUMED row cannot start the
    // next match — so within a run of consecutive clicks only the odd
    // positions start matches (NO_SKIP would match every click; the
    // spec asserts the two differ on exactly this fixture shape).
    "stream_cep_skip_past_last" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS a_id, B.event_id AS b_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS A.event_type = 'click'
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.eventsTyped(s, dir), mrSql),
          "append", "cep_skip")
        .orderBy(col("a_id"))
    }),

    // MATCH_RECOGNIZE over a non-events schema (the DEFINE/PARTITION
    // whitelist is gone — any column set works): per customer, a
    // filled order directly followed by a pricier open one.
    "match_recognize_generic" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val mrSql = """
        SELECT * FROM orders MATCH_RECOGNIZE (
          PARTITION BY o_custkey
          ORDER BY o_orderdate
          MEASURES F.o_orderkey AS f_key, O.o_orderkey AS o_key
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (F O)
          WITHIN INTERVAL '90' DAY
          DEFINE F AS F.o_orderstatus = 'F',
                 O AS O.o_orderstatus = 'O' AND O.o_totalprice > LAST(F.o_totalprice)
        )"""
      StreamOps.runToBatch(s,
          graft.sqlx.MatchRecognize.run(StreamOps.readStream(s, dir, "orders"), mrSql, "o_orderkey"),
          "append", "mr_gen")
        .orderBy(col("f_key"))
    }),

    // Genericity over the event type (reference `Pattern.java:128`
    // `Pattern<T, F extends T>`, `CepOperator.java:81`): the same NFA
    // runs over the `orders` schema via `runBoundBy` — per customer, a
    // filled order ('F') followed within 90 days by an open one ('O').
    "stream_cep_generic" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      import s.implicits._
      val orders = StreamOps.readStream(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"))
        .as[OrderEv]
      val pattern = Cep.Pattern.of[OrderEv]("f", _.o_orderstatus == "F")
        .followedBy("o", _.o_orderstatus == "O")
        .within(NinetyDaysUs)
      val matches = Cep
        .runBoundBy(orders, pattern, "o_custkey", "ts_us", "o_orderkey")
        .map(m => (m.binds.head.ev.o_custkey,
          m.binds.head.ev.o_orderkey, m.binds(1).ev.o_orderkey))
        .toDF("o_custkey", "f_key", "o_key")
      StreamOps.runToBatch(s, matches, "append", "stream_cep_gen")
        .orderBy(col("f_key"))
    }),

    // Timed-out partial matches (reference `TimedOutPartialMatchHandler`
    // via `PatternStream.flatSelect(timeoutTag, …)` —
    // `cep/PatternStream.java:26`): click → view → purchase within 10
    // minutes; a click whose window closes before the pattern completes
    // surfaces on the timeout channel with its maximal partial binding
    // ([click] or [click, view] — `steps_bound` counts it). Eviction is
    // the timeout point (watermark > start + within, the reference's
    // own condition), driven to completion by the per-key sentinel
    // rounds.
    "stream_cep_timeout" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val pattern = Cep.Pattern
        .begin("click", (_: Ev).event_type == "click")
        .followedBy("view", _.event_type == "view")
        .followedBy("purchase", _.event_type == "purchase")
        .within(TwelveHoursUs)
      val out = Cep.runBoundBy(
        StreamOps.eventsTypedWithKeyedSentinels(s, dir),
        pattern, "user_id", "ts_us", "event_id", timedOut = true)
      val head = col("binds").getItem(0)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_cep_timeout")
        .where(head.getField("step").startsWith(Cep.TimedOutStep))
        .select(head.getField("ev").getField("user_id").as("user_id"),
          head.getField("ev").getField("event_id").as("click_id"),
          size(col("binds")).cast("long").as("steps_bound"))
        .where(col("click_id") =!= -1L)
        .orderBy(col("user_id"), col("click_id"))
    }),

    // Late-data side output (reference `PatternStream.sideOutputLateData`
    // — `cep/PatternStream.java:76`): events staged so the first
    // micro-batch carries everything at/after min(ts)+1h and the second
    // the remainder, with a 10 s watermark delay — the second batch's
    // rows below the admission horizon (watermark − within) surface on
    // the tagged late channel instead of vanishing, checked by
    // (user_id, event_id).
    "stream_cep_late_capture" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      val OneHourUs = 3600L * 1000 * 1000
      val pattern = Cep.Pattern
        .begin("click", (_: Ev).event_type == "click")
        .followedBy("purchase", _.event_type == "purchase")
        .within(TenMinUs)
      val out = Cep.runBoundBy(
        StreamOps.eventsTypedLateSplit(s, dir, OneHourUs),
        pattern, "user_id", "ts_us", "event_id",
        watermarkDelay = "10 seconds", lateCapture = true)
      val head = col("binds").getItem(0)
      StreamOps.runToBatch(s, out.toDF(), "append", "stream_cep_late")
        .where(head.getField("step") === Cep.LateStep)
        .select(head.getField("ev").getField("user_id").as("user_id"),
          head.getField("ev").getField("event_id").as("event_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // MATCH_RECOGNIZE as plain query text through the unified SQL door
    // (reference `TableEnvironment.executeSql` planning the clause via
    // StreamExecMatch): the clause splices into a temp view
    // (`sqlx/MatchRecognizeSql`), the outer SELECT/WHERE run as
    // ordinary SQL over it, and the ORDER BY second sort key names the
    // unique-id tiebreaker in-text — no programmatic idCol anywhere.
    "match_recognize_sql_door" -> ((s0, dir) => {
      val s = StreamOps.tuned(s0)
      StreamOps.eventsTyped(s, dir).toDF().createOrReplaceTempView("events_mr")
      val out = new graft.api.TableEnv(s).executeSql("""
        SELECT user_id, click_id, buy_id,
               CAST(floor(buy_value * 100) AS BIGINT) AS cents
        FROM events_mr MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES A.event_id AS click_id, B.event_id AS buy_id,
                   B.value AS buy_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '30' MINUTE
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'purchase'
        ) AS m
        WHERE floor(buy_value * 100) >= 50""")
      StreamOps.runToBatch(s, out, "append", "mr_door")
        .orderBy(col("click_id"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "stream_cep_hotkey_flood_quantified" -> """
      WITH e AS (
        SELECT event_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      -- Next-qualifying-row CLOSED FORM: 'first view / first qualifying
      -- purchase strictly after (us, event_id)' is one IGNORE NULLS
      -- window over the reverse frame of the sorted stream. The
      -- correlated LIMIT-1 spelling decorrelates into clicks x every
      -- candidate inside the 12h horizon - quadratic in time DENSITY
      -- (x100 at sf10 on both axes; ENOSPC'd DuckDB's spill). The
      -- first-after row either satisfies the horizon bound or nothing
      -- later can, so the bound becomes a plain post-filter.
      nxt AS MATERIALIZED (
        SELECT event_id, event_type, value, us,
               first_value(CASE WHEN event_type = 'view'
                                THEN struct_pack(us := us, id := event_id) END
                           IGNORE NULLS) OVER aft AS nv,
               first_value(CASE WHEN event_type = 'purchase' AND value > 300
                                THEN struct_pack(us := us, id := event_id) END
                           IGNORE NULLS) OVER aft AS np
        FROM e
        WINDOW aft AS (ORDER BY us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      a AS (SELECT event_id AS a_id, us AS a_us,
                   struct_extract(nv, 'id') AS v_id
            FROM nxt
            WHERE event_type = 'click' AND value < 1 AND nv IS NOT NULL
              AND struct_extract(nv, 'us') - us <= 43200000000),
      mb AS (SELECT a.a_id, a.v_id, a.a_us, vv.np
             FROM a JOIN nxt vv ON vv.event_id = a.v_id)
      SELECT a_id, v_id, struct_extract(np, 'id') AS b_id
      FROM mb
      WHERE np IS NOT NULL
        AND struct_extract(np, 'us') - a_us <= 43200000000
      ORDER BY a_id""",
    "stream_cep_hotkey_flood" -> """
      WITH e AS (
        SELECT event_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      nxt AS (
        SELECT event_id, event_type, value, us,
               first_value(CASE WHEN event_type = 'purchase' AND value > 300
                                THEN struct_pack(us := us, id := event_id) END
                           IGNORE NULLS) OVER aft AS np
        FROM e
        WINDOW aft AS (ORDER BY us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT event_id AS a_id,
             CASE WHEN np IS NOT NULL
                   AND struct_extract(np, 'us') - us <= 43200000000
                  THEN struct_extract(np, 'id') END AS b_id,
             CASE WHEN np IS NULL
                   OR struct_extract(np, 'us') - us > 43200000000
                  THEN 'timeout' ELSE 'match' END AS kind
      FROM nxt
      WHERE event_type = 'click' AND value < 1 ORDER BY a_id""",
    "match_recognize_agg_measures" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, ts,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER w AS rn,
               sum(CASE WHEN CAST(floor(value * 100) AS BIGINT) >= 100 THEN 0 ELSE 1 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nq
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT c.user_id, c.event_id AS start_id, count(*) AS n_b,
             CAST(sum(b.cents) AS BIGINT) AS sum_b, max(b.cents) AS max_b
      FROM o c JOIN o b ON b.user_id = c.user_id AND b.rn > c.rn AND b.nq = c.nq
        AND b.ts <= c.ts + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click'
      GROUP BY c.user_id, c.event_id
      ORDER BY start_id""",
    "stream_cep_combinations" -> """
      WITH ord AS (
        SELECT event_id, user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      sgn AS (SELECT * FROM ord WHERE event_type = 'signup'),
      vw  AS (SELECT * FROM ord WHERE event_type = 'view'),
      pur AS (SELECT * FROM ord WHERE event_type = 'purchase'),
      v1 AS (
        SELECT s.user_id, s.event_id AS s_id, s.rn AS s_rn, s.ts AS s_ts,
               min(v.rn) AS v1_rn
        FROM sgn s JOIN vw v
          ON v.user_id = s.user_id AND v.rn > s.rn
         AND v.ts <= s.ts + INTERVAL 3 DAY
        GROUP BY 1, 2, 3, 4),
      lastv AS (
        SELECT f.user_id, f.s_id, f.s_ts, f.v1_rn, v.rn AS lv_rn, v.event_id AS lv_id
        FROM v1 f JOIN vw v ON v.user_id = f.user_id AND v.rn >= f.v1_rn
         AND v.ts <= f.s_ts + INTERVAL 3 DAY),
      ok AS (
        SELECT l.s_id, l.lv_id, l.user_id, l.v1_rn, l.lv_rn,
               (SELECT p.event_id FROM pur p WHERE p.user_id = l.user_id
                  AND p.rn > l.lv_rn AND p.ts <= l.s_ts + INTERVAL 3 DAY
                ORDER BY p.rn LIMIT 1) AS buy_id
        FROM lastv l)
      SELECT o.s_id AS signup_id, o.lv_id AS last_view_id, o.buy_id,
             CAST(power(2, (SELECT count(*) FROM vw m WHERE m.user_id = o.user_id
                  AND m.rn > o.v1_rn AND m.rn < o.lv_rn)) AS BIGINT) AS n_branches
      FROM ok o
      WHERE o.buy_id IS NOT NULL
      ORDER BY signup_id, last_view_id""",
    "match_recognize_rowtime" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, ts,
               lead(event_id) OVER w AS nid, lead(event_type) OVER w AS ntype,
               lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      m AS (
        SELECT nid AS buy_id, nts AS mrt
        FROM o
        WHERE event_type = 'signup' AND ntype = 'purchase'
          AND nts <= ts + INTERVAL 60 MINUTE)
      SELECT (CAST(floor(epoch(mrt)) AS BIGINT) // 1800) * 1800 AS bucket_s,
             CAST(count(*) AS BIGINT) AS n_matches,
             CAST(sum(buy_id) AS BIGINT) AS buy_id_sum
      FROM m
      GROUP BY 1
      ORDER BY bucket_s""",
    "match_recognize_prev_define" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lag(event_id) OVER w AS pid, lag(event_type) OVER w AS ptype,
               lag(value) OVER w AS pval, lag(ts) OVER w AS pts,
               lag(value, 2) OVER w AS pval2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, pid AS click_id, event_id AS buy_id
      FROM o WHERE event_type = 'purchase' AND ptype = 'click'
        AND value > pval AND pval2 IS NOT NULL AND value > pval2
        AND ts <= pts + INTERVAL 60 MINUTE
      ORDER BY click_id""",
    "match_recognize_alternation" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lead(event_id) OVER w AS nid, lead(value) OVER w AS nval,
               lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id,
             CASE WHEN nval >= 0.5 THEN nid END AS h_id,
             CASE WHEN nval < 0.5 THEN nid END AS l_id
      FROM o WHERE event_type = 'click' AND nid IS NOT NULL
        AND nts <= ts + INTERVAL 30 MINUTE
      ORDER BY click_id""",
    "match_recognize_batch" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lead(event_id) OVER w AS nid, lead(value) OVER w AS nval,
               lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id,
             CASE WHEN nval >= 0.5 THEN nid END AS h_id,
             CASE WHEN nval < 0.5 THEN nid END AS l_id
      FROM o WHERE event_type = 'click' AND nid IS NOT NULL
        AND nts <= ts + INTERVAL 30 MINUTE
      ORDER BY click_id""",
    "match_recognize_alt_quant" -> """
      WITH o0 AS (
        SELECT user_id, event_id, value, event_type, ts,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      o AS (
        SELECT *, max(rn) OVER (PARTITION BY user_id) AS mx FROM o0),
      b AS (
        SELECT c.user_id, c.rn, c.event_id AS click_id,
               coalesce(min(s.rn), any_value(c.mx) + 1) AS brn
        FROM o c LEFT JOIN o s
          ON s.user_id = c.user_id AND s.rn > c.rn
          AND s.ts > c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click'
        GROUP BY c.user_id, c.rn, c.event_id)
      SELECT b.user_id, b.click_id,
             CAST(count(CASE WHEN r.value >= 50 THEN 1 END) AS BIGINT) AS n_h,
             CAST(count(CASE WHEN r.value < 50 THEN 1 END) AS BIGINT) AS n_l,
             arg_max(r.event_id, r.rn) FILTER (WHERE r.value >= 50) AS last_h
      FROM b JOIN o r
        ON r.user_id = b.user_id AND r.rn > b.rn AND r.rn < b.brn
      GROUP BY b.user_id, b.click_id
      ORDER BY click_id""",
    "match_recognize_classifier" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lead(event_id) OVER w AS nid, lead(value) OVER w AS nval,
               lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS click_id,
             CASE WHEN nval >= 50 THEN 'H' ELSE 'L' END AS cls
      FROM o WHERE event_type = 'click' AND nid IS NOT NULL
        AND nts <= ts + INTERVAL 30 MINUTE
      ORDER BY click_id""",
    "match_recognize_star" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      k AS (
        SELECT c.user_id, c.rn, c.event_id AS a_id, c.ts AS a_ts,
               min(s.rn) AS krn
        FROM o c JOIN o s
          ON s.user_id = c.user_id AND s.rn > c.rn AND s.value >= 50
        WHERE c.event_type = 'click'
        GROUP BY c.user_id, c.rn, c.event_id, c.ts)
      SELECT k.user_id, k.a_id,
             CAST(k.krn - k.rn - 1 AS BIGINT) AS n_b,
             fb.event_id AS first_b, lb.event_id AS last_b
      FROM k
      JOIN o cr ON cr.user_id = k.user_id AND cr.rn = k.krn
      LEFT JOIN o fb ON fb.user_id = k.user_id AND fb.rn = k.rn + 1
        AND k.krn >= k.rn + 2
      LEFT JOIN o lb ON lb.user_id = k.user_id AND lb.rn = k.krn - 1
        AND k.krn >= k.rn + 2
      WHERE cr.value >= 80
        AND cr.ts <= k.a_ts + INTERVAL 24 HOUR
      ORDER BY a_id""",
    "match_recognize_quant_head" -> """
      WITH o AS (
        SELECT user_id, event_id, value, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      isl AS (
        SELECT user_id, rn,
               rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM o WHERE value >= 20),
      runs AS (
        SELECT user_id, grp, min(rn) AS rn0, max(rn) AS rn1,
               CAST(count(*) AS BIGINT) AS n_h
        FROM isl GROUP BY user_id, grp)
      SELECT r.user_id, fh.event_id AS start_id, r.n_h, l.event_id AS l_id
      FROM runs r
      JOIN o fh ON fh.user_id = r.user_id AND fh.rn = r.rn0
      JOIN o l  ON l.user_id = r.user_id AND l.rn = r.rn1 + 1
      WHERE l.value < 5 AND l.ts <= fh.ts + INTERVAL 90 DAY
      ORDER BY r.user_id, start_id""",
    "match_recognize_min_quant" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      k AS (
        SELECT c.user_id, c.rn, c.event_id AS a_id, c.ts AS a_ts,
               min(s.rn) AS krn
        FROM o c JOIN o s
          ON s.user_id = c.user_id AND s.rn > c.rn AND s.value >= 50
        WHERE c.event_type = 'click'
        GROUP BY c.user_id, c.rn, c.event_id, c.ts)
      SELECT k.user_id, k.a_id,
             CAST(k.krn - k.rn - 1 AS BIGINT) AS n_b,
             fb.event_id AS first_b, lb.event_id AS last_b
      FROM k
      JOIN o cr ON cr.user_id = k.user_id AND cr.rn = k.krn
      JOIN o fb ON fb.user_id = k.user_id AND fb.rn = k.rn + 1
      JOIN o lb ON lb.user_id = k.user_id AND lb.rn = k.krn - 1
      WHERE k.krn >= k.rn + 3 AND cr.value >= 80
        AND cr.ts <= k.a_ts + INTERVAL 24 HOUR
      ORDER BY a_id""",
    "match_recognize_subset" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      k AS (
        SELECT c.user_id, c.rn, c.event_id AS a_id, c.ts AS a_ts,
               min(s.rn) AS krn
        FROM o c JOIN o s
          ON s.user_id = c.user_id AND s.rn > c.rn AND s.value >= 40
        WHERE c.event_type = 'click'
        GROUP BY c.user_id, c.rn, c.event_id, c.ts)
      SELECT k.user_id, k.a_id,
             CAST(k.krn - k.rn AS BIGINT) AS n_u,
             fb.event_id AS first_u, cr.event_id AS last_u
      FROM k
      JOIN o cr ON cr.user_id = k.user_id AND cr.rn = k.krn
      JOIN o fb ON fb.user_id = k.user_id AND fb.rn = k.rn + 1
      WHERE k.krn >= k.rn + 2 AND cr.value >= 80
        AND cr.ts <= k.a_ts + INTERVAL 6 HOUR
      ORDER BY a_id""",
    "match_recognize_permute" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lead(event_id) OVER w AS nid, lead(event_type) OVER w AS ntype,
               lead(value) OVER w AS nval, lead(ts) OVER w AS nts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id,
             CASE WHEN value >= 0.3 AND ntype = 'click' THEN event_id ELSE nid END AS a_id,
             CASE WHEN value >= 0.3 AND ntype = 'click' THEN nid ELSE event_id END AS b_id,
             CASE WHEN value >= 0.3 AND ntype = 'click' THEN value ELSE nval END AS a_value
      FROM o
      WHERE nid IS NOT NULL AND nts <= ts + INTERVAL 30 MINUTE
        AND ((value >= 0.3 AND ntype = 'click')
             OR (event_type = 'click' AND nval >= 0.3))
      ORDER BY a_id, b_id""",
    "match_recognize_exclusion" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS uts,
               lead(event_id, 2) OVER w AS cid, lead(event_type, 2) OVER w AS ctype,
               lead(value, 2) OVER w AS cval,
               lead(CAST(ts AS TIMESTAMP), 2) OVER w AS cts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      m AS (
        SELECT * FROM o
        WHERE event_type = 'click' AND ctype = 'purchase'
          AND cts - uts <= INTERVAL 6 HOUR)
      SELECT user_id, 'A' AS classifier, event_id, event_type,
             CAST(epoch_us(uts) AS BIGINT) AS ts_us, value, event_id AS a_id,
             CAST(0 AS BIGINT) AS n_b
      FROM m
      UNION ALL
      SELECT user_id, 'C', cid, ctype, CAST(epoch_us(cts) AS BIGINT), cval,
             event_id, CAST(1 AS BIGINT)
      FROM m
      ORDER BY a_id, classifier""",
    "stream_cep_step_gap" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, ts,
               lead(event_id) OVER w AS bid, lead(ts) OVER w AS bts,
               lead(event_id, 2) OVER w AS cid, lead(ts, 2) OVER w AS cts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id AS a_id, bid AS b_id, cid AS c_id
      FROM o WHERE event_type = 'click' AND cid IS NOT NULL
        AND bts <= ts + INTERVAL 30 MINUTE
        AND cts <= bts + INTERVAL 30 MINUTE
        AND cts <= ts + INTERVAL 4 HOUR
      ORDER BY a_id""",
    "stream_cep_skip_past_last" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER w AS rn,
               lead(event_id) OVER w AS nid
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      c AS (
        SELECT user_id, event_id, nid, rn,
               rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS island
        FROM o WHERE event_type = 'click'),
      s AS (
        SELECT user_id, event_id, nid,
               row_number() OVER (PARTITION BY user_id, island ORDER BY rn) AS p
        FROM c)
      SELECT user_id, event_id AS a_id, nid AS b_id
      FROM s WHERE p % 2 = 1 AND nid IS NOT NULL
      ORDER BY a_id""",
    "match_recognize_generic" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
               lag(o_orderkey) OVER w AS pkey, lag(o_orderstatus) OVER w AS pstat,
               lag(o_totalprice) OVER w AS pprice, lag(o_orderdate) OVER w AS pdate
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      SELECT o_custkey, pkey AS f_key, o_orderkey AS o_key
      FROM o WHERE o_orderstatus = 'O' AND pstat = 'F' AND o_totalprice > pprice
        AND o_orderdate <= pdate + INTERVAL 90 DAY
      ORDER BY f_key""",
    "stream_cep_until" -> """
      SELECT c.user_id, c.event_id AS click_id, n.event_id AS view_id
      FROM events c,
      LATERAL (SELECT e.* FROM events e WHERE e.user_id = c.user_id
        AND e.event_type IN ('view', 'purchase')
        AND (e.ts > c.ts OR (e.ts = c.ts AND e.event_id > c.event_id))
        AND e.ts <= c.ts + INTERVAL 10 MINUTE
        ORDER BY e.ts, e.event_id LIMIT 1) n
      WHERE c.event_type = 'click' AND n.event_type = 'view'
      ORDER BY click_id""",
    "stream_cep_iterative" -> """
      WITH o AS (
        SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
      SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id
      FROM events c,
      LATERAL (SELECT e.* FROM o e WHERE e.user_id = c.user_id
        AND e.event_type = 'purchase'
        AND e.value > c.value AND coalesce(e.prev_type, '') <> 'error'
        AND (e.ts > c.ts OR (e.ts = c.ts AND e.event_id > c.event_id))
        AND e.ts <= c.ts + INTERVAL 12 HOUR
        ORDER BY e.ts, e.event_id LIMIT 1) b
      WHERE c.event_type = 'click'
      ORDER BY click_id""",
    "stream_cep_group" -> """
      SELECT c.user_id, c.event_id AS click_id, v1.event_id AS v1_id,
             b1.event_id AS b1_id, v2.event_id AS v2_id, b2.event_id AS b2_id
      FROM events c,
      LATERAL (SELECT e.* FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'view'
        AND (e.ts > c.ts OR (e.ts = c.ts AND e.event_id > c.event_id))
        AND e.ts <= c.ts + INTERVAL 3 DAY ORDER BY e.ts, e.event_id LIMIT 1) v1,
      LATERAL (SELECT e.* FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'purchase'
        AND (e.ts > v1.ts OR (e.ts = v1.ts AND e.event_id > v1.event_id))
        AND e.ts <= c.ts + INTERVAL 3 DAY ORDER BY e.ts, e.event_id LIMIT 1) b1,
      LATERAL (SELECT e.* FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'view'
        AND (e.ts > b1.ts OR (e.ts = b1.ts AND e.event_id > b1.event_id))
        AND e.ts <= c.ts + INTERVAL 3 DAY ORDER BY e.ts, e.event_id LIMIT 1) v2,
      LATERAL (SELECT e.* FROM events e WHERE e.user_id = c.user_id AND e.event_type = 'purchase'
        AND (e.ts > v2.ts OR (e.ts = v2.ts AND e.event_id > v2.event_id))
        AND e.ts <= c.ts + INTERVAL 3 DAY ORDER BY e.ts, e.event_id LIMIT 1) b2
      WHERE c.event_type = 'click'
      ORDER BY click_id""",
    "stream_cep_generic" -> """
      SELECT f.o_custkey, f.o_orderkey AS f_key, o.o_orderkey AS o_key
      FROM orders f,
      LATERAL (SELECT e.* FROM orders e WHERE e.o_custkey = f.o_custkey
        AND e.o_orderstatus = 'O'
        AND (e.o_orderdate > f.o_orderdate
             OR (e.o_orderdate = f.o_orderdate AND e.o_orderkey > f.o_orderkey))
        AND e.o_orderdate <= f.o_orderdate + INTERVAL 90 DAY
        ORDER BY e.o_orderdate, e.o_orderkey LIMIT 1) o
      WHERE f.o_orderstatus = 'F'
      ORDER BY f_key""",
    // Timed-out = click with NO completed match (earliest-match: bind
    // the FIRST view after the click within the window; the purchase
    // must follow THAT view — no backtracking to later views, the
    // engine's documented SKIP_TILL_NEXT subset). steps_bound = how
    // far the partial got (1 = click only, 2 = click+view).
    "stream_cep_timeout" -> """
      SELECT e.user_id, e.event_id AS click_id,
             CASE WHEN v.vid IS NULL THEN 1 ELSE 2 END AS steps_bound
      FROM events e
      LEFT JOIN LATERAL (
        SELECT v2.event_id AS vid, v2.ts AS vts
        FROM events v2
        WHERE v2.user_id = e.user_id AND v2.event_type = 'view'
          AND (v2.ts > e.ts OR (v2.ts = e.ts AND v2.event_id > e.event_id))
          AND v2.ts <= e.ts + INTERVAL 12 HOUR
        ORDER BY v2.ts, v2.event_id LIMIT 1) v ON true
      WHERE e.event_type = 'click'
        AND (v.vid IS NULL OR NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
            AND (p.ts > v.vts OR (p.ts = v.vts AND p.event_id > v.vid))
            AND p.ts <= e.ts + INTERVAL 12 HOUR))
      ORDER BY user_id, click_id""",
    // Late = a second-batch row (ts < min+1h) below the admission
    // horizon: watermark (ms-floored max event time − 10 s delay, the
    // engine's watermark arithmetic) minus the 10-minute within.
    "stream_cep_late_capture" -> """
      WITH m AS (SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx
                 FROM events)
      SELECT e.user_id, e.event_id
      FROM events e, m
      WHERE epoch_us(e.ts) < m.mn + 3600000000
        AND epoch_us(e.ts) < (m.mx // 1000 - 10000) * 1000 - 600000000
      ORDER BY user_id, event_id""",
    "match_recognize_sql_door" -> """
      WITH o AS (
        SELECT user_id, event_id, event_type, value, ts,
               lag(event_id) OVER w AS pid, lag(event_type) OVER w AS ptype,
               lag(ts) OVER w AS pts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, pid AS click_id, event_id AS buy_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM o
      WHERE event_type = 'purchase' AND ptype = 'click'
        AND ts <= pts + INTERVAL 30 MINUTE
        AND floor(value * 100) >= 50
      ORDER BY click_id"""
  )
}
