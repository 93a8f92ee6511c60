package graft.queries

import graft.{QueryPack, Tables}
import graft.changelog.ChangelogOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Changelog / RowKind layer (reference `RowKind.java:25`,
 * `StreamExecChangelogNormalize.java:61`): derive the retract stream of
 * a versioned table and normalize it back to the final table image.
 * Round-trip identity (normalize ∘ toChangelog = keep-last) is what the
 * oracle checks.
 */
object ChangelogQueries extends QueryPack {

  private def versioned(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100).as("cents"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Retract changelog of the per-user event history (version =
    // event_id): first row +I, then -U/+U pairs.
    "changelog_build" -> ((s, dir) => {
      ChangelogOps.toChangelog(versioned(s, dir), keys = Seq("user_id"), versionCol = "event_id")
        .orderBy(col("user_id"), col("row_kind"), col("event_id"))
    }),

    // Normalize the changelog back to its final image = keep-last.
    "changelog_normalize" -> ((s, dir) => {
      val cl = ChangelogOps.toChangelog(versioned(s, dir), Seq("user_id"), "event_id")
      ChangelogOps.normalize(cl, keys = Seq("user_id"), seqCol = "event_id")
        .orderBy(col("user_id"))
    }),

    // CDC → AGGREGATE: the retract changelog feeds a downstream GROUP
    // BY (reference FlinkChangelogModeInferenceProgram retract mode) —
    // per event_type, count + cents-sum over each user's LATEST
    // version only; -U rows retract superseded images out of their old
    // group, so updates that change a user's event_type move the row
    // between groups.
    // UPSERT SINK (reference SinkUpsertMaterializer / upsert-kafka):
    // the events changelog streams through two staged micro-batches —
    // batch 1 the full +I/-U/+U history, batch 2 a -D per user_id%7==0
    // key — each merged into a keyed parquet sink via per-batch
    // snapshot commit. The gate reads the FINAL sink: latest image per
    // surviving key, deleted keys gone.
    "changelog_upsert_sink" -> ((s0, dir) => {
      import java.nio.file.Files
      val s = graft.streaming.StreamOps.tuned(s0)
      val base = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100).as("cents"))
      val cl = ChangelogOps.toChangelog(base, Seq("user_id"), "event_id")
        .select(col("user_id"), col("event_id"), col("cents"), col("row_kind"))
      val dels = base.select(col("user_id")).distinct()
        .filter(col("user_id") % 7 === 0)
        .select(col("user_id"), lit(999999999999L).as("event_id"),
          lit(0L).as("cents"), lit(graft.changelog.RowKind.Delete).as("row_kind"))
      val work = graft.streaming.StreamOps.scratchDir("graft_upsert_src")
      graft.streaming.StreamOps.stage(work, cl, dels)
      val sink = Files.createTempDirectory("graft_upsert_sink").toString
      val sdf = graft.streaming.StreamOps.readStaged(s, work, cl.schema)
      val q = sdf.writeStream
        .foreachBatch(graft.streaming.UpsertSink.foreachBatchUpsert(
          sink, keys = Seq("user_id"), seqCol = "event_id") _)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.UpsertSink.read(s, sink, cl.drop("row_kind"))
        .orderBy(col("user_id"))
    }),

    // CDC → JOIN → RETRACT AGGREGATE → TOP-N: the full downstream
    // chain the reference's retraction machinery exists for
    // (StreamExecChangelogNormalize feeding stateful nodes). The
    // events changelog is enriched per-row with the user's nation
    // (broadcast dims — kind-preserving 1:1 join), aggregated
    // retract-aware per (nation, event_type) — event_type CHANGES
    // across a user's versions, so -U/+U pairs move rows between
    // groups — then ranked to the top-2 event types per nation. Oracle
    // = the same chain batch-computed over each user's latest image.
    "changelog_join_agg_topn" -> ((s, dir) => {
      val cl = ChangelogOps.toChangelog(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            floor(col("value") * 100).as("cents")),
        keys = Seq("user_id"), versionCol = "event_id")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val enriched = cl
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      val agg = ChangelogOps.aggregateChangelog(enriched,
        groupCols = Seq("n_name", "event_type"), sumCols = Seq("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name"))
        .orderBy(col("sum_cents").desc, col("event_type"))
      agg.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("n_name"), col("event_type"), col("n_rows"),
          col("sum_cents").cast("long").as("sum_cents"), col("rn"))
        .orderBy(col("n_name"), col("rn"))
    }),

    "changelog_agg_downstream" -> ((s, dir) => {
      val cl = ChangelogOps.toChangelog(
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            floor(col("value") * 100).as("cents")),
        keys = Seq("user_id"), versionCol = "event_id")
      ChangelogOps.aggregateChangelog(cl, groupCols = Seq("event_type"),
          sumCols = Seq("cents"))
        .select(col("event_type"), col("n_rows"),
          col("sum_cents").cast("long").as("sum_cents"))
        .orderBy(col("event_type"))
    }),

    // PER-RECORD emission cadence (reference GroupAggFunction.java:43
    // with mini-batch OFF — the engine's default changelog layer is
    // per-micro-batch, MIGRATION divergence #1/#2; this is the opt-in
    // per-record mode): the streaming group aggregate emits +I for a
    // key's first record and -U/+U around EVERY later record, in
    // watermark-released (ts, id) order. The gate checks the LOG
    // itself — per-key seq positions, row kinds, and both images —
    // against the scalar-fold oracle, not just the final image.
    "changelog_per_record_log" -> ((s0, dir) => {
      val s = graft.streaming.StreamOps.tuned(s0)
      graft.streaming.StreamOps.runToBatch(
        s, graft.streaming.StatefulOps.groupAggChangelogPerRecord(
          graft.streaming.StreamOps.eventsTypedWithKeyedSentinels(s, dir)).toDF(),
        "append", "cl_per_record")
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("seq"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "changelog_build" -> """
      WITH t AS (
        SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER w AS rn,
               lag(event_id) OVER w AS p_eid,
               lag(CAST(floor(value * 100) AS BIGINT)) OVER w AS p_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      SELECT user_id, event_id, cents, '+I' AS row_kind FROM t WHERE rn = 1
      UNION ALL
      SELECT user_id, p_eid, p_cents, '-U' FROM t WHERE rn > 1
      UNION ALL
      SELECT user_id, event_id, cents, '+U' FROM t WHERE rn > 1
      ORDER BY user_id, row_kind, event_id""",
    "changelog_per_record_log" -> """
      WITH b AS (
        SELECT user_id,
               row_number() OVER w AS rn,
               sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS rc
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      c AS (SELECT *, lag(rc) OVER (PARTITION BY user_id ORDER BY rn) AS prev_rc
            FROM b)
      SELECT user_id, CAST(1 AS BIGINT) AS seq, '+I' AS row_kind,
             CAST(1 AS BIGINT) AS n, CAST(rc AS BIGINT) AS cents
      FROM c WHERE rn = 1
      UNION ALL
      SELECT user_id, CAST(2 * rn - 2 AS BIGINT), '-U',
             CAST(rn - 1 AS BIGINT), CAST(prev_rc AS BIGINT)
      FROM c WHERE rn > 1
      UNION ALL
      SELECT user_id, CAST(2 * rn - 1 AS BIGINT), '+U',
             CAST(rn AS BIGINT), CAST(rc AS BIGINT)
      FROM c WHERE rn > 1
      ORDER BY user_id, seq""",
    "changelog_normalize" -> """
      SELECT user_id, event_id, cents FROM (
        SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY user_id""",
    "changelog_upsert_sink" -> """
      SELECT user_id, event_id, cents FROM (
        SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 AND user_id % 7 <> 0
      ORDER BY user_id""",
    "changelog_join_agg_topn" -> """
      WITH latest AS (
        SELECT user_id, event_type, cents FROM (
          SELECT user_id, event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
                 row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
          FROM events) t WHERE rn = 1),
      agg AS (
        SELECT n.n_name, l.event_type, count(*) AS n_rows,
               CAST(sum(l.cents) AS BIGINT) AS sum_cents
        FROM latest l
        JOIN customer c ON l.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, l.event_type)
      SELECT n_name, event_type, n_rows, sum_cents, rn FROM (
        SELECT agg.*, row_number() OVER (PARTITION BY n_name
                 ORDER BY sum_cents DESC, event_type) AS rn
        FROM agg) ranked
      WHERE rn <= 2
      ORDER BY n_name, rn""",
    "changelog_agg_downstream" -> """
      SELECT event_type, count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM (
        SELECT user_id, event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 GROUP BY event_type ORDER BY event_type"""
  )
}
