package graft.streaming

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins the staging harnesses: the memo's sharing unit, and the
 * micro-batch boundaries every harness shape delivers.
 *
 * Staged input directories are keyed by the driver CONTEXT, so the
 * per-gate `tuned()` newSession clones all resolve one key to one
 * directory and the staging closure runs once. (Keying on the session
 * object — the pre-r16 behavior — minted a fresh id per clone: every
 * gate re-staged identical inputs and the memo never fired across
 * gates.) */
class StagedDirSharingSpec extends SparkSuite {

  test("newSession clones of one context share a staged dir, staging runs once") {
    val a = spark.newSession()
    val b = spark.newSession()
    var runs = 0
    val d1 = StreamOps.stagedDir(a, "spec:staged-dir-sharing") { _ => runs += 1 }
    val d2 = StreamOps.stagedDir(b, "spec:staged-dir-sharing") { _ => runs += 1 }
    assert(d1 == d2, "clones of one context must resolve to the same staged dir")
    assert(runs == 1, "the staging closure must run only for the first toucher")
  }

  test("distinct keys stage distinct dirs") {
    val s = spark.newSession()
    val d1 = StreamOps.stagedDir(s, "spec:staged-dir-a")(_ => ())
    val d2 = StreamOps.stagedDir(s, "spec:staged-dir-b")(_ => ())
    assert(d1 != d2)
  }

  // A private copy of the sf0.01 events and orders tables: staging must
  // be observable on inputs no other suite or gate has linked.
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_spec_staging")
    d.toFile.deleteOnExit()
    Seq("events", "orders").foreach { n =>
      val f = d.resolve(s"$n.parquet")
      Files.copy(Paths.get(s"/root/testdata/sf0.01/$n.parquet"), f)
      f.toFile.deleteOnExit()
    }
    d.toString
  }
  private lazy val events = spark.read.parquet(s"$dir/events.parquet")
  private lazy val nEvents = events.count()
  private lazy val nUsers = events.select("user_id").distinct().count()

  /** Runs a staged stream to completion and returns `numInputRows` of
   * every batch that read input (no-data batches that only advance the
   * watermark are left out). */
  private def batchRows(ds: Dataset[_]): Seq[Long] = {
    val ckpt = Files.createTempDirectory("graft_spec_staging_ckpt")
    val q = ds.toDF().writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
  }

  /** The staged directory a harness stream reads from. */
  private def stagedPath(ds: Dataset[_]): String =
    """graft_stage\w+""".r.findFirstIn(ds.queryExecution.analyzed.toString)
      .getOrElse(fail(s"no staged dir in ${ds.queryExecution.analyzed}"))

  test("halves: even event_ids, then odd") {
    val evens = events.filter(col("event_id") % 2 === 0).count()
    assert(batchRows(StreamOps.eventsTypedHalves(spark, dir)) == Seq(evens, nEvents - evens))
  }

  private val splitUs = 3600L * 1000000
  private lazy val onTime = {
    val tsUs =
      if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType) expr("ts div 1000")
      else unix_micros(col("ts").cast("timestamp"))
    val minUs = events.agg(min(tsUs)).head().getLong(0)
    events.filter(tsUs >= minUs + splitUs).count()
  }

  test("late split: on-time rows, then the late ones") {
    assert(batchRows(StreamOps.eventsTypedLateSplit(spark, dir, splitUs)) ==
      Seq(onTime, nEvents - onTime))
  }

  test("late split with sentinels: on-time, late, then two rounds of one row per user") {
    assert(batchRows(StreamOps.eventsTypedLateSplitWithSentinels(spark, dir, splitUs)) ==
      Seq(onTime, nEvents - onTime, nUsers, nUsers))
  }

  test("keyed sentinels: the data, then two rounds of one row per user") {
    assert(batchRows(StreamOps.eventsTypedWithKeyedSentinels(spark, dir)) ==
      Seq(nEvents, nUsers, nUsers))
  }

  test("final watermark: one round joins the data batch, two rounds are batches of their own") {
    assert(batchRows(StreamOps.eventsTypedWithFinalWatermark(spark, dir)) == Seq(nEvents + 1))
    assert(batchRows(StreamOps.eventsTypedWithFinalWatermark(spark, dir, rounds = 2)) ==
      Seq(nEvents, 1L, 1L))
  }

  test("tableWithFinalWatermark on orders: same batch shapes as the events harness") {
    val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
    def orders(rounds: Int) = StreamOps.tableWithFinalWatermark(
      spark, dir, "orders", "o_orderdate", Seq("o_orderkey", "o_custkey"), rounds)
    assert(batchRows(orders(1)) == Seq(nOrders + 1))
    assert(batchRows(orders(2)) == Seq(nOrders, 1L, 1L))
  }

  test("stagedEventsHalf: one half of the events in one batch") {
    val half = StreamOps.stagedEventsHalf(spark, dir, 1)
    val rows = batchRows(spark.readStream.schema(events.schema).parquet(s"$half/*.parquet"))
    assert(rows == Seq(events.filter(col("event_id") % 2 === 1).count()))
  }

  test("each harness call shares a staged dir exactly with calls of the same shape") {
    val s = StreamOps.tuned(spark)
    val paths = Seq(
      StreamOps.eventsTypedHalves(s, dir),
      StreamOps.eventsTypedLateSplit(s, dir, splitUs),
      StreamOps.eventsTypedLateSplit(s, dir, 2 * splitUs),
      StreamOps.eventsTypedLateSplitWithSentinels(s, dir, splitUs),
      StreamOps.eventsTypedWithKeyedSentinels(s, dir),
      StreamOps.eventsTypedWithFinalWatermark(s, dir),
      StreamOps.eventsTypedWithFinalWatermark(s, dir, rounds = 2),
      StreamOps.tableWithFinalWatermark(s, dir, "orders", "o_orderdate", Seq("o_orderkey")),
      StreamOps.tableWithFinalWatermark(s, dir, "orders", "o_orderdate",
        Seq("o_orderkey", "o_custkey"))
    ).map(stagedPath)
    assert(paths.distinct.size == paths.size, paths)
    // a second call from another session clone hits the memo
    val again = StreamOps.tuned(spark)
    assert(stagedPath(StreamOps.eventsTypedHalves(again, dir)) == paths(0))
    assert(stagedPath(StreamOps.eventsTypedWithKeyedSentinels(again, dir)) == paths(4))
    assert(stagedPath(StreamOps.eventsTypedWithFinalWatermark(again, dir, rounds = 2)) == paths(6))
    assert(stagedPath(StreamOps.tableWithFinalWatermark(again, dir, "orders", "o_orderdate",
      Seq("o_orderkey", "o_custkey"))) == paths(8))
  }
}
