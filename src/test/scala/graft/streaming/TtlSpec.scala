package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Idle-key state TTL (the `StateTtlConfig` analog): a key that stops
 * receiving traffic has its state dropped after the TTL, while active
 * keys keep theirs — checked by reading the state store itself.
 *
 * NOTE: a query containing a ProcessingTimeTimeout operator never
 * reports `noNewData` (`shouldRunAnotherBatch` is always true, so the
 * engine keeps constructing timer-check batches) — so these tests POLL
 * for the expected state instead of `processAllAvailable()`, which
 * would block forever. */
class TtlSpec extends SparkSuite {

  private def ev(id: Long, user: Long, tsUs: Long) =
    Ev(id, user, "click", tsUs, 1.0)

  /** Retry `f` until it stops throwing or the deadline passes. Retries
   * on ANY non-fatal error, not just assertion failures: the statestore
   * reader races with the running query's commits and can surface
   * transient IO/IllegalState errors mid-commit, which must be polled
   * through, not propagated (the cause of the old full-suite flake). */
  private def eventually[A](what: String, deadlineMs: Long = 120000)(f: => A): A = {
    val end = System.currentTimeMillis() + deadlineMs
    var last: Throwable = null
    while (System.currentTimeMillis() < end) {
      try return f
      catch {
        // NonFatal matches AssertionError too, so the deliberate
        // fail-fast below must ride a marker that is rethrown here
        case t: PollAbort => throw t
        case scala.util.control.NonFatal(t) => last = t; Thread.sleep(100)
      }
    }
    throw new AssertionError(s"timed out waiting for $what", last)
  }

  /** Aborts an `eventually` poll immediately (query death is not a
   * transient condition to poll through). */
  private final class PollAbort(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  test("idle keys are dropped from the state store after the TTL") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    val q = StatefulOps.keepLastBy(ms.toDS(), "user_id", "ts_us", "event_id",
        ttl = Some("1 second")).toDF()
      .writeStream.format("memory").queryName("t_ttl").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(ev(1, 1, 1000), ev(2, 2, 2000))
      eventually("both rows emitted") {
        assert(spark.table("t_ttl").count() == 2)
      }
      Thread.sleep(1300) // let both keys' TTL timers expire
      // key 2 stays active (every nudge row re-arms its timer; one poll
      // iteration, a nudge and a state-store read, stays well inside
      // the TTL, while timer-check micro-batches can run back to back
      // between two nudges); key 1
      // stays idle and is timed out. The nudges also make the check
      // independent of empty-batch scheduling: timeouts are processed
      // in DATA batches too, so each poll iteration forces a batch that
      // must evaluate key 1's expired timer even when the engine's
      // continuous no-data batches are starved (the old full-suite
      // flake mode).
      ms.addData(ev(3, 2, 3000))
      var nudge = 1000L
      eventually("idle key 1 TTL-dropped, active key 2 retained") {
        q.exception.foreach(e => throw new PollAbort("query died", e))
        nudge += 1
        ms.addData(ev(nudge, 2, nudge * 10))
        val keys = spark.read.format("statestore").load(ckpt)
          .select($"key.value".cast("string")).as[String].collect().toSet
        assert(keys == Set("2"), s"got $keys; query status ${q.status}")
      }
      // the op still works for re-appearing keys: state was dropped, so
      // the next row for key 1 is a fresh winner and is re-emitted
      // (id 3 is NOT asserted: a nudge row landing in its batch wins
      // key 2's update slot, so its emission is schedule-dependent)
      ms.addData(ev(4, 1, 4000))
      eventually("key 1 re-emitted after re-appearing") {
        q.exception.foreach(e => throw new PollAbort("query died", e))
        assert(Set(1L, 2L, 4L).subsetOf(
          spark.table("t_ttl").as[Ev].collect().map(_.event_id).toSet))
      }
    } finally q.stop()
  }

  test("without a TTL the behavior is unchanged (NoTimeout, keys retained)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_off").toString
    val q = StatefulOps.keepLastBy(ms.toDS(), "user_id", "ts_us", "event_id").toDF()
      .writeStream.format("memory").queryName("t_ttl_off").outputMode("update")
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(ev(1, 1, 1000))
      q.processAllAvailable() // NoTimeout: terminates normally
      Thread.sleep(200)
      ms.addData(ev(2, 2, 2000))
      q.processAllAvailable()
      val keys = spark.read.format("statestore").load(ckpt)
        .select($"key.value".cast("string")).as[String].collect().toSet
      assert(keys == Set("1", "2"))
    } finally q.stop()
  }
}
