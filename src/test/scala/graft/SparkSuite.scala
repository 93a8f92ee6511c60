package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (kept alive for the whole
 * JVM — Spark sessions are expensive and suites run sequentially in
 * the forked test JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Run `body` with the given SQL confs set, restoring the previous
   * values (or unsetting) afterwards — the shared session must not
   * leak per-test configuration into later suites. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** A scratch dir holding a generated `events.parquet`, one file with
   * the events table's columns, for specs that stream it through
   * `StreamOps.readStream`. */
  lazy val eventsDir: String = {
    val dir = graft.streaming.StreamOps.scratchDir("graft_spec_events")
    val out = dir.resolve("write")
    session.range(5000).selectExpr("id AS event_id", "id % 97 AS user_id",
        "element_at(array('view', 'click', 'buy'), CAST(id % 3 AS INT) + 1) AS event_type",
        "timestamp_seconds(1700000000 + id * 7) AS ts", "(id % 1000) / 10.0 AS value")
      .coalesce(1).write.parquet(out.toString)
    val files = java.nio.file.Files.list(out)
    val part = try files.filter(_.toString.endsWith(".parquet")).findFirst().get finally files.close()
    java.nio.file.Files.move(part, dir.resolve("events.parquet"))
    dir.toString
  }
}
