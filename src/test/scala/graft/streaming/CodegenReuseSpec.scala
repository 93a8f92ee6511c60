package graft.streaming

import graft.SparkSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Generated classes are compiled once per JVM, not once per session
 * clone. Every stream gate runs in its own `StreamOps.tuned` clone; with
 * Spark's artifact isolation on, each clone had its own executor
 * classloader, the codegen cache (keyed on classloader and code) missed,
 * and the tumbling aggregation below recompiled 17 classes in every
 * clone. */
class CodegenReuseSpec extends SparkSuite {

  private def tumbleAgg(): Seq[Row] = {
    val s = StreamOps.tuned(spark)
    val agg = StreamOps.readStream(s, SparkSuite.eventsDir, "events")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
    StreamOps.runToBatch(s, agg, "complete", "spec_codegen_reuse")
      .orderBy(col("ws"), col("event_type")).collect().toSeq
  }

  test("a second tuned() clone runs the same streaming aggregation without compiling") {
    val first = tumbleAgg()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = tumbleAgg()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the second clone compiled $compiled generated classes")
    assert(first.nonEmpty && second == first)
  }
}
