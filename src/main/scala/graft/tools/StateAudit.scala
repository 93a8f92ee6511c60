package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import graft.streaming._

/**
 * State-store SIZE audit of the flagship stateful operators — the
 * scale dimension wall-clock gates cannot see (reference analog:
 * RocksDB state-size monitoring; a watermark-bounded operator whose
 * per-key state grows super-linearly in keys or events is a
 * scale-killer that stays invisible until memory dies).
 *
 * For each operator the tool runs the event stream TIME-SLICED into 8
 * micro-batches (mtime-ordered files, maxFilesPerTrigger=1) so the
 * watermark advances batch over batch and the surviving state is the
 * STEADY-STATE tail occupancy, not the no-eviction worst case of a
 * single AvailableNow batch. It then reads the checkpoint back through
 * the state data source and prints one JSON line per operator:
 * key count, on-disk state bytes, bytes/key, and avg/max element count
 * of every list-typed state field (the per-key growth axes).
 *
 * Run at two scales and compare: keys may grow with the corpus, the
 * per-key list lengths must track the WATERMARK HORIZON's event
 * density only. Recorded in STATE_AUDIT.md; the bounded-shape
 * contracts are pinned by StateSizeSpec.
 *
 *   tools/run_main.sh graft.tools.StateAudit /root/testdata/sf0.1
 */
object StateAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-state-audit")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // the events table staged as 8 time-ordered files so the file
    // source (maxFilesPerTrigger=1) advances the watermark per batch
    def slicedEvents(slices: Int = 8): org.apache.spark.sql.Dataset[Ev] = {
      val ev = StreamOps.evView(spark.read.parquet(s"$sfDir/events.parquet")).toDF()
      val bounds = ev.stat.approxQuantile("ts_us",
        (1 until slices).map(_.toDouble / slices).toArray, 0.001)
      val cuts = (Long.MinValue +: bounds.map(_.toLong)) :+ Long.MaxValue
      val work = StreamOps.scratchDir("graft_audit_events")
      StreamOps.stage(work, cuts.toSeq.sliding(2).map(c =>
        ev.filter(col("ts_us") >= c(0) && col("ts_us") < c(1))).toSeq: _*)
      StreamOps.readStaged(spark, work, ev.schema).as[Ev]
    }

    def runWithCkpt(df: DataFrame, mode: String, name: String): String = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_audit_$name").toString
      val q = df.writeStream.format("memory")
        .queryName(StreamOps.freshName("audit_" + name))
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ckpt
    }

    def dirBytes(p: String): Long = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally s.close()
      }
    }

    def report(name: String, ckpt: String): Unit = {
      val st = spark.read.format("statestore").load(ckpt)
      // list-typed state fields can nest (flatMapGroupsWithState wraps
      // the user state under value.groupState) — walk the whole value
      // struct for every array path
      def arrayPaths(t: org.apache.spark.sql.types.DataType, prefix: String): Seq[String] =
        t match {
          case s: StructType => s.fields.flatMap(f =>
            arrayPaths(f.dataType, s"$prefix.${f.name}")).toSeq
          case _: ArrayType => Seq(prefix)
          case _ => Nil
        }
      val arrays = arrayPaths(st.schema("value").dataType, "value")
      val names = arrays.map(_.stripPrefix("value.").replace("groupState.", "")
        .replace(".", "_"))
      val aggs =
        count(lit(1)).as("keys") +:
          arrays.zip(names).flatMap { case (a, n) => Seq(
            round(avg(size(col(a))), 1).as(s"avg_$n"),
            max(size(col(a))).as(s"max_$n")) }
      val row = st.agg(aggs.head, aggs.tail: _*).head()
      val keys = row.getLong(0)
      val bytes = dirBytes(s"$ckpt/state")
      val lists = names.zipWithIndex.map { case (n, i) =>
        s""""avg_$n":${row.get(1 + 2 * i)},"max_$n":${row.get(2 + 2 * i)}"""
      }.mkString(",")
      val per = if (keys > 0) bytes / keys else 0L
      println(s"""{"op":"$name","keys":$keys,"state_bytes":$bytes,""" +
        s""""bytes_per_key":$per${if (lists.nonEmpty) "," + lists else ""}}""")
    }

    // 1. streaming Top-N (TopNStateG.rows — bounded at n by design)
    locally {
      val ckpt = runWithCkpt(
        StatefulOps.topNByType(slicedEvents(), 3).toDF(), "update", "topn")
      report("stream_topn", ckpt)
    }
    // 2. per-record changelog (pending buffer watermark-bounded)
    locally {
      val ckpt = runWithCkpt(
        StatefulOps.groupAggChangelogPerRecord(slicedEvents()).toDF(),
        "append", "changelog")
      report("changelog_per_record", ckpt)
    }
    // 3. allowed-lateness tumbling windows (open windows bounded by
    //    (horizon + lateness) / size; gate-style 400-day lateness would
    //    retain every window — audited at a production-shaped 1 hour)
    locally {
      val ckpt = runWithCkpt(
        LateCapture.tumbleWithLateness(slicedEvents(),
          15L * 60 * 1000000, 3600L * 1000000).toDF(), "append", "lateness")
      report("window_lateness", ckpt)
    }
    // 4. CEP (buffer bounded by the within horizon; emitted markers and
    //    open runs watermark-pruned)
    locally {
      val pattern = Cep.Pattern
        .begin("a", (e: Ev) => e.event_type == "click")
        .followedBy("b", (e: Ev) => e.event_type == "purchase" && e.value > 100.0)
        .within(12L * 3600 * 1000000)
      val ckpt = runWithCkpt(
        Cep.runBoundBy(slicedEvents(), pattern, "user_id", "ts_us", "event_id").toDF(),
        "append", "cep")
      report("cep", ckpt)
    }
    // 5. temporal join (dim versions: latest-at-watermark + future;
    //    probes held only until the watermark passes them)
    locally {
      val dims = StreamOps.readStream(spark, sfDir, "orders")
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
          col("o_orderkey"), col("o_totalprice"))
        .as[graft.queries.OrderVer]
      val joined = TemporalJoin.runTyped(dims, slicedEvents(),
        "o_custkey", "ts_us", "o_orderkey", "user_id", "ts_us", "event_id")
      val ckpt = runWithCkpt(joined.toDF(), "append", "tjoin")
      report("temporal_join", ckpt)
    }
    spark.stop()
  }
}
