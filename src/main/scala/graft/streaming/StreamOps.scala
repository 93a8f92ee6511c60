package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructType,
  TimestampNTZType, TimestampType}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/**
 * Event row consumed by the stateful streaming operators (the events
 * table shape). `ts_us` is event time in epoch microseconds — a long is
 * totally ordered, encoder-cheap, and free of timezone traps inside
 * state.
 */
case class Ev(event_id: Long, user_id: Long, event_type: String, ts_us: Long, value: Double)

/**
 * Structured-Streaming entry points (SURVEY.md §2.9 / M2). The
 * reference is a stream processor first (`DataStream.java:128`,
 * `WatermarkStrategy.java:133`); here streams are Spark streaming
 * DataFrames: file source → event-time transforms → memory sink.
 *
 * Scale notes: the file source is the test harness stand-in for any
 * DSv2 streaming source (kafka etc. swap in with one line). All
 * operators below keep per-key bounded state in the state store
 * (RocksDB-backed on a real cluster) — nothing buffers unbounded data
 * on the driver.
 *
 * Staging contract. The harnesses below turn a bounded table into
 * ordered micro-batches — how this engine reproduces the reference's
 * end-of-input MAX_WATERMARK on bounded sources (`Watermark.java:38`,
 * emitted when a bounded source closes):
 *  - [[stage]] appends each frame as the next parquet file of a scratch
 *    dir, timed after every file already there. Read back with
 *    [[readStaged]] under `maxFilesPerTrigger = 1`, file i is batch i by
 *    mtime (FileStreamSource's `latestFirst = false` default).
 *  - Keyed sentinels are two rounds, one row per user, with
 *    `event_id = -1`, at 2200-01-01 and one hour later: round 1
 *    advances the watermark past all real data, round 2 invokes every
 *    key again under it (NoTimeout keyed operators are never woken
 *    without input).
 *  - Final-watermark sentinels are single rows with
 *    `event_id = user_id = -1`, at 2200-01-01 plus r hours for round r.
 *  - A staged dir is memoized per SparkContext ([[stagedDir]]).
 *  - Staging never modifies a file outside its scratch dir, and every
 *    scratch dir is deleted at JVM exit.
 */
object StreamOps {

  private val ctr = new AtomicLong(0)
  def freshName(prefix: String): String = s"${prefix}_${ctr.incrementAndGet()}"

  /** Scratch dirs the harnesses own. They live for the JVM run — staged
   * dirs must keep resolving for cache hits, and the frame
   * [[runToBatch]] returns still reads its spool — so one shutdown hook
   * reclaims them all and long-lived hosts don't accumulate a temp tree
   * per driver run. */
  private val owned = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  locally {
    sys.addShutdownHook {
      owned.forEach { p =>
        try {
          val s = Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
            .foreach(f => Files.deleteIfExists(f))
          finally s.close()
        } catch { case _: Exception => () }
      }
    }
  }

  /** A fresh scratch dir, deleted at JVM exit. */
  def scratchDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    owned.add(d)
    d
  }

  /** Context-scoped memo of STAGED INPUT directories (the FrameCache
   * pattern applied to harness inputs): the harnesses below write the
   * same deterministic file set for every query that uses the same
   * harness, and ~35 gate queries restage identical inputs per run. The
   * first caller pays the staging writes; later callers read the same
   * directory through their OWN readStream + fresh checkpoint, so every
   * query still computes its result from the (staged) parquet inputs.
   *
   * Keyed by the SparkCONTEXT, not the session: every streaming gate
   * stages through its own `tuned()` newSession clone, and a
   * session-object key mints a fresh id per clone — the memo would
   * never share across gates (measured: two evsent gates staged two
   * identical directories). Staged dirs are plain files on disk, not
   * session-bound plans, so all clones of one driver context can read
   * them; separate driver runs (Verify vs Bench JVMs, or a cycled
   * context) still never share, and staging failures are not cached. */
  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, Path]()
  private val ctxIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())
  private def ctxIdOf(spark: SparkSession): String =
    ctxIds.computeIfAbsent(spark.sparkContext, _ => java.util.UUID.randomUUID().toString)
  private[streaming] def stagedDir(spark: SparkSession, key: String)(
      fill: Path => Unit): Path =
    // computeIfAbsent locks per key (bin), not globally: first-time
    // staging of UNRELATED inputs runs concurrently and cache-hit
    // lookups never wait behind another key's Spark write jobs (the
    // old map-wide synchronized serialized both)
    stagedDirs.computeIfAbsent(s"${ctxIdOf(spark)}#$key", _ => {
      val work = scratchDir("graft_stage")
      fill(work)
      work
    })

  private def parquets(work: Path): Set[Path] = {
    val s = Files.list(work)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    finally s.close()
  }

  /** Appends each frame, in order, as the next parquet file of `work`,
   * timed 10 s after every file already there. */
  def stage(work: Path, frames: DataFrame*): Unit = frames.foreach { df =>
    val before = parquets(work)
    val next = before.map(Files.getLastModifiedTime(_).toMillis).maxOption.getOrElse(0L) + 10000L
    df.coalesce(1).write.mode("append").parquet(work.toString)
    (parquets(work) -- before).foreach(Files.setLastModifiedTime(_, FileTime.fromMillis(next)))
  }

  /** Puts driver table `name` into an empty `work` as its first file
   * without rewriting it: a hard link (a copy across file systems) that
   * keeps its own mtime — the link shares the source's inode, so
   * re-timing it would re-time the source and every dir linked to it.
   * Later [[stage]] calls time their files after it. */
  private def stageTable(work: Path, dir: String, name: String): Unit = {
    val src = Paths.get(s"$dir/$name.parquet")
    val dst = work.resolve(s"${name}_data.parquet")
    try Files.createLink(dst, src)
    catch { case _: Exception => Files.copy(src, dst) }
  }

  /** Streaming read of a staged dir: one file per trigger, or with
   * `perFile = false` every file in one batch. */
  def readStaged(spark: SparkSession, work: Path, schema: StructType,
      perFile: Boolean = true): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (perFile) r.option("maxFilesPerTrigger", "1") else r).parquet(s"$work/*.parquet")
  }

  /** The [[Ev]] view of an events frame, batch or streaming. */
  def evView(events: DataFrame): Dataset[Ev] =
    graft.Tables.normalizeEventsTs(events)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as(Encoders.product[Ev])

  /** A cloned session with fewer shuffle/state partitions: at test
   * scale every micro-batch pays per-partition state-store I/O, so 8
   * partitions cuts that 4× vs the batch-tuned 32. On a real cluster
   * the cluster default stays in force (this is a session-local knob,
   * not a code-path difference). */
  def tuned(spark: SparkSession, partitions: Int = 8): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss
  }

  /** Streaming read of a driver parquet table, with Tables.load's
   * `events.ts` normalization. */
  def readStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val batch = spark.read.parquet(s"$dir/$name.parquet")
    // the tables are single files; the file streaming source requires a
    // directory or a glob — the trailing-star glob matches exactly the
    // one file and makes the source use the parent dir as basePath
    val sdf = spark.readStream.schema(batch.schema).parquet(s"$dir/$name.parquet*")
    if (name == "events") graft.Tables.normalizeEventsTs(sdf) else sdf
  }

  /** Run a streaming frame to completion (Trigger.AvailableNow) and
   * return its full output as a batch DataFrame.
   *
   * Sink choice is a SCALE decision: the memory sink serializes every
   * output row to the driver (the r15 sf10 sweep broke it — a 10M-row
   * changelog blew spark.driver.maxResultSize), so this writes each
   * micro-batch to a parquet spool from the EXECUTORS via foreachBatch
   * — output volume never crosses the driver, the same reason a real
   * deployment ends in a file/Kafka sink rather than collect().
   * append/update accumulate batches (exactly the rows those modes
   * emit); complete keeps the last batch's full table (what the memory
   * sink's truncate-per-batch leaves behind). */
  def runToBatch(spark: SparkSession, sdf: DataFrame, mode: String, prefix: String): DataFrame = {
    val dir = scratchDir(s"graft_sink_${freshName(prefix)}")
    val out = dir.resolve("out").toString
    val writeMode = if (mode == "complete") "overwrite" else "append"
    val q = sdf.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode(writeMode).parquet(out): Unit
      }
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.awaitTermination()
    // a stream may legitimately fire zero batches (no input): surface
    // that as an empty frame with the stream's own schema
    if (Files.exists(Paths.get(out)))
      spark.read.schema(sdf.schema).parquet(out)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sdf.schema)
  }

  /** The events stream as a typed Dataset[Ev] (event time in micros). */
  def eventsTyped(spark: SparkSession, dir: String): Dataset[Ev] =
    evView(readStream(spark, dir, "events"))

  /** The events table staged by `fill` into the dir memoized under
   * `key`, read back as [[Ev]]. */
  private def stagedEvents(spark: SparkSession, key: String, dir: String,
      perFile: Boolean = true)(fill: (Path, DataFrame) => Unit): Dataset[Ev] = {
    val batch = spark.read.parquet(s"$dir/events.parquet")
    evView(readStaged(spark, stagedDir(spark, s"$key:$dir")(fill(_, batch)),
      batch.schema, perFile))
  }

  private def half(events: DataFrame, par: Int): DataFrame =
    events.filter(col("event_id") % 2 === par)

  /** On-time rows (ts >= min ts + `splitOffsetUs`), then the rest. */
  private def lateSplit(events: DataFrame, splitOffsetUs: Long): Seq[DataFrame] = {
    val tsUs =
      if (events.schema("ts").dataType == LongType) expr("ts div 1000")
      else unix_micros(col("ts").cast("timestamp"))
    val minUs = events.agg(min(tsUs)).head().getAs[Number](0).longValue
    Seq(events.filter(tsUs >= minUs + splitOffsetUs), events.filter(tsUs < minUs + splitOffsetUs))
  }

  /** Sentinel event rows, one per row of `users` (a `user_id` frame),
   * at 2200-01-01 plus `hour` hours: event_id = -1, "sentinel" in the
   * other strings, zero elsewhere. */
  private def sentinels(events: DataFrame, users: DataFrame, hour: Int): DataFrame =
    users.select(events.schema.fields.toSeq.map { f =>
      (f.name, f.dataType) match {
        case ("user_id", _) => col("user_id")
        case ("event_id", _) => lit(-1L).as("event_id")
        case ("ts", LongType) => lit(7258118400000000000L + hour * 3600000000000L).as("ts")
        // string-cast serves TIMESTAMP and TIMESTAMP_NTZ alike (the
        // driver has generated events.ts as both, plus int64 nanos —
        // session tz is UTC so the instant is identical)
        case ("ts", dt) => lit(f"2200-01-01 $hour%02d:00:00").cast(dt).as("ts")
        case (n, StringType) => lit("sentinel").as(n)
        case (n, LongType) => lit(0L).as(n)
        case (n, _) => lit(0.0).as(n)
      }
    }: _*)

  private def keyedSentinels(events: DataFrame): Seq[DataFrame] = {
    val users = events.select(col("user_id")).distinct()
    Seq(sentinels(events, users, 0), sentinels(events, users, 1))
  }

  /** Batch 1 = even event_ids, batch 2 = odd: the second batch runs
   * under the watermark the first advanced, so per-batch watermark
   * VALUES are deterministic and oracle-checkable — the harness for the
   * CURRENT_WATERMARK surface (reference FLIP-162
   * `BuiltInFunctionDefinitions.CURRENT_WATERMARK`). */
  def eventsTypedHalves(spark: SparkSession, dir: String): Dataset[Ev] =
    stagedEvents(spark, "evhalves", dir)((w, ev) => stage(w, half(ev, 0), half(ev, 1)))

  /** Batch 1 = events at/after `minTs + splitOffsetUs`, batch 2 = the
   * rest, arriving LATE below the watermark batch 1 established (the
   * reference's late-element path in `CepOperator`). The split point is
   * a pure function of the data, so an oracle can reproduce exactly
   * which rows were late. */
  def eventsTypedLateSplit(spark: SparkSession, dir: String,
      splitOffsetUs: Long): Dataset[Ev] =
    stagedEvents(spark, s"evlate:$splitOffsetUs", dir)(
      (w, ev) => stage(w, lateSplit(ev, splitOffsetUs): _*))

  /** Batches 1-2 as [[eventsTypedLateSplit]], batches 3-4 the keyed
   * sentinel rounds — for NoTimeout operators whose late-data behavior
   * needs an end-of-input flush (allowed-lateness refire, late
   * capture). */
  def eventsTypedLateSplitWithSentinels(spark: SparkSession, dir: String,
      splitOffsetUs: Long): Dataset[Ev] =
    stagedEvents(spark, s"evlatesent:$splitOffsetUs", dir)(
      (w, ev) => stage(w, lateSplit(ev, splitOffsetUs) ++ keyedSentinels(ev): _*))

  /** Batch 1 = the events table, batches 2-3 = the keyed sentinel
   * rounds (the per-key analog of MAX_WATERMARK). Operators skip
   * event_id = -1 rows for aggregation. */
  def eventsTypedWithKeyedSentinels(spark: SparkSession, dir: String): Dataset[Ev] =
    stagedEvents(spark, "evsent", dir) { (w, ev) =>
      stageTable(w, dir, "events")
      stage(w, keyedSentinels(ev): _*)
    }

  /** The events table plus `rounds` final-watermark sentinels, in one
   * batch for `rounds = 1`; with `rounds > 1` the table and each
   * sentinel are batches of their own — needed by operators that emit
   * one watermark advance after eviction, e.g. outer-join
   * null-extensions. Callers filter the sentinels out of the output. */
  def eventsTypedWithFinalWatermark(spark: SparkSession, dir: String,
      rounds: Int = 1): Dataset[Ev] =
    stagedEvents(spark, s"evflush:$rounds", dir, perFile = rounds > 1) { (w, ev) =>
      val global = ev.sparkSession.range(1).select(lit(-1L).as("user_id"))
      stageTable(w, dir, "events")
      stage(w, (1 to rounds).map(r => sentinels(ev, global, r)): _*)
    }

  /** ANY driver table plus `rounds` final-watermark sentinel rows, in
   * the batch shapes of [[eventsTypedWithFinalWatermark]], for
   * non-events schemas. Sentinel rows carry -1 in every `idCols` column
   * (callers filter them out), "sentinel" in other strings, far-future
   * in `timeCol`, zero elsewhere. */
  def tableWithFinalWatermark(spark: SparkSession, dir: String, name: String,
      timeCol: String, idCols: Seq[String], rounds: Int = 1): DataFrame = {
    val batch = spark.read.parquet(s"$dir/$name.parquet")
    def sentinel(r: Int): DataFrame = batch.limit(1).select(batch.schema.fields.toSeq.map { f =>
      if (idCols.contains(f.name)) lit(-1L).cast(f.dataType).as(f.name)
      else if (f.name == timeCol) f.dataType match {
        // Epoch-micros convention (the streaming layer's Long time
        // columns): a string-cast would yield NULL and the watermark
        // would never advance, so emit far-future micros directly.
        case LongType => lit(farFutureMicros + r * 3600L * 1000000L).as(f.name)
        case _: TimestampType | _: TimestampNTZType | _: DateType | _: StringType =>
          lit(f"2200-01-${1 + r / 24}%02d ${r % 24}%02d:00:00").cast(f.dataType).as(f.name)
        case dt => throw new IllegalArgumentException(
          s"tableWithFinalWatermark: unsupported time column type $dt for '$timeCol'")
      }
      else f.dataType match {
        case StringType => lit("sentinel").as(f.name)
        case dt => lit(0).cast(dt).as(f.name)
      }
    }: _*)
    val work = stagedDir(spark,
        s"tflush:$name:$timeCol:${idCols.mkString(",")}:$rounds:$dir") { w =>
      stageTable(w, dir, name)
      stage(w, (1 to rounds).map(sentinel): _*)
    }
    readStaged(spark, work, batch.schema, perFile = rounds > 1)
  }

  /** The dir of one staged half of the events table
   * (`event_id % 2 == par`), one file. */
  private[streaming] def stagedEventsHalf(spark: SparkSession, dir: String, par: Int): String =
    stagedDir(spark, s"evhalf:$par:$dir")(
      stage(_, half(spark.read.parquet(s"$dir/events.parquet"), par))).toString

  /** One half of the events table in one batch: the savepoint-rescale
   * gates each replay the same deterministic halves as separate
   * bootstrap/resume inputs. */
  def eventsTypedHalf(spark: SparkSession, dir: String, par: Int): Dataset[Ev] =
    evView(readStaged(spark, Paths.get(stagedEventsHalf(spark, dir, par)),
      spark.read.parquet(s"$dir/events.parquet").schema, perFile = false))

  /** Epoch micros of 2200-01-01T00:00:00Z — far past any fixture row. */
  private val farFutureMicros: Long =
    java.time.Instant.parse("2200-01-01T00:00:00Z").getEpochSecond * 1000000L
}
