package perfbench

import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** Closed-loop harness for one workload: one client runs the workload's
  * gates one after another, each timed as `graft.Bench` times it (the
  * query lambda plus the `noop` write), for as many whole passes as fit in
  * the measurement window. Arguments are `key=value` pairs:
  *
  *  - `inputs`  table directory the gates read (`<name>.parquet` files)
  *  - `gates`   comma-separated gate names, in run order
  *  - `out`     directory for `result.json`, `oracle_sql.json` and the
  *              `check/<gate>` outputs of the check pass
  *  - `seconds` measurement window; a pass starts only if it should end
  *              inside it, and at least [[MinPasses]] passes run
  *  - `trace`   1 registers the job and plan listeners and reports layers
  *  - `cores`   local[cores] and spark.sql.shuffle.partitions
  *
  * Before the window, an untimed check pass runs every gate once and
  * writes its result for the oracle compare, which is judged outside the
  * JVM. The timed passes that follow run the gates back to back. */
object PerfBench {

  /** Timed passes that run whatever the window, so that each per-pass
    * metric is a median of at least this many passes. */
  val MinPasses = 2

  /** One timed gate; `cpuS` is the CPU time the process spent over the
    * same region, less that of the JVM's own compiler, GC and VM threads. */
  final case class GateRun(pass: Int, gate: String, buildS: Double,
      writeS: Double, totalS: Double, cpuS: Double, error: Option[String])

  /** One pass, with what it left behind (see [[release]]). */
  final case class PassRun(index: Int, startUs: Long, endUs: Long, gcS: Double,
      jitCpuS: Double, gcCpuS: Double,
      heapPeakMb: Double, storageMbLeft: Double, tmpMbLeft: Double,
      tmpLeft: Map[String, Int]) {
    def wallS: Double = (endUs - startUs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val inputs = kv("inputs")
    val gates = kv("gates").split(',').toSeq.filter(_.nonEmpty)
    val out = Paths.get(kv("out"))
    val seconds = kv("seconds").toDouble
    val trace = kv.get("trace").contains("1")
    val cores = kv("cores").toInt
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))

    val fns = SparkEntry.queries
    val unknown = gates.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    Files.createDirectories(out)
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(gates.map(g => g -> Json.str(oracle.getOrElse(g, "")))))

    // ---- set-up, from process start until the session has read the inputs
    // once (the warm-up query graft.Bench uses)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val gatesReadyS = sinceStartS
    val spark = session(cores, tmpRoot, trace)
    val sessionReadyS = sinceStartS
    Tables.load(spark, inputs, "lineitem").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val setupS = sinceStartS
    System.err.println(s"[perfbench] setup: gates loaded ${gatesReadyS} s, " +
      s"session ${sessionReadyS} s, inputs read ${setupS} s after JVM start")

    // ---- check pass, untimed: every gate's result goes to parquet for the
    // oracle compare; then the pass's leftovers are released like any pass's
    val checkStart = System.nanoTime()
    val checkSession = spark.newSession()
    val checkTmp = listDir(tmpRoot)
    gates.foreach(g => check(checkSession, fns(g), inputs, g, out.resolve("check").resolve(g)))
    release(checkSession, tmpRoot, checkTmp)
    val checkS = (System.nanoTime() - checkStart) / 1e9
    System.gc()
    Trace.clear()

    // ---- timed passes, each on a new session so that every session-scoped
    // memo starts empty
    val gateRuns = Vector.newBuilder[GateRun]
    var passes = Vector.empty[PassRun]
    val windowStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - windowStart) / 1e9
    while (passes.size < MinPasses || elapsedS + median(passes.map(_.wallS)) <= seconds) {
      val p = passes.size
      val ss = spark.newSession()
      val tmpBefore = listDir(tmpRoot)
      resetPeaks()
      val gc0 = gcSeconds
      val jvm0 = JvmCpu.read()
      val passStart = Trace.nowUs
      gates.foreach(g => gateRuns += runGate(ss, fns(g), inputs, g, p))
      val passEnd = Trace.nowUs
      Trace.add(Span("pass", s"pass $p", passStart, passEnd))
      val jvm1 = JvmCpu.read()
      val heapPeak = heapPeakMb
      val (storageLeft, tmpLeftMb, byPrefix) = release(ss, tmpRoot, tmpBefore)
      passes :+= PassRun(p, passStart, passEnd, gcSeconds - gc0,
        JvmCpu.internalS(jvm0, jvm1, JvmCpu.isJit), JvmCpu.internalS(jvm0, jvm1, JvmCpu.isGc),
        heapPeak, storageLeft, tmpLeftMb, byPrefix)
      System.gc()
    }
    val windowS = elapsedS
    // let the listener bus drain: read the spans once no new one arrived
    // for 300 ms (at most 5 s)
    var seen = -1
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = Trace.spans.size
      quiet = if (n == seen) quiet + 1 else 0
      seen = n
    }
    val spans = Trace.snapshot()
    val runs = gateRuns.result()
    val result = Report.build(runs, passes, spans, setupS, checkS, windowS, cores, trace)
    val sc = spark.sparkContext
    val stamp = Json.obj(Seq(
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark" -> Json.str(sc.version),
      "master" -> Json.str(sc.master)))
    Files.writeString(out.resolve("result.json"),
      Json.obj(Seq("stamp" -> stamp) ++ result))
    if (trace) Files.write(out.resolve("spans.jsonl"), Report.spanLines(spans).asJava)
    spark.stop()
  }

  private def session(cores: Int, tmp: Path, trace: Boolean): SparkSession = {
    val b = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      // report every micro-batch, also the no-data ones that advance the
      // watermark (by default at most one such report per 10 s)
      .config("spark.sql.streaming.noDataProgressEventInterval", "0")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName))
    val traced =
      if (trace) b.config("spark.extraListeners", classOf[JobTrace].getName)
        .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
      else b
    val s = traced.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def runGate(ss: SparkSession, fn: (SparkSession, String) => DataFrame,
      inputs: String, g: String, pass: Int): GateRun = {
    val cpu0 = JvmCpu.read()
    val t0 = System.nanoTime()
    val start = Trace.nowUs
    var tb = 0L
    val err =
      try {
        val df = fn(ss, inputs)
        tb = System.nanoTime()
        Trace.add(Span("queries.build", g, start, Trace.nowUs))
        val w0 = Trace.nowUs
        df.write.format("noop").mode("overwrite").save()
        Trace.add(Span("exec.write", g, w0, Trace.nowUs))
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    Trace.add(Span("gate", g, start, Trace.nowUs))
    val cpuS = JvmCpu.ownS(cpu0, JvmCpu.read())
    if (tb == 0L) tb = t1
    GateRun(pass, g, (tb - t0) / 1e9, (t1 - tb) / 1e9, (t1 - t0) / 1e9, cpuS,
      err.map(_.take(500)))
  }

  /** Runs a gate and writes its result to parquet for the oracle compare.
    * A gate that throws leaves its error in `ERROR` instead and is judged
    * failed. */
  private def check(ss: SparkSession, fn: (SparkSession, String) => DataFrame,
      inputs: String, g: String, dir: Path): Unit =
    try fn(ss, inputs).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    catch { case NonFatal(e) =>
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("ERROR"), s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Leak accounting: measures what a pass left (persisted MB, and MB and
    * count by name prefix of the new entries in the temp directory), then
    * unpersists every frame and deletes only those new entries. Staged
    * streaming inputs are a per-context memo the engine reuses across passes
    * and removes at JVM exit; they are neither counted nor deleted. */
  private def release(ss: SparkSession, tmpRoot: Path,
      before: Set[Path]): (Double, Double, Map[String, Int]) = {
    val storageLeft = storageMb(ss)
    ss.catalog.clearCache()
    ss.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val left = (listDir(tmpRoot) -- before)
      .filterNot(_.getFileName.toString.startsWith("graft_stage"))
    val tmpLeftMb = left.toSeq.map(sizeBytes).sum / 1048576.0
    val byPrefix = left.toSeq.groupBy(f => prefixOf(f.getFileName.toString))
      .map { case (k, v) => k -> v.size }
    left.foreach(deleteTree)
    (storageLeft, tmpLeftMb, byPrefix)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def storageMb(ss: SparkSession): Double =
    ss.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def listDir(p: Path): Set[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSet finally s.close()
  }

  private def prefixOf(name: String): String =
    name.takeWhile(c => c.isLetter || c == '_').stripSuffix("_") match {
      case "" => "other"
      case s => s
    }

  private def sizeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    catch { case NonFatal(_) => 0L }
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(f => Files.deleteIfExists(f))
    catch { case NonFatal(_) => () }
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** CPU time of the JVM's own threads, and of the process without them.
  * The JIT compiler alone uses most of a cold JVM's CPU; leaving it, GC
  * and the other VM threads out leaves the CPU the gates' threads used
  * (driver, stream execution, task and listener threads). HotSpot reports
  * its internal threads through `sun.management`, opened to the harness by
  * `--add-opens java.management/sun.management=ALL-UNNAMED`; the JVM runs
  * with `-XX:-UseDynamicNumberOfCompilerThreads` so that no compiler
  * thread exits and takes its CPU time out of the sum. */
object JvmCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val hotspot = Class.forName("sun.management.ManagementFactoryHelper")
    .getMethod("getHotspotThreadMBean").invoke(null)
  private val internalTimes = Class.forName("sun.management.HotspotThreadMBean")
    .getMethod("getInternalThreadCpuTimes")

  /** Process CPU nanoseconds, and those of each internal thread by name. */
  final case class Reading(processNs: Long, internal: Map[String, Long])

  def read(): Reading = {
    val threads = internalTimes.invoke(hotspot).asInstanceOf[java.util.Map[String, java.lang.Long]]
    Reading(os.getProcessCpuTime, threads.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def isJit(name: String): Boolean = name.contains("CompilerThread") || name.startsWith("Sweeper")
  def isGc(name: String): Boolean =
    name.startsWith("GC Thread") || name.startsWith("G1 ") || name == "VM Thread"

  /** Seconds the selected internal threads used between two readings; a
    * thread born in between counts from zero. */
  def internalS(a: Reading, b: Reading, select: String => Boolean): Double =
    b.internal.collect { case (k, v) if select(k) => v - a.internal.getOrElse(k, 0L) }.sum / 1e9

  /** Seconds the process used between two readings, less its internal threads'. */
  def ownS(a: Reading, b: Reading): Double =
    (b.processNs - a.processNs) / 1e9 - internalS(a, b, _ => true)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
