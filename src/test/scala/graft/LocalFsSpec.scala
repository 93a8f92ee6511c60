package graft

import graft.streaming.StreamOps
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem ([[LocalFs]]) behaves as Hadoop's
 * `LocalFileSystem` / `local.LocalFs` on what the engine uses, and
 * starts no process while a stream checkpoints. */
class LocalFsSpec extends SparkSuite {

  private def hadoopConf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  private def hadoopFs(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), hadoopConf())
    fs
  }

  private def engineFs(): LocalFileSystem = {
    val fs = new LocalFileSystemNoFork()
    fs.initialize(URI.create("file:///"), hadoopConf())
    fs
  }

  private def scratch(): JPath = {
    val d = Files.createTempDirectory("graft_spec_localfs")
    d.toFile.deleteOnExit()
    d
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  /** A path without scheme: Hadoop's link resolution reads the link of
   * `Path.toString`, so it only sees symlinks through unqualified paths. */
  private def plain(p: JPath): Path = new Path(p.toString)

  /** Relative path -> `unix:mode` (permission bits with the sticky
   * bit) of every entry under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally s.close()
  }

  /** The same creates and mkdirs through `fs` under `root`. */
  private def populate(fs: FileSystem, root: JPath): Unit = {
    val r = hpath(root)
    fs.create(new Path(r, "plain.txt")).close()
    fs.create(new Path(r, "explicit.txt"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(r, "a/b/c"))
    fs.mkdirs(new Path(r, "d/e"), new FsPermission("700"))
    fs.create(new Path(r, "a/b/c/nested.txt")).close()
    // mkdirs drops a sticky bit with the umask; Hadoop sets it afterwards
    FileSystem.mkdirs(fs, new Path(r, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    fs.setPermission(new Path(r, "explicit.txt"), new FsPermission("604"))
  }

  test("create and mkdirs give Hadoop's permission bits under umask 022, sticky bit included") {
    val (h, e) = (scratch(), scratch())
    populate(hadoopFs(), h)
    populate(engineFs(), e)
    val (hm, em) = (modes(h), modes(e))
    assert(hm.keySet.contains(".plain.txt.crc"), hm.keySet)
    assert(em == hm)
    assert(em("plain.txt") == Integer.parseInt("644", 8))
    assert(em("a/b/c") == Integer.parseInt("755", 8))
    assert(em("explicit.txt") == Integer.parseInt("604", 8))
    assert(em("sticky") == Integer.parseInt("1777", 8))
  }

  test("FileContext.rename with OVERWRITE replaces the target and its checksum") {
    val root = scratch()
    val fc = FileContext.getFileContext(URI.create("file:///"), hadoopConf())
    def write(name: String, text: String): Path = {
      val p = new Path(hpath(root), name)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
      p
    }
    val src = write("src.txt", "new contents")
    val dst = write("dst.txt", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src))
    val in = fc.open(dst)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(text == "new contents")
    assert(Files.exists(root.resolve(".dst.txt.crc")) && !Files.exists(root.resolve(".src.txt.crc")))
  }

  test("a real symlink still reports isSymlink through both Hadoop APIs") {
    val root = scratch()
    val target = Files.writeString(root.resolve("target.txt"), "x")
    val link = Files.createSymbolicLink(root.resolve("link.txt"), target)
    val fc = FileContext.getFileContext(URI.create("file:///"), hadoopConf())
    val viaFc = fc.getFileLinkStatus(plain(link))
    val viaFs = engineFs().getFileLinkStatus(plain(link))
    assert(viaFc.isSymlink && viaFs.isSymlink)
    assert(viaFs.getSymlink == hadoopFs().getFileLinkStatus(plain(link)).getSymlink)
    assert(fc.getLinkTarget(plain(link)) == plain(target))
    assert(!engineFs().getFileLinkStatus(plain(target)).isSymlink)
  }

  test("FileSystem.get and FileContext resolve file:/// to the engine's classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[LocalFileSystemNoFork], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[RawLocalFsNoFork])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFsNoFork], afs.getClass)
  }

  /** Counts the processes started from Hadoop code: Spark's background
   * cleanup of earlier suites' state-store dirs (`rm -rf` from Spark's
   * `Utils`) may run at the same time and is not the filesystem's doing. */
  test("a stateful stream run to completion starts no process from Hadoop's filesystem") {
    // (command, classes on the stack) of every process start
    val started = new ConcurrentLinkedQueue[(String, Seq[String])]()
    def fromHadoop = started.asScala.filter(_._2.exists(_.startsWith("org.apache.hadoop."))).map(_._1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", { e =>
        val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
        started.add(e.getString("command") -> frames.map(_.getMethod.getType.getName))
      })
      @volatile var barrier: Option[(java.time.Instant, CountDownLatch)] = None
      rs.onFlush(() => barrier.foreach { case (t, l) => if (java.time.Instant.now.isAfter(t)) l.countDown() })
      // every event recorded before a flush is dispatched before its action
      def drain(): Unit = {
        val l = new CountDownLatch(1)
        barrier = Some(java.time.Instant.now -> l)
        assert(l.await(60, TimeUnit.SECONDS), "no JFR flush within 60 s")
      }
      rs.startAsync()
      // the recording sees a process start, with its stack
      new ProcessBuilder("true").start().waitFor()
      drain()
      assert(started.asScala.exists { case (c, st) =>
        c == "true" && st.contains("java.lang.ProcessBuilder") }, started)
      // once-per-JVM probes (e.g. Spark's `getconf PAGESIZE`) start
      // their processes in the first run; the second run is measured
      def run() = {
        val s = StreamOps.tuned(spark)
        val agg = StreamOps.readStream(s, SparkSuite.eventsDir, "events")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        StreamOps.runToBatch(s, agg, "complete", "spec_localfs").collect()
      }
      run()
      drain()
      started.clear()
      val rows = run()
      drain()
      assert(rows.nonEmpty)
      assert(fromHadoop.isEmpty,
        s"${fromHadoop.size} processes started, e.g. ${fromHadoop.take(3).mkString("; ")}")
    } finally rs.close()
  }
}
