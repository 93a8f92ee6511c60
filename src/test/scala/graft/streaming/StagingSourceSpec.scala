package graft.streaming

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** Staging never modifies a file outside its scratch dir. The harnesses
 * that put a whole table into their dir do so through a hard link,
 * which shares the source's inode: re-timing the link would re-time the
 * driver table itself, and with it the batch order of every other dir
 * linked to it. */
class StagingSourceSpec extends SparkSuite {

  test("staging each harness leaves the mtime of its source tables unchanged") {
    val dir = Files.createTempDirectory("graft_spec_source")
    dir.toFile.deleteOnExit()
    val mtime = FileTime.fromMillis(1700000000000L)
    val sources: Seq[Path] = Seq("events", "orders").map { n =>
      val f = dir.resolve(s"$n.parquet")
      Files.copy(Paths.get(s"/root/testdata/sf0.01/$n.parquet"), f)
      Files.setLastModifiedTime(f, mtime)
      f.toFile.deleteOnExit()
      f
    }
    val d = dir.toString
    val s = StreamOps.tuned(spark)
    val harnesses: Seq[(String, () => Any)] = Seq(
      "eventsTypedHalves" -> (() => StreamOps.eventsTypedHalves(s, d)),
      "eventsTypedLateSplit" -> (() => StreamOps.eventsTypedLateSplit(s, d, 3600L * 1000000)),
      "eventsTypedLateSplitWithSentinels" ->
        (() => StreamOps.eventsTypedLateSplitWithSentinels(s, d, 3600L * 1000000)),
      "eventsTypedWithKeyedSentinels" -> (() => StreamOps.eventsTypedWithKeyedSentinels(s, d)),
      "eventsTypedWithFinalWatermark" -> (() => StreamOps.eventsTypedWithFinalWatermark(s, d)),
      "eventsTypedWithFinalWatermark(rounds = 2)" ->
        (() => StreamOps.eventsTypedWithFinalWatermark(s, d, rounds = 2)),
      "tableWithFinalWatermark" -> (() => StreamOps.tableWithFinalWatermark(
        s, d, "orders", "o_orderdate", Seq("o_orderkey", "o_custkey"))),
      "stagedEventsHalf" -> (() => StreamOps.stagedEventsHalf(s, d, 0)))
    harnesses.foreach { case (name, harness) =>
      harness()
      sources.foreach { f =>
        assert(Files.getLastModifiedTime(f) == mtime, s"$name re-timed $f")
      }
    }
  }
}
