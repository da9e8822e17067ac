package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Physical-layout ops: Morton interleave correctness and the
  * clustering property z-order buys for multi-dimension pruning.
  * Small-file compaction is `CommitLog.optimize` (CommitLogSpec). */
class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("zOrderFrame through a commit log: range reads prune files on BOTH cluster columns") {
    import graft.sources.CommitLog
    val t = java.nio.file.Files.createTempDirectory("zlog").toString + "/t"
    val grid = spark.range(10000).select(
      ($"id" % 100).as("x"), ($"id" / 100).cast("long").as("y"))
    val log = CommitLog(spark, t)
    log.replaceAll(Layout.zOrderFrame(grid, Seq("x", "y"), numFiles = 16))
    val all = log.read().inputFiles.length
    assert(all === 16)
    // the manifest's footer stats + z-clustering skip most files for a
    // narrow range on EITHER interleaved dimension — the r7 gap where
    // zorder existed but the log couldn't exploit it on its own tables
    val px = log.readRange("x", 10L, 19L)
    val py = log.readRange("y", 10L, 19L)
    assert(px.inputFiles.length <= all / 2, s"x-range read ${px.inputFiles.length}/$all files")
    assert(py.inputFiles.length <= all / 2, s"y-range read ${py.inputFiles.length}/$all files")
    // pruning never changes results
    assert(px.count() === 1000L && py.count() === 1000L)
  }

  test("zValue interleaves bits at the documented positions") {
    val df = Seq((3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L)).toDF("x", "y")
    val got = df.select(Layout.zValue(Seq($"x", $"y"), 2).as("z"))
      .as[Long].collect().toSeq
    // bit i of x -> 2i, bit i of y -> 2i+1
    assert(got === Seq(0x5L, 0xAL, 0xFL, 0x6L))
  }

  test("z-order bounds BOTH dimensions' per-file span; single sort only one") {
    import graft.sources.CommitLog
    val grid = spark.range(10000).select(
      ($"id" % 100).as("x"), ($"id" / 100).cast("long").as("y"))
    val base = java.nio.file.Files.createTempDirectory("zspan").toString
    val zlog = CommitLog(spark, s"$base/zorder")
    val slog = CommitLog(spark, s"$base/singlesort")
    zlog.replaceAll(Layout.zOrderFrame(grid, Seq("x", "y"), numFiles = 16))
    slog.replaceAll(grid.repartitionByRange(16, $"x").sortWithinPartitions($"x"))

    def avgSpans(log: CommitLog): (Double, Double) = {
      val spans = log.read()
        .groupBy(input_file_name().as("f"))
        .agg((max($"x") - min($"x")).cast("double").as("sx"),
          (max($"y") - min($"y")).cast("double").as("sy"))
        .agg(avg($"sx"), avg($"sy")).as[(Double, Double)].head()
      spans
    }
    val (zx, zy) = avgSpans(zlog)
    val (sx, sy) = avgSpans(slog)
    // global span is 99 in each dimension; 16 z-files ~ 4x4 tiles
    assert(zx < 50 && zy < 50, s"z-order spans ($zx, $zy) should both be tile-sized")
    assert(sx < 15, s"single-sort clusters its own key, got $sx")
    assert(sy > 90, s"single-sort leaves the other dimension unclustered, got $sy")
    // same rows either way
    assert(zlog.read().count() === 10000L)
  }
}
