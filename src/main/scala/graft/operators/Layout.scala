package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data layout for scan-time pruning — the storage-side half
  * of the 100 TB story. Parquet keeps per-row-group/file min-max stats;
  * what makes those stats SELECTIVE is how rows are clustered across
  * files. A single-column sort clusters one dimension and leaves every
  * other dimension's per-file span at the full domain; interleaving the
  * bits of several dimensions (a Z-order / Morton curve — Morton 1966,
  * the standard technique behind Delta/Iceberg Z-clustering) bounds
  * EVERY interleaved dimension's span per file, so conjunctive and
  * single-dimension predicates on any of them skip most files.
  *
  * All pure column expressions (codegen'd): one stats pass, one z-value
  * pass, then a range repartition + in-partition sort — exactly the
  * cost of a normal sorted write. Writing and compaction are the
  * commit log's: `CommitLog.replaceAll(zOrderFrame(…))`,
  * `CommitLog.optimize(targetFiles, zorderBy)` and
  * `CALL graft.system.optimize`.
  */
object Layout {

  /** Linear min-max scaling of `c` into 0 .. 2^bits - 1 (long). `lo`/`hi`
    * come from a one-row stats aggregate; constant columns map to 0. */
  def scaleToBits(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val span = hi.cast("double") - lo.cast("double")
    val maxV = (1L << bits) - 1
    least(greatest(
      when(span > 0,
        floor((c.cast("double") - lo.cast("double")) / span * maxV).cast("long"))
        .otherwise(lit(0L)),
      lit(0L)), lit(maxV))
  }

  /** Morton interleave: bit i of column j lands at position
    * i * n_cols + j. Inputs must already be in 0 .. 2^bits - 1. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits * cols.length <= 63,
      s"z-value needs bits*cols <= 63, got $bits*${cols.length}")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cols.length + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** The z-ordering TRANSFORM alone: `df` scaled, Morton-coded, range-
    * repartitioned into `numFiles` partitions and sorted within each —
    * hand the result to any writer and the per-file min/max stats come
    * out selective on every cluster column. Writing it through a
    * [[graft.sources.CommitLog]] makes those stats land in the
    * manifest, so `readRange` skips files without opening them (the
    * r7 gap: zorder existed but the log could not exploit it on its
    * own tables). */
  def zOrderFrame(df: DataFrame, clusterCols: Seq[String],
      numFiles: Int, bits: Int = 16): DataFrame = {
    val stats = df.agg(
      clusterCols.flatMap(c =>
        Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c"))).head,
      clusterCols.flatMap(c =>
        Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c"))).tail: _*)
    val scaled = df.crossJoin(broadcast(stats))
    val z = zValue(
      clusterCols.map(c => scaleToBits(col(c), col(s"__lo_$c"), col(s"__hi_$c"), bits)),
      bits)
    scaled.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(clusterCols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")): _*)
      .drop("__z")
  }
}
