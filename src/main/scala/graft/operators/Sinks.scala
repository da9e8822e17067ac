package graft.operators

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parquet sinks (SURVEY B2): append, partitioned write, atomic overwrite
  * and the snapshot write path of the reference (index.js:329-345).
  * Insert-if-absent into an append-only table is an append of
  * [[Upsert.absentRows]] ([[graft.pipeline.FuelIngest]]); no sink
  * rewrites a table to add rows.
  *
  * `prices`-style history is date-partitioned so the reference's
  * `(Id, Timestamp)` sort-key range read becomes partition pruning +
  * parquet min/max skipping at scale.
  */
object Sinks {

  /** Overwrite via write-temp-then-swap: readers never observe a
    * half-written directory, and no crash point loses the table. The new
    * copy is written to `<path>.__tmp__`; the old one is renamed aside to
    * `<path>.__old__` before the new one is renamed in, and deleted only
    * after. A crash between the two renames leaves the old copy aside,
    * and the next call restores it before it writes; a crash after them
    * leaves a stale aside copy, which the next call deletes.
    * (Non-transactional across concurrent writers — the reference's two
    * sequential puts aren't atomic either, SURVEY §3 EP2.) */
  def writeAtomic(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".__tmp__")
    val aside = new Path(path + ".__old__")
    if (fs.exists(aside)) {
      if (fs.exists(dst)) fs.delete(aside, true)
      else rename(fs, aside, dst)
    }
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dst)) rename(fs, dst, aside)
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(aside)) rename(fs, aside, dst)
      throw new IOException(s"atomic rename $tmp -> $dst failed")
    }
    fs.delete(aside, true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"rename $from -> $to failed")

  /** A8: append a timestamped snapshot, partitioned by snapshot date. */
  def appendSnapshot(df: DataFrame, path: String, tsCol: String = "Timestamp"): Unit =
    df.withColumn(tsCol, current_timestamp())
      .withColumn("snapshot_date", to_date(col(tsCol)))
      .write.mode("append").partitionBy("snapshot_date").parquet(path)

  /** Bucketed table write: pre-shuffles once at write time so future
    * equi-joins/aggregations on `keys` read co-located buckets with NO
    * shuffle — the right layout for repeatedly-joined 100 TB fact tables.
    * (Bucketing requires the catalog, hence saveAsTable.) */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
