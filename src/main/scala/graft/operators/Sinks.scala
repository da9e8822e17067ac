package graft.operators

import org.apache.spark.sql.DataFrame

/** Parquet sinks (SURVEY B2). Table writes that must be atomic go
  * through the commit log ([[graft.sources.CommitLog]], or a
  * [[graft.sources.GraftCatalog]] table); no sink here rewrites a
  * table in place. Insert-if-absent into an append-only table is an
  * append of [[Upsert.absentRows]] ([[graft.pipeline.FuelIngest]]).
  *
  * `prices`-style history is date-partitioned so the reference's
  * `(Id, Timestamp)` sort-key range read becomes partition pruning +
  * parquet min/max skipping at scale.
  */
object Sinks {

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
