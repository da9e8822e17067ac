package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Upsert}

/** The reference's main ingest pipeline (SURVEY §3 EP1) as one lazy
  * DataFrame DAG: list → per-key enrichment → null filter → projection →
  * stations insert-if-absent + prices snapshot append, with a run report
  * carrying the reference's stage counts and elapsed time
  * (/root/reference/index.js:41-58, 94, 143, 167).
  *
  * Each stage's work runs once. The enriched frame is the only cached
  * one, and one aggregate over it yields every stage count. `stations`
  * is append-only: a cycle reads only the existing `Id` column and
  * appends the listed stations absent from it ([[Upsert.absentRows]]);
  * existing rows are never rewritten. Both appends carry a `rebalance`
  * hint, so each writes files sized by bytes (one file per table at
  * 10^3-10^4 stations), and `Dataset.observe` counts on the writes give
  * the station and snapshot counts. A cycle is 9 Spark jobs with a
  * `stations` table and 8 without one (pinned in FuelPipelineSpec). Both
  * tables are plain parquet with the [[FuelSchemas]] columns, read with
  * those declared schemas rather than inferred from footers.
  *
  * A retried cycle is exactly-once for `prices`: after the snapshot
  * append commits, the run creates an empty marker directory
  * `<prices>/_runs/<runTs millis>` (the `_` prefix hides it from
  * partition discovery; a directory holds no bytes and adds no file),
  * and a run that finds its marker skips the append. It still returns
  * the same [[RunReport]], at the price of one count job on that path.
  * The remaining crash window is between the append's job commit and
  * the marker write: a crash there leaves the snapshots without a
  * marker, and a retry appends them again. Stations need no marker: a
  * retry finds no absent rows to append.
  */
object FuelIngest {

  final case class RunReport(
      nStubs: Long,
      nFetched: Long,
      nQuarantined: Long,
      nFiltered: Long,
      nStationsBefore: Long,
      nStationsAfter: Long,
      nPriceSnapshots: Long,
      elapsedMinutes: Double)

  /** Bound on the wait for a write's observed metrics, which arrive on the
    * listener bus just after the write's job ends. */
  private val ObserveTimeout = 300.seconds

  /** Run one ingest cycle. `runTs` is injected (not now()) so runs are
    * reproducible and testable — formatted 'yyyy-MM-dd HH:mm:ss' at the
    * boundary exactly like the reference (index.js:311,336,364-365).
    * A listing that repeats a station id is refused before anything is
    * written: every later stage assumes one row per station. */
  def run(
      spark: SparkSession,
      source: StationSource,
      stationsPath: String,
      pricesPath: String,
      runTs: java.sql.Timestamp,
      quarantinePath: Option[String] = None): RunReport = {
    val t0 = System.nanoTime()
    val conf = spark.sparkContext.hadoopConfiguration

    // A2-A4: list endpoint → stubs → fan-out lookup enrichment
    // (partition-parallel); cached so every lookup runs once per cycle
    val enriched = LookupEnricher.enrich(source.stationStubs(spark), "id", source).cache()
    try {
      // A5: null-rejecting filter (index.js:118-120)
      val complete = col("detail.Nome").isNotNull &&
        col("detail.Morada").isNotNull &&
        col("detail.Combustiveis").isNotNull
      val counts = enriched.agg(count(lit(1)), count(col("detail")), count_if(complete),
        count(col("id")), count_distinct(col("id"))).head()
      val (nStubs, nFetched, nFiltered) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      require(counts.getLong(3) == counts.getLong(4),
        s"station listing repeats an id: ${counts.getLong(3)} ids, " +
          s"${counts.getLong(4)} distinct")

      // A14: failed/missing lookups are routed to a quarantine output (not
      // silently dropped) — the reference only log-and-continues
      quarantinePath.foreach(p => enriched.filter(col("detail").isNull)
        .select(col("id"), col("nome"), lit("detail_fetch_failed").as("reason"),
          lit(runTs).cast("timestamp").as("quarantined_at"))
        .write.mode("append").parquet(p))

      val filtered = enriched.filter(complete)
      val ts = lit(runTs).cast("timestamp")

      // A6: wide projection; Utilizacao intentionally dropped (index.js:356-366)
      val stations = filtered.select(
        col("id").as("Id"),
        col("detail.Nome").as("Nome"),
        col("detail.Marca").as("Marca"),
        col("detail.Morada").as("Morada"),
        col("detail.HorarioPosto").as("HorarioPosto"),
        col("detail.Servicos").as("Servicos"),
        col("detail.MeiosPagamento").as("MeiosPagamento"),
        ts.as("CreateTimestamp"),
        ts.as("UpdateTimestamp"))

      // A7: insert-if-absent into stations (index.js:352-375): append the
      // stations whose Id the table lacks
      val stationsDir = new Path(stationsPath)
      val hasStations = stationsDir.getFileSystem(conf).exists(stationsDir)
      val before = Observation("stations_before")
      val added = Observation("stations_added")
      val absent =
        if (!hasStations) stations
        else Upsert.absentRows(
          spark.read.schema(FuelSchemas.station).parquet(stationsPath)
            .select("Id").observe(before, count(lit(1))),
          stations, Seq("Id"))
      absent.hint("rebalance").observe(added, count(lit(1)))
        .write.mode("append").parquet(stationsPath)
      val nStationsBefore = if (hasStations) observedCount(before) else 0L
      val nStationsAfter = nStationsBefore + observedCount(added)

      // A10: in-array last-wins dedup by (DataAtualizacao, Combustivel)
      // (the reference's JS-Map dedup, index.js:63-79); a station whose
      // array is empty has no snapshot
      val prices = filtered
        .select(col("id").as("Id"),
          lastWinsFuels(col("detail.Combustiveis")).as("Combustiveis"))
        .filter(size(col("Combustiveis")) > 0)

      // A8: snapshot append to the prices time series (index.js:329-345),
      // date-partitioned for pruning at scale; exactly once per runTs
      val marker = new Path(pricesPath, s"_runs/${runTs.getTime}")
      val markerFs = marker.getFileSystem(conf)
      val nPriceSnapshots =
        if (markerFs.exists(marker)) prices.count()
        else {
          val written = Observation("price_snapshots")
          prices.withColumn("Timestamp", ts)
            .withColumn("snapshot_date", to_date(ts))
            .hint("rebalance").observe(written, count(lit(1)))
            .write.mode("append").partitionBy("snapshot_date").parquet(pricesPath)
          markerFs.mkdirs(marker)
          observedCount(written)
        }

      // A12: elapsed minutes (index.js:27,55-56)
      RunReport(nStubs, nFetched, nStubs - nFetched, nFiltered,
        nStationsBefore, nStationsAfter, nPriceSnapshots,
        (System.nanoTime() - t0) / 6e10)
    } finally enriched.unpersist()
  }

  /** Last-wins dedup of one station's fuel array, per row and without a
    * shuffle: an entry survives unless a later entry has the same
    * (DataAtualizacao, Combustivel), nulls comparing equal; the survivors
    * are rebuilt as (DataAtualizacao, Combustivel, Preco) structs (a null
    * entry becomes all-null fields) and sorted. */
  def lastWinsFuels(fuels: Column): Column = {
    val fields = FuelSchemas.fuelEntry.fieldNames.toSeq
    array_sort(transform(
      filter(fuels, (x, i) => !exists(slice(fuels, i + 2, size(fuels)), y =>
        y("DataAtualizacao") <=> x("DataAtualizacao") &&
          y("Combustivel") <=> x("Combustivel"))),
      x => struct(fields.map(f => x(f).as(f)): _*)))
  }

  /** The count an observation took on a finished write. Spark completes
    * an observation with an empty row when the observed subtree left the
    * executed plan, which happens when adaptive execution replaces a
    * stage that materialized empty; that count is 0. */
  private def observedCount(o: Observation): Long = {
    val row = Await.result(o.future, ObserveTimeout)
    if (row.length == 0) 0L else row.getLong(0)
  }

  /** A9 read path: latest price snapshot per station as of `t`
    * (index.js:301-321). Partition pruning on snapshot_date does the work
    * the DynamoDB sort key did. */
  def latestPricesAsOf(spark: SparkSession, pricesPath: String, t: String): DataFrame =
    AsOf.latestAsOf(
      spark.read.schema(FuelSchemas.prices).parquet(pricesPath)
        .filter(col("snapshot_date") <= to_date(lit(t))),
      Seq("Id"), "Timestamp", t)
      .drop("snapshot_date")
}
