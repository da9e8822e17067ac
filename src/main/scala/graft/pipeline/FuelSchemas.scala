package graft.pipeline

import org.apache.spark.sql.types._

/** Fixed, explicitly-nullable schemas for the fuel domain — the engine's
  * typed version of the reference's implicit object-literal shapes
  * (/root/reference/index.js:88-91, :123-133, :333-337, :356-366).
  */
object FuelSchemas {

  /** ENDPOINT_01 list payload: array of station stubs (index.js:87-93). */
  val stationStub: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("Nome", StringType, nullable = true)))

  val rawList: StructType = StructType(Seq(
    StructField("resultado", ArrayType(stationStub), nullable = true)))

  /** One fuel entry inside Combustiveis (dedup key DataAtualizacao,
    * index.js:70). Prices are exact decimals in our engine (SURVEY §1.2). */
  val fuelEntry: StructType = StructType(Seq(
    StructField("DataAtualizacao", StringType, nullable = true),
    StructField("Combustivel", StringType, nullable = true),
    StructField("Preco", DecimalType(10, 3), nullable = true)))

  val morada: StructType = StructType(Seq(
    StructField("Morada", StringType, nullable = true),
    StructField("Localidade", StringType, nullable = true),
    StructField("CodPostal", StringType, nullable = true)))

  /** ENDPOINT_02 detail payload (index.js:118-133). All nullable — the A5
    * filter rejects null Nome/Morada/Combustiveis. */
  val stationDetail: StructType = StructType(Seq(
    StructField("Nome", StringType, nullable = true),
    StructField("Marca", StringType, nullable = true),
    StructField("Utilizacao", StringType, nullable = true),
    StructField("Morada", morada, nullable = true),
    StructField("HorarioPosto", StringType, nullable = true),
    StructField("Servicos", ArrayType(StringType), nullable = true),
    StructField("MeiosPagamento", ArrayType(StringType), nullable = true),
    StructField("Combustiveis", ArrayType(fuelEntry), nullable = true)))

  /** Wire shape of one detail lookup response line: {id, resultado}. */
  val rawDetail: StructType = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("resultado", stationDetail, nullable = true)))

  /** stations sink schema (index.js:356-366) — Utilizacao dropped (A6),
    * Combustiveis split off to prices (A8). */
  val station: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("Nome", StringType, nullable = false),
    StructField("Marca", StringType, nullable = true),
    StructField("Morada", morada, nullable = false),
    StructField("HorarioPosto", StringType, nullable = true),
    StructField("Servicos", ArrayType(StringType), nullable = true),
    StructField("MeiosPagamento", ArrayType(StringType), nullable = true),
    StructField("CreateTimestamp", TimestampType, nullable = false),
    StructField("UpdateTimestamp", TimestampType, nullable = false)))

  /** prices sink schema (index.js:333-337): append-only (Id, Timestamp)
    * snapshots. */
  val priceSnapshot: StructType = StructType(Seq(
    StructField("Id", LongType, nullable = false),
    StructField("Combustiveis", ArrayType(fuelEntry), nullable = true),
    StructField("Timestamp", TimestampType, nullable = false)))

  /** The `prices` table as written: snapshots plus the date partition
    * column they are partitioned by. */
  val prices: StructType =
    priceSnapshot.add(StructField("snapshot_date", DateType, nullable = false))
}
