package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed API surface over the fuel tables (SURVEY §1.3: case-class
  * `Dataset`s where compile-time field checks help; `DataFrame` remains
  * the engine's core abstraction). Both tables are read with their
  * declared [[FuelSchemas]], so a read infers nothing from footers. */
object FuelModel {

  case class Morada(Morada: String, Localidade: String, CodPostal: String)

  case class FuelEntry(
      DataAtualizacao: String,
      Combustivel: String,
      Preco: scala.math.BigDecimal)

  case class Station(
      Id: Long,
      Nome: String,
      Marca: String,
      Morada: Morada,
      HorarioPosto: String,
      Servicos: Seq[String],
      MeiosPagamento: Seq[String],
      CreateTimestamp: java.sql.Timestamp,
      UpdateTimestamp: java.sql.Timestamp)

  case class PriceSnapshot(
      Id: Long,
      Combustiveis: Seq[FuelEntry],
      Timestamp: java.sql.Timestamp)

  def stations(spark: SparkSession, path: String): Dataset[Station] = {
    import spark.implicits._
    spark.read.schema(FuelSchemas.station).parquet(path).as[Station]
  }

  def prices(spark: SparkSession, path: String): Dataset[PriceSnapshot] = {
    import spark.implicits._
    spark.read.schema(FuelSchemas.prices).parquet(path)
      .drop("snapshot_date").as[PriceSnapshot]
  }
}
