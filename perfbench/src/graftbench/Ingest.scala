package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.{FuelIngest, StationSource}

/** `ingest_cycles`: the reference's periodic ingest (list stations, enrich
  * each, insert-if-absent into `stations`, append a `prices` snapshot)
  * for D daily cycles over a seeded in-memory station source, each cycle
  * followed by as-of reads. Outputs are checked against [[IngestModel]],
  * a plain-Scala model built from the generator's records. */
object Ingest {
  val FuelTypes = Vector("Gasoleo simples", "Gasoleo especial",
    "Gasolina simples 95", "Gasolina especial 98", "GPL Auto")
  val Brands = Vector("Galp", "Repsol", "Prio", "BP", "Cepsa", "Intermarche")
  val Towns = Vector("Lisboa", "Porto", "Braga", "Coimbra", "Faro", "Evora", "Viseu")
  val Services = Vector("Loja", "Lavagem", "Ar e agua", "Multibanco", "Cafe", "WC")
  val Payments = Vector("Numerario", "Cartao", "MB Way", "Frota")

  final case class Fuel(data: String, comb: String, millis: Int) {
    def preco: java.math.BigDecimal = java.math.BigDecimal.valueOf(millis.toLong, 3)
  }

  /** One detail payload; `None` fields are null (or absent) on the wire. */
  final case class Detail(nome: Option[String], marca: Option[String],
      morada: Option[(String, String, String)], horario: Option[String],
      servicos: Option[Seq[String]], meios: Option[Seq[String]],
      fuels: Option[Seq[Fuel]])

  /** One daily cycle: the listed stubs and the details the endpoint
    * answers (a listed id absent from `details` has no detail). */
  final case class Cycle(day: Int, runTs: String, stubs: Vector[(Long, String)],
      details: Map[Long, Detail])

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Epoch = LocalDateTime.of(2024, 3, 1, 6, 0)
  def runTsOf(day: Int): String = Epoch.plusDays(day.toLong).format(Fmt)
  def millisOf(ts: String): Long =
    LocalDateTime.parse(ts, Fmt).toInstant(ZoneOffset.UTC).toEpochMilli
  def plusSeconds(ts: String, s: Long): String =
    LocalDateTime.parse(ts, Fmt).plusSeconds(s).format(Fmt)

  /** Per-(station, day) stream, independent of iteration order. */
  private def cellRng(seed: Long, id: Long, day: Int): Random =
    new Random(seed ^ (id * 0x9E3779B97F4A7C15L) ^ (day.toLong * 0xC2B2AE3D27D4EB4FL))

  def generate(seed: Long, stations: Int, days: Int): Vector[Cycle] = {
    val rnd = new Random(seed)
    val universe = stations * 13 / 10
    val idSet = mutable.LinkedHashSet.empty[Long]
    while (idSet.size < universe) idSet += 100000L + rnd.nextInt(9900000)
    val ids = idSet.toVector
    // churn: the first `stations` ids are open from day 0, the rest open
    // later; about one in eight closes for good after opening
    val open = Vector.tabulate(universe)(i =>
      if (i < stations) 0 else 1 + rnd.nextInt(math.max(1, days - 1)))
    val close = Vector.tabulate(universe)(i =>
      if (rnd.nextDouble() < 0.12) open(i) + 1 + rnd.nextInt(math.max(1, days))
      else Int.MaxValue)
    Vector.tabulate(days) { d =>
      val listed = (0 until universe).filter { i =>
        open(i) <= d && d < close(i) && cellRng(seed, ids(i), d).nextDouble() >= 0.03
      }.map(ids)
      val details = listed.flatMap(id => detailOf(seed, id, d).map(id -> _)).toMap
      Cycle(d, runTsOf(d), listed.map(id => (id, s"POSTO $id")).toVector, details)
    }
  }

  private def detailOf(seed: Long, id: Long, d: Int): Option[Detail] = {
    val r = cellRng(seed, id, d)
    r.nextDouble() // the listing draw
    def p(x: Double) = r.nextDouble() < x
    if (p(0.03)) return None // the endpoint has no detail for this id today
    val date = Epoch.plusDays(d.toLong).toLocalDate.toString
    val nome = if (p(0.02)) None else Some(if (p(0.1)) s"Posto $id rev$d" else s"Posto $id")
    val marca = if (p(0.1)) None else Some(Brands((id % Brands.size).toInt))
    val morada = if (p(0.02)) None else Some((s"Rua ${id % 997}",
      Towns((id % Towns.size).toInt), f"${1000 + id % 8999}%04d-${id % 999}%03d"))
    val horario = if (p(0.1)) None else Some(if (p(0.5)) "07:00-22:00" else "24h")
    val servicos = if (p(0.05)) None else Some(Services.filter(_ => p(0.4)))
    val meios = if (p(0.05)) None else Some(Payments.filter(_ => p(0.5)))
    val fuels =
      if (p(0.02)) None
      else if (p(0.02)) Some(Nil)
      else {
        val kinds = r.shuffle(FuelTypes).take(2 + r.nextInt(3))
        val base = kinds.map(k => Fuel(f"$date 0${r.nextInt(6)}:${r.nextInt(60)}%02d", k,
          1200 + r.nextInt(1000)))
        // duplicate (DataAtualizacao, Combustivel) entries: the later one wins
        val dups = if (p(0.15)) Seq(base(r.nextInt(base.size)).copy(millis = 1200 + r.nextInt(1000)))
          else Nil
        // an older reading of the same fuel is a distinct entry, not a duplicate
        val older = if (p(0.1)) Seq(base.head.copy(
          data = s"${Epoch.plusDays(d.toLong - 1).toLocalDate} 23:59")) else Nil
        Some(base ++ older ++ dups)
      }
    Some(Detail(nome, marca, morada, horario, servicos, meios, fuels))
  }

  /** The detail payload as the endpoint would send it. */
  def payload(id: Long, d: Detail): String = {
    def s(x: String) = Util.jsonStr(x)
    def opt[A](o: Option[A])(f: A => String) = o.map(f).getOrElse("null")
    def arr(xs: Seq[String]) = xs.map(s).mkString("[", ", ", "]")
    val fields = Seq(
      Some(s""""Nome": ${opt(d.nome)(s)}"""),
      d.marca.map(m => s""""Marca": ${s(m)}"""), // a null Marca is left out
      Some(""""Utilizacao": "Publico""""),
      Some(s""""Morada": ${opt(d.morada) { case (a, b, c) =>
        s"""{"Morada": ${s(a)}, "Localidade": ${s(b)}, "CodPostal": ${s(c)}}""" }}"""),
      Some(s""""HorarioPosto": ${opt(d.horario)(s)}"""),
      Some(s""""Servicos": ${opt(d.servicos)(arr)}"""),
      Some(s""""MeiosPagamento": ${opt(d.meios)(arr)}"""),
      Some(s""""Combustiveis": ${opt(d.fuels)(_.map(f =>
        s"""{"DataAtualizacao": ${s(f.data)}, "Combustivel": ${s(f.comb)}, "Preco": ${f.preco.toPlainString}}"""
      ).mkString("[", ", ", "]"))}"""))
    s"""{"id": $id, "resultado": {${fields.flatten.mkString(", ")}}}"""
  }

  /** Payloads the in-memory endpoint serves, by cycle key. Local-mode
    * executors share the driver JVM, so tasks read it directly and the
    * source itself stays a few bytes. */
  object Endpoint {
    private val payloads = new java.util.concurrent.ConcurrentHashMap[String, Map[Long, String]]()
    def put(key: String, c: Cycle): Unit =
      payloads.put(key, c.details.map { case (id, d) => id -> payload(id, d) })
    def get(key: String): Map[Long, String] = payloads.getOrDefault(key, Map.empty)
    def remove(key: String): Unit = payloads.remove(key)
  }

  final class MemSource(key: String, @transient stubs: Vector[(Long, String)])
      extends StationSource {
    override def stationStubs(spark: SparkSession): DataFrame =
      spark.createDataFrame(stubs).toDF("id", "nome")
    override def detailFetcher(): Long => Option[String] = {
      val m = Endpoint.get(key)
      id => m.get(id)
    }
  }

  // ---- canonical row forms shared by the model and the engine side ----

  private val Null = "∅"
  def fuelsCanon(fs: Seq[(String, String, java.math.BigDecimal)]): String =
    fs.map { case (a, b, c) => s"$a/$b/${c.toPlainString}" }.mkString(";")
  def snapCanon(id: Long, tsMillis: Long, fuels: String): String = s"$id|$tsMillis|$fuels"

  def snapCanon(r: Row): String = snapCanon(r.getAs[Long]("Id"),
    r.getAs[java.sql.Timestamp]("Timestamp").getTime,
    fuelsCanon(Option(r.getAs[scala.collection.Seq[Row]]("Combustiveis")).getOrElse(Nil).toSeq.map(f =>
      (f.getString(0), f.getString(1), f.getDecimal(2)))))

  def stationCanon(r: Row): String = {
    def str(i: String) = Option(r.getAs[String](i)).getOrElse(Null)
    def arr(i: String) = Option(r.getAs[scala.collection.Seq[String]](i)).map(_.mkString(",")).getOrElse(Null)
    val m = Option(r.getAs[Row]("Morada")).map(m =>
      Seq(m.getString(0), m.getString(1), m.getString(2)).mkString(",")).getOrElse(Null)
    Seq(r.getAs[Long]("Id").toString, str("Nome"), str("Marca"), m, str("HorarioPosto"),
      arr("Servicos"), arr("MeiosPagamento"),
      r.getAs[java.sql.Timestamp]("CreateTimestamp").getTime.toString,
      r.getAs[java.sql.Timestamp]("UpdateTimestamp").getTime.toString).mkString("|")
  }

  def stationCanon(id: Long, d: Detail, tsMillis: Long): String = {
    def arr(o: Option[Seq[String]]) = o.map(_.mkString(",")).getOrElse(Null)
    Seq(id.toString, d.nome.getOrElse(Null), d.marca.getOrElse(Null),
      d.morada.map { case (a, b, c) => s"$a,$b,$c" }.getOrElse(Null),
      d.horario.getOrElse(Null), arr(d.servicos), arr(d.meios),
      tsMillis.toString, tsMillis.toString).mkString("|")
  }

  /** RunReport fields the model predicts (elapsed time excluded). */
  final case class Expected(nStubs: Long, nFetched: Long, nQuarantined: Long,
      nFiltered: Long, nStationsBefore: Long, nStationsAfter: Long, nPriceSnapshots: Long)

  def reportOf(r: FuelIngest.RunReport): Expected = Expected(r.nStubs, r.nFetched,
    r.nQuarantined, r.nFiltered, r.nStationsBefore, r.nStationsAfter, r.nPriceSnapshots)

  /** Timestamps each cycle reads as of: the cycle's own run time, and a
    * seeded earlier time that is one second before some cycle's run (so
    * the answer is the snapshot before that cycle). */
  def asofTimes(c: Cycle, rnd: Random): Seq[String] = Seq(
    c.runTs, plusSeconds(runTsOf(rnd.nextInt(c.day + 1)), -1))

  // ---- the workload ----

  /** One ingest round on fresh tables. With `retry`, the last cycle is
    * run a second time with the same run time afterwards; a retry that
    * leaves duplicate (Id, Timestamp) snapshots counts as one failed
    * operation. Returns (disk bytes, live logical bytes) of the tables. */
  def round(ctx: Ctx, cycles: Seq[Cycle], tag: String, retry: Boolean): (Long, Long) = {
    val spark = ctx.spark
    val base = ctx.dir(s"ingest-$tag")
    val stations = new java.io.File(base, "stations").getPath
    val prices = new java.io.File(base, "prices").getPath
    val model = new IngestModel
    val rnd = new Random(ctx.seed * 7 + 1)
    val key = s"${ctx.work.getPath}/$tag"
    ctx.span(s"ingest.round.$tag") {
      cycles.foreach { c =>
        Endpoint.put(key, c)
        val src = new MemSource(key, c.stubs)
        val exp = model.apply(c)
        ctx.attempted += 1
        ctx.settle()
        val (rep, call) = ctx.op("pipeline.run", Seq(base))(FuelIngest.run(spark, src,
          stations, prices, java.sql.Timestamp.valueOf(c.runTs)))
        call.out("listed") = c.stubs.size.toDouble
        ctx.check(reportOf(rep) == exp && rep.elapsedMinutes > 0,
          s"ingest day ${c.day}: report ${reportOf(rep)} != model $exp")
        asofTimes(c, rnd).foreach { t =>
          ctx.attempted += 1
          val (rows, call) = ctx.op("pipeline.asof")(
            FuelIngest.latestPricesAsOf(spark, prices, t).collect())
          call.out("rows") = rows.length.toDouble
          Check.sameRows(s"as-of $t", model.asOf(millisOf(t)), rows.map(snapCanon).toSeq)
            .foreach(ctx.problems += _)
        }
        Endpoint.remove(key)
      }
      ctx.attempted += 1
      Check.sameRows("stations table", model.stationRows,
          spark.read.parquet(stations).collect().map(stationCanon).toSeq)
        .foreach(ctx.problems += _)
      // no retry has run yet, so every snapshot must be there exactly once
      ctx.attempted += 1
      Check.sameRows("price snapshots", model.allSnapshots,
          spark.read.parquet(prices).collect().map(snapCanon).toSeq)
        .foreach(ctx.problems += _)
      val disk = Util.bytesUnder(Seq(base))
      val live = model.liveBytes
      if (retry) {
        val c = cycles.last
        Endpoint.put(key, c)
        ctx.attempted += 1
        val rep = FuelIngest.run(spark, new MemSource(key, c.stubs), stations, prices,
          java.sql.Timestamp.valueOf(c.runTs))
        Endpoint.remove(key)
        val n = model.stationRows.size.toLong
        val last = model.lastExpected
        ctx.check(reportOf(rep) == last.copy(nStationsBefore = n, nStationsAfter = n),
          s"ingest retry: report ${reportOf(rep)} != model")
        val snaps = spark.read.parquet(prices).collect().map(snapCanon).toSeq
        // the known fault: prices are appended without a transaction id,
        // so the retry writes every snapshot of the cycle a second time.
        // Either the retry wrote nothing, or it wrote exactly the last
        // cycle's snapshots again; anything else is a further fault.
        if (Check.sameRows("price snapshots after retry", model.allSnapshots, snaps).nonEmpty) {
          ctx.failed += 1
          Check.sameRows("price snapshots after a duplicating retry",
              model.allSnapshots ++ model.lastSnapshots, snaps).foreach(ctx.problems += _)
        }
      }
      Util.deleteRecursively(base)
      (disk, live)
    }
  }
}

/** Plain-Scala model of the ingest: insert-if-absent with first-seen
  * attributes, last-wins dedup by (DataAtualizacao, Combustivel) within
  * each station's array, and the newest snapshot at or before t. */
final class IngestModel {
  import Ingest._
  private val stations = mutable.LinkedHashMap.empty[Long, (String, Long)]
  private val snaps = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, String, Long)]]
  var lastExpected: Expected = _
  /** The snapshots the last applied cycle wrote. */
  var lastSnapshots: Seq[String] = Nil

  private def passes(d: Detail): Boolean =
    d.nome.isDefined && d.morada.isDefined && d.fuels.isDefined

  private def dedup(fs: Seq[Fuel]): Seq[Fuel] =
    fs.zipWithIndex.groupBy { case (f, _) => (f.data, f.comb) }
      .values.map(_.maxBy(_._2)._1).toSeq
      .sortBy(f => (f.data, f.comb, f.millis))

  def apply(c: Cycle): Expected = {
    val ts = millisOf(c.runTs)
    val before = stations.size.toLong
    val fetched = c.stubs.filter(s => c.details.contains(s._1))
    val kept = fetched.filter(s => passes(c.details(s._1)))
    var nSnap = 0L
    val written = mutable.ArrayBuffer.empty[String]
    kept.foreach { case (id, _) =>
      val d = c.details(id)
      if (!stations.contains(id)) {
        stations(id) = (stationCanon(id, d, ts), liveStation(d))
      }
      val fs = dedup(d.fuels.get)
      if (fs.nonEmpty) {
        nSnap += 1
        val canon = fuelsCanon(fs.map(f => (f.data, f.comb, f.preco)))
        val live = 16L + fs.map(f => Util.utf8(f.data) + Util.utf8(f.comb) + 8L).sum
        snaps.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += ((ts, canon, live))
        written += snapCanon(id, ts, canon)
      }
    }
    lastExpected = Expected(c.stubs.size.toLong, fetched.size.toLong,
      (c.stubs.size - fetched.size).toLong, kept.size.toLong, before,
      stations.size.toLong, nSnap)
    lastSnapshots = written.toSeq
    lastExpected
  }

  private def liveStation(d: Detail): Long =
    8L + Util.utf8(d.nome.orNull) + Util.utf8(d.marca.orNull) +
      d.morada.map { case (a, b, c) => Util.utf8(a) + Util.utf8(b) + Util.utf8(c) }.getOrElse(0L) +
      Util.utf8(d.horario.orNull) + d.servicos.getOrElse(Nil).map(Util.utf8).sum +
      d.meios.getOrElse(Nil).map(Util.utf8).sum + 16L

  def stationRows: Seq[String] = stations.valuesIterator.map(_._1).toSeq

  def allSnapshots: Seq[String] = snaps.toSeq.flatMap { case (id, xs) =>
    xs.map { case (ts, f, _) => snapCanon(id, ts, f) } }

  def asOf(t: Long): Seq[String] = snaps.toSeq.flatMap { case (id, xs) =>
    xs.filter(_._1 <= t).lastOption.map { case (ts, f, _) => snapCanon(id, ts, f) } }

  def liveBytes: Long =
    stations.valuesIterator.map(_._2).sum + snaps.valuesIterator.flatMap(_.map(_._3)).sum
}

/** Comparisons shared by every workload. Each returns a description of
  * the first difference, or None when the answer is right. */
object Check {
  def sameRows(what: String, expected: Seq[String], actual: Seq[String]): Option[String] = {
    val e = expected.sorted
    val a = actual.sorted
    if (e == a) None
    else {
      val missing = e.diff(a).take(2)
      val extra = a.diff(e).take(2)
      Some(s"$what: ${a.size} rows vs ${e.size} expected; missing ${missing.mkString(" ")}; " +
        s"unexpected ${extra.mkString(" ")}")
    }
  }
}
