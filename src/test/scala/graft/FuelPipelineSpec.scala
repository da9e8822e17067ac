package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.Dedup
import graft.pipeline.{FileBackedSource, FuelIngest, FuelSchemas}

/** End-to-end fuel pipeline on the hand-written fixtures (FIXTURES.md §2):
  * exercises A2-A14 — list scan, fan-out enrichment, null filter, wide
  * projection, upsert, snapshot append, as-of read, in-array dedup,
  * quarantine counting. */
/** Shared-JVM probe state for the enricher tests (local mode: executor
  * threads live in the test JVM, so statics are visible). */
object EnricherProbe {
  import java.util.concurrent.atomic.AtomicInteger
  val attempts = new java.util.concurrent.ConcurrentHashMap[Long, AtomicInteger]()
  val inFlight = new AtomicInteger(0)
  val maxObserved = new AtomicInteger(0)
  def reset(): Unit = { attempts.clear(); inFlight.set(0); maxObserved.set(0) }
}

/** Injected flaky/slow fetcher: throws `transientFailures` times per key
  * (then succeeds), always throws for `alwaysFail` keys, and sleeps
  * `sleepMs` per call to make concurrency observable. */
final class FlakyProbeSource(transientFailures: Int, sleepMs: Long,
    alwaysFail: Set[Long] = Set.empty) extends graft.pipeline.StationSource {
  override def stationStubs(spark: org.apache.spark.sql.SparkSession) =
    sys.error("not used")
  override def detailFetcher(): Long => Option[String] = id => {
    val cur = EnricherProbe.inFlight.incrementAndGet()
    EnricherProbe.maxObserved.getAndAccumulate(cur, Math.max(_, _))
    try {
      if (sleepMs > 0) Thread.sleep(sleepMs)
      val n = EnricherProbe.attempts
        .computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger)
        .incrementAndGet()
      if (alwaysFail(id)) throw new RuntimeException(s"permanent failure for $id")
      if (n <= transientFailures) throw new RuntimeException(s"transient failure $n for $id")
      Some(s"""{"id": $id, "resultado": {"Nome": "station $id"}}""")
    } finally EnricherProbe.inFlight.decrementAndGet()
  }
}

/** A listing and its detail payloads held in memory. */
final class FixedSource(stubs: Seq[(Long, String)], details: Map[Long, String])
    extends graft.pipeline.StationSource {
  override def stationStubs(spark: SparkSession): DataFrame =
    spark.createDataFrame(stubs).toDF("id", "nome")
  override def detailFetcher(): Long => Option[String] = details.get _
}

class FuelPipelineSpec extends SparkSpecBase {

  private lazy val source = new FileBackedSource(
    resource("/fuel/stations_raw.json"),
    resource("/fuel/station_details.jsonl"))

  test("two-run ingest: upsert keeps first-run stations, appends snapshots") {
    val base = Files.createTempDirectory("fuel").toString
    val stationsPath = s"$base/stations"
    val pricesPath = s"$base/prices"

    val r1 = FuelIngest.run(spark, source, stationsPath, pricesPath,
      java.sql.Timestamp.valueOf("2023-01-12 06:00:00"),
      quarantinePath = Some(s"$base/quarantine"))
    // 7 stubs; id=7 has no detail (quarantined, A14); ids 3,4,5 fail the
    // null filter (A5) → 3 stations/snapshots survive (1, 2, 6)
    assert(r1.nStubs === 7)
    assert(r1.nFetched === 6)
    assert(r1.nQuarantined === 1)
    assert(r1.nFiltered === 3)
    assert(r1.nStationsBefore === 0)
    assert(r1.nStationsAfter === 3)
    assert(r1.nPriceSnapshots === 3)

    // A14: quarantine output carries the failed lookup with a reason
    val quar = spark.read.parquet(s"$base/quarantine").collect()
    assert(quar.length === 1)
    assert(quar.head.getAs[Long]("id") === 7L)
    assert(quar.head.getAs[String]("reason") === "detail_fetch_failed")

    // typed Dataset surface reads the sink schemas
    val typedStations = graft.pipeline.FuelModel.stations(spark, stationsPath)
      .collect().sortBy(_.Id)
    assert(typedStations.map(_.Id).toSeq === Seq(1L, 2L, 6L))
    assert(typedStations.head.Morada.Localidade === "Lisboa")
    val typedPrices = graft.pipeline.FuelModel.prices(spark, pricesPath).collect()
    assert(typedPrices.length === 3)
    assert(typedPrices.flatMap(_.Combustiveis).forall(_.Preco != null))

    val stations1 = spark.read.parquet(stationsPath)
      .select("Id", "Nome", "CreateTimestamp").orderBy("Id").collect()
    assert(stations1.map(_.getLong(0)).toSeq === Seq(1L, 2L, 6L))
    // Utilizacao must be dropped (A6)
    assert(!spark.read.parquet(stationsPath).columns.contains("Utilizacao"))

    // run 2, later timestamp: station rows must NOT change (A7 conflict
    // branch), prices must append again (A8)
    val r2 = FuelIngest.run(spark, source, stationsPath, pricesPath,
      java.sql.Timestamp.valueOf("2023-01-13 06:00:00"))
    assert(r2.nStationsBefore === 3)
    assert(r2.nStationsAfter === 3)
    val stations2 = spark.read.parquet(stationsPath)
      .select("Id", "Nome", "CreateTimestamp").orderBy("Id").collect()
    assert(stations2.map(_.getTimestamp(2)).toSeq ===
      stations1.map(_.getTimestamp(2)).toSeq) // create ts from run 1 kept

    val prices = spark.read.parquet(pricesPath)
    assert(prices.count() === 6) // 3 snapshots × 2 runs

    // A9: as-of read — at 2023-01-12 23:00 only run-1 snapshots qualify
    val asOf = FuelIngest.latestPricesAsOf(spark, pricesPath, "2023-01-12 23:00:00")
    assert(asOf.count() === 3)
    assert(asOf.select(max("Timestamp")).head.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2023-01-12 06:00:00"))

    // A10: station 1's duplicate (DataAtualizacao, Combustivel) entry was
    // deduped last-wins: 2 entries remain, Gasoleo price = 1.625 (the
    // later array occurrence), not 1.619
    val c1 = asOf.filter(col("Id") === 1)
      .select(explode(col("Combustiveis")).as("f"))
      .select("f.Combustivel", "f.Preco").orderBy("f.Combustivel").collect()
    assert(c1.length === 2)
    assert(c1.head.getDecimal(1).doubleValue() === 1.625)
  }

  test("as-of read prunes snapshot_date partitions (the DynamoDB-sort-key replacement)") {
    val base = Files.createTempDirectory("fuel-prune").toString
    FuelIngest.run(spark, source, s"$base/st", s"$base/pr",
      java.sql.Timestamp.valueOf("2023-01-12 06:00:00"))
    FuelIngest.run(spark, source, s"$base/st", s"$base/pr",
      java.sql.Timestamp.valueOf("2023-01-13 06:00:00"))
    val asOf = FuelIngest.latestPricesAsOf(spark, s"$base/pr", "2023-01-12 23:00:00")
    val plan = asOf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("snapshot_date"), plan)
    // only the 01-12 partition qualifies → scan reads 1 of 2 partitions
    val scanned = asOf.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("snapshot_date"), scanned)
  }

  test("enricher retries transient failures and bounds in-flight concurrency") {
    import graft.pipeline.{EnrichConfig, LookupEnricher}
    import spark.implicits._
    EnricherProbe.reset()
    val stubs = (1L to 40L).map(i => (i, s"station $i")).toDF("id", "nome")
      .repartition(1) // one partition: the per-partition pool is the only parallelism
    val cfg = EnrichConfig(maxInFlight = 4, maxAttempts = 3, backoffMs = 1)
    val out = LookupEnricher.enrich(stubs,
      "id", new FlakyProbeSource(transientFailures = 2, sleepMs = 10), cfg)
    val rows = out.collect()
    assert(rows.length === 40)
    // every key failed twice, succeeded on attempt 3 → detail present
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("detail"))))
    import scala.jdk.CollectionConverters._
    EnricherProbe.attempts.asScala.foreach { case (id, n) =>
      assert(n.get === 3, s"id=$id should take exactly maxAttempts tries")
    }
    // the pool never exceeded the bound, and concurrency was actually used
    assert(EnricherProbe.maxObserved.get <= 4,
      s"in-flight exceeded bound: ${EnricherProbe.maxObserved.get}")
    assert(EnricherProbe.maxObserved.get >= 2,
      "bounded pipeline should overlap fetches")
  }

  test("enricher quarantines keys that still fail after maxAttempts; rate limit spaces calls") {
    import graft.pipeline.{EnrichConfig, LookupEnricher}
    import spark.implicits._
    EnricherProbe.reset()
    val stubs = (1L to 10L).map(i => (i, s"station $i")).toDF("id", "nome")
      .repartition(1)
    val cfg = EnrichConfig(maxInFlight = 2, maxAttempts = 3, backoffMs = 1)
    val out = LookupEnricher.enrich(stubs,
      "id", new FlakyProbeSource(transientFailures = 0, sleepMs = 0,
        alwaysFail = Set(5L)), cfg)
    val rows = out.collect().map(r => r.getLong(0) -> !r.isNullAt(2)).toMap
    assert(rows(5L) === false) // permanent failure → null detail (A14 path)
    assert((rows - 5L).values.forall(identity))
    assert(EnricherProbe.attempts.get(5L).get === 3) // retried to the cap

    // rate limit: 20 keys at 200/s must take >= 19/200 s by construction
    EnricherProbe.reset()
    val stubs2 = (1L to 20L).map(i => (i, s"s$i")).toDF("id", "nome").repartition(1)
    val t0 = System.nanoTime()
    LookupEnricher.enrich(stubs2, "id",
      new FlakyProbeSource(0, 0), EnrichConfig(maxInFlight = 4, maxRatePerSec = 200.0))
      .collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 90.0, s"rate limiter should space 20 calls over >=95ms, took $elapsedMs")
  }

  test("config loader filters by prefix (A1)") {
    val f = Files.createTempFile("cfg", ".properties")
    Files.writeString(f,
      "fuelpriceguide.endpoint01=http://a\nfuelpriceguide.table=stations\nother.x=1\n")
    val cfg = graft.pipeline.Config.load(f.toString, "fuelpriceguide.")
    assert(cfg === Map("endpoint01" -> "http://a", "table" -> "stations"))
  }

  /** Spark jobs `body` launches, counted by job group. */
  private def jobsOf(body: => Unit): Int = {
    val gid = s"fuel-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (gid == js.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(gid, "fuel ingest cycle")
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener bus drain
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an ingest cycle stays inside its Spark job budget, with and without a stations table") {
    val base = Files.createTempDirectory("fuel-jobs").toString
    def cycle(ts: String) = jobsOf(FuelIngest.run(spark, source, s"$base/st", s"$base/pr",
      Timestamp.valueOf(ts)))
    val first = cycle("2023-01-12 06:00:00")
    val second = cycle("2023-01-13 06:00:00")
    // the count aggregate is 4 jobs (the enrichment cache, two shuffle
    // stages, the result) and each rebalanced append 2 (the shuffle, the
    // write); a later cycle adds 1 to broadcast the existing station Ids
    assert((first, second) === ((8, 9)))
  }

  test("a retried cycle with the same runTs leaves prices unchanged and reports the same counts") {
    val base = Files.createTempDirectory("fuel-retry").toString
    val (st, pr) = (s"$base/st", s"$base/pr")
    val ts = Timestamp.valueOf("2023-01-12 06:00:00")
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val r1 = FuelIngest.run(spark, source, st, pr, ts)
    val (stations1, prices1) = (rows(st), rows(pr))
    val r2 = FuelIngest.run(spark, source, st, pr, ts)
    assert(r2.copy(elapsedMinutes = 0) === r1.copy(nStationsBefore = 3, elapsedMinutes = 0))
    assert(rows(pr) === prices1)
    assert(rows(st) === stations1)
    // a later cycle still appends
    FuelIngest.run(spark, source, st, pr, Timestamp.valueOf("2023-01-13 06:00:00"))
    assert(spark.read.parquet(pr).count() === 6)
  }

  private def detail(id: Long, fuels: String) =
    s"""{"id": $id, "resultado": {"Nome": "n$id", "Morada": {"Morada": "r", """ +
      s""""Localidade": "l", "CodPostal": "c"}, "Combustiveis": $fuels}}"""
  private val oneFuel = """[{"DataAtualizacao": "d", "Combustivel": "c", "Preco": 1.5}]"""

  test("a listing that repeats an id is refused before anything is written") {
    val base = Files.createTempDirectory("fuel-dup").toString
    val src = new FixedSource(Seq(1L -> "a", 2L -> "b", 1L -> "a"),
      Map(1L -> detail(1L, oneFuel), 2L -> detail(2L, oneFuel)))
    val e = intercept[IllegalArgumentException](FuelIngest.run(spark, src,
      s"$base/st", s"$base/pr", Timestamp.valueOf("2023-01-12 06:00:00")))
    assert(e.getMessage.contains("repeats an id"), e.getMessage)
    assert(!new java.io.File(s"$base/st").exists() && !new java.io.File(s"$base/pr").exists())
  }

  test("a stations table left empty by an earlier cycle counts as 0 stations before") {
    val base = Files.createTempDirectory("fuel-empty").toString
    val stubs = Seq(1L -> "a", 2L -> "b")
    // every detail lacks Combustiveis: nothing passes the filter
    val r1 = FuelIngest.run(spark, new FixedSource(stubs,
        Map(1L -> detail(1L, "null"), 2L -> detail(2L, "null"))),
      s"$base/st", s"$base/pr", Timestamp.valueOf("2023-01-12 06:00:00"))
    assert((r1.nFiltered, r1.nStationsBefore, r1.nStationsAfter, r1.nPriceSnapshots) ===
      ((0L, 0L, 0L, 0L)))
    val r2 = FuelIngest.run(spark, new FixedSource(stubs,
        Map(1L -> detail(1L, oneFuel), 2L -> detail(2L, oneFuel))),
      s"$base/st", s"$base/pr", Timestamp.valueOf("2023-01-13 06:00:00"))
    assert((r2.nFiltered, r2.nStationsBefore, r2.nStationsAfter, r2.nPriceSnapshots) ===
      ((2L, 0L, 2L, 2L)))
  }

  /** The shuffle formulation the per-row fuel dedup replaced, kept as its
    * reference: explode with positions, keep the last position per
    * (Id, DataAtualizacao, Combustivel), and re-collect per Id. */
  private def explodeDedupReference(df: DataFrame): DataFrame =
    df.select(col("Id"), posexplode(col("Combustiveis")).as(Seq("pos", "fuel")))
      .transform(d => Dedup.keepOne(d,
        Seq("Id", "fuel.DataAtualizacao", "fuel.Combustivel"), Seq(col("pos").desc)))
      .groupBy(col("Id"))
      .agg(array_sort(collect_list(struct(
        col("fuel.DataAtualizacao").as("DataAtualizacao"),
        col("fuel.Combustivel").as("Combustivel"),
        col("fuel.Preco").as("Preco")))).as("Combustiveis"))

  test("per-row last-wins fuel dedup equals the explode/keepOne/collect_list reference") {
    // small alphabets force duplicate keys; nulls appear as fields, as
    // elements and as whole arrays, next to empty arrays
    def orNull[A](g: Gen[A]): Gen[A] = Gen.frequency(1 -> Gen.const(null.asInstanceOf[A]), 4 -> g)
    val entry: Gen[Row] = for {
      d <- orNull(Gen.oneOf("2023-01-12 05:00", "2023-01-12 06:00"))
      c <- orNull(Gen.oneOf("Gasoleo", "GPL"))
      p <- orNull(Gen.chooseNum(1000, 1010).map(m => java.math.BigDecimal.valueOf(m.toLong, 3)))
    } yield Row(d, c, p)
    val fuels: Gen[Seq[Row]] = orNull(Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, orNull(entry))))
    val table = Gen.listOfN(12, fuels).map(_.zipWithIndex.map { case (f, i) => Row(i.toLong, f) })
    val schema = StructType(Seq(StructField("Id", LongType, nullable = false),
      StructField("Combustiveis", ArrayType(FuelSchemas.fuelEntry), nullable = true)))
    def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    val prop = Prop.forAllNoShrink(table) { rows =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      val got = df.select(col("Id"), FuelIngest.lastWinsFuels(col("Combustiveis")).as("Combustiveis"))
        .filter(size(col("Combustiveis")) > 0)
      byId(got) == byId(explodeDedupReference(df))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}
