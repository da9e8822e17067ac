package graftbench

import scala.util.Random

/** The benchmark's checkers against planted answers: each must accept the
  * right answer and reject a wrong one, and the ingest model must follow
  * the pipeline's documented semantics on hand-made records. No Spark.
  * Exits with 1 if any case fails. */
object SelfTest {
  private var failures = 0
  private var cases = 0

  private def expect(what: String, ok: Boolean): Unit = {
    cases += 1
    if (!ok) { failures += 1; println(s"selftest FAILED: $what") }
  }
  private def accepts(what: String, r: Option[String]): Unit =
    expect(s"$what is accepted (got: ${r.getOrElse("")})", r.isEmpty)
  private def rejects(what: String, r: Option[String]): Unit =
    expect(s"$what is rejected", r.isDefined)

  def main(args: Array[String]): Unit = {
    ingestModel()
    ingestChecks()
    corpusChecks()
    println(s"selftest: ${cases - failures}/$cases cases passed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  import Ingest.{Cycle, Detail, Fuel}

  private def detail(nome: String, fuels: Seq[Fuel]): Detail =
    Detail(Some(nome), Some("Galp"), Some(("Rua 1", "Lisboa", "1000-001")), Some("24h"),
      Some(Seq("Loja")), Some(Seq("Cartao")), Some(fuels))

  /** Insert-if-absent with first-seen attributes, last-wins dedup within
    * a station's array, quarantine and null filter counts, newest ≤ t. */
  private def ingestModel(): Unit = {
    val d0 = Ingest.runTsOf(0)
    val d1 = Ingest.runTsOf(1)
    val c0 = Cycle(0, d0, Vector((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")), Map(
      1L -> detail("first", Seq(Fuel("2024-03-01 01:00", "GPL Auto", 1500),
        Fuel("2024-03-01 01:00", "GPL Auto", 1600), Fuel("2024-03-01 00:30", "GPL Auto", 1400))),
      2L -> detail("nofuel", Nil),
      3L -> detail("x", Seq(Fuel("2024-03-01 02:00", "GPL Auto", 1700))).copy(morada = None)))
    val c1 = Cycle(1, d1, Vector((1L, "a"), (5L, "e")), Map(
      1L -> detail("renamed", Seq(Fuel("2024-03-02 01:00", "GPL Auto", 1550))),
      5L -> detail("five", Seq(Fuel("2024-03-02 03:00", "Gasoleo simples", 1650)))))
    val m = new IngestModel
    expect("cycle 0 report", m.apply(c0) == Ingest.Expected(4, 3, 1, 2, 0, 2, 1))
    expect("cycle 1 report", m.apply(c1) == Ingest.Expected(2, 2, 0, 2, 2, 3, 2))
    val t0 = Ingest.millisOf(d0)
    expect("first-seen attributes are kept",
      m.stationRows.exists(r => r.startsWith("1|first|") && r.endsWith(s"|$t0|$t0")))
    expect("last entry wins per (DataAtualizacao, Combustivel), sorted by date",
      m.asOf(t0) == Seq(s"1|$t0|2024-03-01 00:30/GPL Auto/1.400;2024-03-01 01:00/GPL Auto/1.600"))
    expect("as-of before the first cycle is empty", m.asOf(t0 - 1).isEmpty)
    expect("as-of takes the newest snapshot at or before t",
      m.asOf(Ingest.millisOf(d1)).map(_.take(2)).sorted == Seq("1|", "5|"))
  }

  private def ingestChecks(): Unit = {
    val cycles = Ingest.generate(7, 30, 3)
    val m = new IngestModel
    cycles.foreach(m.apply)
    val rows = m.stationRows
    accepts("the stations table", Check.sameRows("stations", rows, rows.reverse))
    val altered = rows.updated(0, rows.head.replaceFirst("\\|Posto ", "|Posta "))
    rejects("a stations table with one altered row", Check.sameRows("stations", rows, altered))
    rejects("a stations table missing one row", Check.sameRows("stations", rows, rows.tail))
    val now = Ingest.millisOf(cycles.last.runTs)
    val stale = Ingest.millisOf(cycles.last.runTs) - 1000
    accepts("the as-of answer", Check.sameRows("as-of", m.asOf(now), m.asOf(now)))
    rejects("an as-of answer one version stale", Check.sameRows("as-of", m.asOf(now), m.asOf(stale)))
    rejects("an as-of answer with a duplicated row",
      Check.sameRows("as-of", m.asOf(now), m.asOf(now) :+ m.asOf(now).head))
    val snaps = m.allSnapshots
    accepts("the prices table", Check.sameRows("price snapshots", snaps, snaps.reverse))
    rejects("a prices table with one snapshot written twice",
      Check.sameRows("price snapshots", snaps, snaps :+ snaps.head))
    expect("the last cycle's snapshots are what a duplicating retry adds",
      m.lastSnapshots.nonEmpty && m.lastSnapshots.forall(snaps.contains))
    val payload = Ingest.payload(42L, cycles.head.details.head._2)
    expect("payloads carry the id", payload.startsWith("{\"id\": 42, \"resultado\": {"))
  }

  private def corpusChecks(): Unit = {
    val data = Corpus.generate(3, Size.tiny)
    val (near, exact) = data.plantedPairs(Corpus.Tau)
    expect("the generator plants near-duplicate and exact pairs", near.nonEmpty && exact.nonEmpty)
    val right = near.toSeq.map { case (a, b) => (a, b, Corpus.jaccard(data.grams(a), data.grams(b))) }
    accepts("the planted near-dup pairs", Corpus.checkPairs(right, data.grams, Corpus.Tau))
    val ids = data.docs.map(_.id)
    val low = ids.combinations(2).map(p => (p.min, p.max))
      .find { case (a, b) => Corpus.jaccard(data.grams(a), data.grams(b)) < Corpus.Tau }.get
    rejects("a near-dup pair below tau", Corpus.checkPairs(
      right :+ ((low._1, low._2, Corpus.jaccard(data.grams(low._1), data.grams(low._2)))),
      data.grams, Corpus.Tau))
    rejects("a near-dup pair with a misreported Jaccard", Corpus.checkPairs(
      right.updated(0, right.head.copy(_3 = right.head._3 - 1e-9)), data.grams, Corpus.Tau))
    rejects("a near-dup pair listed twice", Corpus.checkPairs(right :+ right.head, data.grams, Corpus.Tau))

    val qs = data.queries.head
    val exactK = qs.map(q => q.id -> Corpus.exactTopK(q, data.docs, Corpus.K)).toMap
    accepts("the exact top-k", Corpus.checkTopK(exactK, exactK))
    val q0 = qs.head.id
    val outsider = new Random(1).shuffle(ids).find(id => !exactK(q0).contains(id)).get
    rejects("a top-k list with one id swapped",
      Corpus.checkTopK(exactK, exactK.updated(q0, exactK(q0).updated(3, outsider))))
    rejects("a top-k list in the wrong order",
      Corpus.checkTopK(exactK, exactK.updated(q0, exactK(q0).reverse)))
    rejects("a top-k answer missing a query", Corpus.checkTopK(exactK, exactK - q0))
    expect("the LSH banding bound is 1 - (1 - 0.5^2)^4",
      math.abs(Corpus.LshRecallBound - (1 - math.pow(0.75, 4))) < 1e-12)
  }
}
