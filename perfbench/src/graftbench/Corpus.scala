package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, hash, length, size => arraySize, sum}

import graft.functions.TextFunctions
import graft.operators.{NearDup, Similarity}
import graft.sources.CommitLog

/** `corpus_dedup_search`: a seeded corpus with planted near-duplicate
  * clusters and clustered unit-norm embeddings. Each round runs repeated
  * near-dup passes and batches of IVF-PQ index searches over an index
  * built in set-up; `bruteForceTopK` is checked against a plain-Scala
  * brute force and is the exact reference for recall. */
object Corpus {
  final case class Doc(id: Long, text: String, emb: Array[Float])
  final case class Query(id: Long, emb: Array[Float])

  /** `groups` are the planted near-duplicate clusters (doc ids). */
  final case class Data(docs: Vector[Doc], groups: Vector[Vector[Long]],
      queries: Vector[Vector[Query]]) {
    lazy val grams: Map[Long, Set[String]] = docs.map(d => d.id -> shingles(d.text)).toMap
    lazy val text: Map[Long, String] = docs.map(d => d.id -> d.text).toMap
    /** Planted pairs whose exact Jaccard reaches `tau`, and the exact duplicates. */
    def plantedPairs(tau: Double): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val pairs = groups.flatMap(g => g.combinations(2).map(p => (p.min, p.max)))
      (pairs.filter { case (a, b) => jaccard(grams(a), grams(b)) >= tau }.toSet,
        pairs.filter { case (a, b) => text(a) == text(b) }.toSet)
    }
  }

  // nearDupPairs defaults: word 3-gram shingles, 8 minhashes, 4 bands of 2
  val Tau = 0.5
  val Bands = 4
  val Rows = 2
  /** The banding bound: a pair of Jaccard s ≥ tau becomes a candidate
    * with probability 1 - (1 - s^r)^b ≥ 1 - (1 - tau^r)^b. */
  val LshRecallBound: Double = 1 - math.pow(1 - math.pow(Tau, Rows), Bands)

  val Dim = 64
  val K = 10
  val NProbe = 4
  /** Floor on mean recall@k of the IVF-PQ search against the exact top-k;
    * derived in the README from the cluster separation. */
  val RecallFloor = 0.8

  /** The engine's shingles: lower-cased words split on single spaces,
    * distinct word 3-grams, or the whole text when shorter than 3 words. */
  def shingles(text: String): Set[String] = {
    val ws = text.toLowerCase.split(" ", -1).toVector
    if (ws.size < 3) Set(ws.mkString(" ")) else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  def generate(seed: Long, size: Size): Data = {
    val rnd = new Random(seed * 17 + 3)
    val vocab = Vector.tabulate(3000)(i => s"w$i")
    def randomDoc(): Vector[String] = Vector.fill(30 + rnd.nextInt(31))(vocab(rnd.nextInt(vocab.size)))
    def mutate(ws: Vector[String], n: Int): Vector[String] =
      (0 until n).foldLeft(ws)((w, _) => w.updated(rnd.nextInt(w.size), vocab(rnd.nextInt(vocab.size))))
    val texts = mutable.ArrayBuffer.empty[(Vector[String], Int)] // (words, group or -1)
    val nGroups = size.docs / 10
    (0 until nGroups).foreach { g =>
      val base = randomDoc()
      texts += ((base, g))
      (0 to rnd.nextInt(3)).foreach { _ =>
        texts += ((if (rnd.nextDouble() < 0.2) base else mutate(base, 1 + rnd.nextInt(3)), g))
      }
    }
    while (texts.size < size.docs) texts += ((randomDoc(), -1))
    val order = rnd.shuffle(texts.toVector)
    val idSet = mutable.LinkedHashSet.empty[Long]
    while (idSet.size < order.size) idSet += 1L + rnd.nextInt(999999999)
    val ids = idSet.toVector

    // embeddings: clusters of K docs around random unit centers
    def gauss(): Array[Double] = Array.fill(Dim)(rnd.nextGaussian())
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def near(c: Array[Double]): Array[Float] = {
      val cn = math.sqrt(c.map(x => x * x).sum)
      unit(c.map(x => x / cn + size.noise * rnd.nextGaussian()))
    }
    val nClusters = (order.size + K - 1) / K
    val centers = Vector.fill(nClusters)(gauss())
    val clusterOf = rnd.shuffle((0 until order.size).toVector).zipWithIndex
      .map { case (docIdx, slot) => docIdx -> slot / K }.toMap
    val docs = order.indices.toVector.map(i =>
      Doc(ids(i), order(i)._1.mkString(" "), near(centers(clusterOf(i)))))
    val groups = order.indices.filter(order(_)._2 >= 0).groupBy(order(_)._2)
      .values.map(_.map(ids).toVector).toVector.sortBy(_.head)
    val queries = Vector.tabulate(size.batches) { b =>
      Vector.tabulate(size.queries)(j =>
        Query(1000000000000L + b * 1000L + j, near(centers(rnd.nextInt(nClusters)))))
    }
    Data(docs, groups, queries)
  }

  // ---- exact top-k in plain Scala, in the engine's arithmetic order ----

  private def norm(v: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(acc)
  }
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def exactTopK(q: Query, docs: Vector[Doc], k: Int): Seq[Long] = {
    val qn = norm(q.emb)
    docs.filter(_.id != q.id).map(d => (dot(q.emb, d.emb) / (qn * norm(d.emb)), d.id))
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
  }

  // ---- checks (pure, so the self-test can plant wrong answers) ----

  /** Every pair (a < b, listed once) has its reported Jaccard equal to an
    * independent recomputation and at least tau. */
  def checkPairs(pairs: Seq[(Long, Long, Double)], grams: Map[Long, Set[String]],
      tau: Double): Option[String] = {
    val dup = pairs.size != pairs.map(p => (p._1, p._2)).distinct.size
    val bad = pairs.find { case (a, b, j) =>
      !(a < b) || !grams.contains(a) || !grams.contains(b) ||
        jaccard(grams(a), grams(b)) != j || j < tau }
    if (dup) Some("near-dup pairs: a pair is listed twice")
    else bad.map { case (a, b, j) => s"near-dup pair ($a, $b) reported $j; " +
      s"recomputed ${if (grams.contains(a) && grams.contains(b)) jaccard(grams(a), grams(b)) else "n/a"}, tau $tau" }
  }

  /** Ranked ids per query must equal the expected lists exactly. */
  def checkTopK(expected: Map[Long, Seq[Long]], actual: Map[Long, Seq[Long]]): Option[String] =
    expected.collectFirst { case (q, ids) if actual.getOrElse(q, Nil) != ids =>
      s"top-k for query $q: ${actual.getOrElse(q, Nil).mkString(",")} != exact ${ids.mkString(",")}" }
      .orElse(if (actual.keySet == expected.keySet) None
        else Some(s"top-k answered queries ${actual.keySet.size} != ${expected.keySet.size}"))

  // ---- the workload ----

  /** Write the corpus table and build the IVF-PQ index over it. */
  def load(ctx: Ctx, data: Data, corpusRoot: String, indexRoot: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    CommitLog(spark, corpusRoot).append(
      data.docs.map(d => (d.id, d.text, d.emb)).toDF("id", "text", "emb"))
    ctx.op("operators.ivfpq_build")(Similarity.buildIvfPqIndex(
      CommitLog(spark, corpusRoot).read(), "id", "emb", indexRoot,
      nlist = 16, m = 8, ksub = 16, dim = Dim))
  }

  /** One near-dup pass, one search batch and one exact top-k on the
    * loaded corpus, so the measured operations start with their plans
    * compiled at full size. */
  def prime(ctx: Ctx, data: Data, corpusRoot: String, indexRoot: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def docs = CommitLog(spark, corpusRoot).read()
    val q = data.queries.head.map(q => (q.id, q.emb)).toDF("id", "emb")
    NearDup.nearDupPairs(docs.select("id", "text"), "id", "text").collect()
    val res = Similarity.searchIvfPqIndex(spark, indexRoot, q, "id", "emb", K, NProbe)
    res.collect()
    graft.util.Ckpt.release(res)
    Similarity.bruteForceTopK(q, docs, "id", "id", "emb", K).collect()
  }

  /** One round of near-dup passes and search batches; returns the mean
    * recall@k of the searches. */
  def round(ctx: Ctx, data: Data, corpusRoot: String, indexRoot: String, tag: String): Double = {
    val spark = ctx.spark
    import spark.implicits._
    def docs = CommitLog(spark, corpusRoot).read()
    val (nearPairs, exactPairs) = data.plantedPairs(Tau)
    ctx.span(s"corpus.round.$tag") {
      (1 to ctx.size.passes).foreach { p =>
        ctx.attempted += 1
        ctx.settle()
        val (rows, call) = ctx.op("operators.neardup")(
          NearDup.nearDupPairs(docs.select("id", "text"), "id", "text").collect())
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        call.out("pairs") = pairs.size.toDouble
        checkPairs(pairs, data.grams, Tau).foreach(ctx.problems += _)
        val found = pairs.map(p => (p._1, p._2)).toSet
        ctx.check(exactPairs.subsetOf(found),
          s"near-dup pass $p missed exact duplicates ${(exactPairs -- found).take(3)}")
        val recall = if (nearPairs.isEmpty) 1.0
          else nearPairs.count(found).toDouble / nearPairs.size
        ctx.check(recall >= LshRecallBound,
          f"near-dup pass $p: recall $recall%.3f of ${nearPairs.size} planted pairs < bound $LshRecallBound%.3f")
        if (ctx.tracer.isDefined && p == 1) {
          val cands = NearDup.candidatePairs(
            NearDup.withSignature(docs.select("id", "text"), "id", "text"),
            "id", "__sig", Bands, Rows).count()
          call.out("candidates_per_pair") = cands.toDouble / math.max(1, pairs.size)
        }
      }
      val recalls = data.queries.zipWithIndex.flatMap { case (batch, bi) =>
        val qdf = batch.map(q => (q.id, q.emb)).toDF("id", "emb")
        ctx.attempted += 1
        val (rows, call) = ctx.op("operators.ivfpq_search") {
          val res = Similarity.searchIvfPqIndex(spark, indexRoot, qdf, "id", "emb", K, NProbe)
          val out = res.collect()
          graft.util.Ckpt.release(res)
          out
        }
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
        val exact = batch.map(q => q.id -> exactTopK(q, data.docs, K)).toMap
        ctx.check(batch.forall(q => got.get(q.id).exists(ids => ids.size == K && ids.distinct.size == K)),
          s"ivf-pq batch $bi: a query did not get $K distinct ids")
        if (bi == 0) {
          ctx.attempted += 1
          val (exactRows, _) = ctx.op("operators.topk_exact")(
            Similarity.bruteForceTopK(qdf, docs, "id", "id", "emb", K).collect())
          val bf = exactRows.groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
          checkTopK(exact, bf).foreach(ctx.problems += _)
        }
        val rs = batch.map(q => got.getOrElse(q.id, Nil).count(exact(q.id).toSet).toDouble / K)
        call.out("recall_at_k") = rs.sum / rs.size
        rs
      }
      val recall = recalls.sum / recalls.size
      ctx.attempted += 1
      ctx.check(recall >= RecallFloor, f"ivf-pq mean recall@$K $recall%.3f < floor $RecallFloor")
      if (ctx.tracer.isDefined) {
        val tables = Seq(corpusRoot, s"$indexRoot/postings", s"$indexRoot/codebook", s"$indexRoot/meta")
        tables.foreach(t => ctx.op("sources.snapshot")(CommitLog(spark, t).snapshot()))
        val logCall = new Call("sources.log", 0.0, None)
        logCall.out("manifests") = tables.map(t => Option(new java.io.File(t, "_graft_log").listFiles())
          .getOrElse(Array.empty).count(f => f.isFile && f.getName.endsWith(".json"))).sum.toDouble
        ctx.calls += logCall
        kernels(ctx, data)
      }
      recall
    }
  }

  /** Traced-only kernel throughput probes. Each input repeats the corpus
    * `reps` times, so that a probe job spends most of its time in the
    * kernel. The same plan with the kernel swapped for a trivial
    * expression (`empty`) is timed beside it, and its median is taken
    * off each probe's time, so the job's fixed cost and the input's
    * production are not counted as kernel time. */
  private def kernels(ctx: Ctx, data: Data): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ids = data.docs.map(_.id)
    val textDf = data.docs.map(_.text).toDF("text")
    val pairDf = ids.indices.map(i => (data.grams(ids(i)).toSeq.sorted,
      data.grams(ids((i + 1) % ids.size)).toSeq.sorted)).toDF("a", "b")
    val q = data.queries.head.head.emb
    val vecDf = data.docs.map(d => (d.emb, q)).toDF("a", "b")
    val grams = TextFunctions.wordNGrams(TextFunctions.words(col("text")), 3)
    def probe(name: String, df: DataFrame, reps: Int, empty: Column, kernel: Column): Unit = {
      val in = spark.range(reps).crossJoin(df).drop("id")
      val rows = reps.toDouble * data.docs.size
      val calls = (1 to 3).map { _ =>
        ctx.op(s"$name.empty")(in.select(sum(empty)).collect())
        ctx.op(name)(in.select(sum(kernel)).collect())._2
      }
      val emptyMs = Util.median(ctx.named(s"$name.empty").map(_.ms))
      calls.foreach(c => c.out("rows_per_s") = rows / (math.max(c.ms - emptyMs, 1e-3) / 1000))
      System.err.println(f"graftbench: probe $name%-18s ${rows / 1000}%.0fk rows, empty " +
        f"$emptyMs%.1f ms, with kernel " + calls.map(c => f"${c.ms}%.1f").mkString(" ") + " ms")
    }
    val both = arraySize(col("a")) + arraySize(col("b"))
    probe("functions.ngrams", textDf, 100, length(col("text")), arraySize(grams))
    probe("functions.minhash", textDf, 20, arraySize(grams),
      hash(NearDup.minhashSignature(grams, 8, NearDup.XxHash)))
    probe("functions.jaccard", pairDf, 300, both, TextFunctions.jaccardSorted(col("a"), col("b")))
    probe("functions.cosine", vecDf, 5000, both, Similarity.cosine(col("a"), col("b")))
  }
}
