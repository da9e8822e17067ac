package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Upsert}

/** Unit + randomized-property tests for the tier-A library operators
  * (SURVEY §5.4). Randomized cases use a fixed seed → deterministic. */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  private def kv(rows: Seq[(Long, String)]) = rows.toDF("k", "v")

  test("upsert insertIfAbsent: existing rows win, new keys appended") {
    val target = kv(Seq(1L -> "old1", 2L -> "old2"))
    val incoming = kv(Seq(2L -> "new2", 3L -> "new3"))
    val got = Upsert.insertIfAbsent(target, incoming, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got === Seq(1L -> "old1", 2L -> "old2", 3L -> "new3"))
  }

  test("upsert lastWins: incoming rows replace, others survive") {
    val target = kv(Seq(1L -> "old1", 2L -> "old2"))
    val incoming = kv(Seq(2L -> "new2", 3L -> "new3"))
    val got = Upsert.lastWins(target, incoming, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got === Seq(1L -> "old1", 2L -> "new2", 3L -> "new3"))
  }

  test("upsert idempotence property: upsert(upsert(T,x),x) == upsert(T,x)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val t = Seq.fill(20)((rnd.nextLong(10), rnd.alphanumeric.take(4).mkString))
        .distinctBy(_._1)
      val x = Seq.fill(20)((rnd.nextLong(10), rnd.alphanumeric.take(4).mkString))
        .distinctBy(_._1)
      val once = Upsert.insertIfAbsent(kv(t), kv(x), Seq("k"))
      val twice = Upsert.insertIfAbsent(once, kv(x), Seq("k"))
      assert(once.orderBy("k", "v").collect().toSeq ===
        twice.orderBy("k", "v").collect().toSeq)
    }
  }

  test("dedup keeps exactly one row per key, deterministically") {
    val df = Seq((1L, "a", 10), (1L, "b", 20), (2L, "c", 5), (2L, "d", 5))
      .toDF("k", "v", "ord")
    val last = Dedup.lastWins(df, Seq("k"), Seq("ord", "v"))
      .orderBy("k").as[(Long, String, Int)].collect().toSeq
    assert(last === Seq((1L, "b", 20), (2L, "d", 5)))
    val first = Dedup.firstWins(df, Seq("k"), Seq("ord", "v"))
      .orderBy("k").as[(Long, String, Int)].collect().toSeq
    assert(first === Seq((1L, "a", 10), (2L, "c", 5)))
  }

  test("asofJoin matches brute-force nested-loop reference (randomized)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val lRows = (0 until 50).map { i =>
        (rnd.nextLong(5), new java.sql.Timestamp(rnd.nextLong(1000) * 1000), i.toLong)
      }
      val rRows = Seq.fill(50)(
          (rnd.nextLong(5), new java.sql.Timestamp(rnd.nextLong(1000) * 1000), rnd.nextInt(999)))
        .distinctBy(r => (r._1, r._2)) // unique (key, ts) per contract
      val left = lRows.toDF("k", "ts", "lid")
      val right = rRows.toDF("k", "ts", "rv")
      val got = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts", "r_")
        .select("lid", "r_ts", "r_rv")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val want = lRows.map { case (k, lts, lid) =>
        val best = rRows.filter(r => r._1 == k && !r._2.after(lts))
          .sortBy(_._2.getTime).lastOption
        (lid, best.map(_._2: Any), best.map(_._3: Any))
      }.toSet
      assert(got === want)
    }
  }

  test("asofJoin inclusive at equal timestamps") {
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "L"))
      .toDF("k", "ts", "lv")
    val right = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "R"))
      .toDF("k", "ts", "rv")
    val got = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts")
      .select("r_rv").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("R"))
  }

  test("asofJoin directions: forward picks next, nearest ties to backward, tolerance nulls") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "L")).toDF("k", "ts", "lv")
    // backward candidate 40 min before, forward candidate 40 min after:
    // equidistant -> nearest keeps the BACKWARD match (pandas tie rule)
    val right = Seq(
      (1L, ts("2024-01-01 09:20:00"), "before"),
      (1L, ts("2024-01-01 10:40:00"), "after")).toDF("k", "ts", "rv")
    def rv(direction: String, tol: Option[org.apache.spark.sql.Column]) =
      AsOf.asofJoin(left, right, Seq("k"), "ts", "ts", "r_",
          direction = direction, tolerance = tol)
        .select("r_rv").collect().map(r => Option(r.getString(0))).toSeq
    assert(rv("backward", None) === Seq(Some("before")))
    assert(rv("forward", None) === Seq(Some("after")))
    assert(rv("nearest", None) === Seq(Some("before"))) // tie -> backward
    // 30-minute tolerance excludes both 40-minute-away candidates
    val tol30 = Some(expr("INTERVAL 30 MINUTES"))
    assert(rv("backward", tol30) === Seq(None))
    assert(rv("forward", tol30) === Seq(None))
    assert(rv("nearest", tol30) === Seq(None))
    // 45-minute tolerance admits them again
    val tol45 = Some(expr("INTERVAL 45 MINUTES"))
    assert(rv("nearest", tol45) === Seq(Some("before")))
  }

  test("asofJoin/asofJoinMerge: NULL keys never match (SQL equi-join semantics)") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
        (Some(1L), ts("2024-01-01 10:00:00"), "l1"),
        (None: Option[Long], ts("2024-01-01 10:00:00"), "lnull"))
      .toDF("k", "ts", "lv")
    val right = Seq(
        (Some(1L), ts("2024-01-01 09:00:00"), "r1"),
        (None: Option[Long], ts("2024-01-01 09:00:00"), "rnull"))
      .toDF("k", "ts", "rv")
    for (impl <- Seq(
        AsOf.asofJoin(left, right, Seq("k"), "ts", "ts"),
        AsOf.asofJoinMerge(left, right, Seq("k"), "ts", "ts"))) {
      val got = impl.select("lv", "r_rv").collect()
        .map(r => (r.getString(0), Option(r.get(1)))).toMap
      assert(got === Map("l1" -> Some("r1"), "lnull" -> None))
    }
  }

  test("resampleFfill: regular grid, forward fill, pre-first nulls, dup refusal") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-02 06:00:00"), 10.0),
      (1L, ts("2024-01-03 18:00:00"), 20.0),
      (2L, ts("2024-01-01 00:00:00"), 5.0)
    ).toDF("k", "ts", "v")
    val out = AsOf.resampleFfill(obs, Seq("k"), "ts",
        "2024-01-01 00:00:00", "2024-01-04 00:00:00",
        expr("interval 1 day"))
      .select($"k", $"grid_ts", $"last_v")
      .as[(Long, java.sql.Timestamp, Option[Double])]
      .collect().sortBy(r => (r._1, r._2.getTime))
    assert(out.length === 8) // 2 keys x 4 daily points, inclusive ends
    assert(out.map(_._3).toSeq === Seq(
      None, None, Some(10.0), Some(20.0),           // key 1: fill after first obs
      Some(5.0), Some(5.0), Some(5.0), Some(5.0)))  // key 2: constant fill
    // an observation AT a grid instant fills that point (inclusive <=)
    assert(out(4)._3 === Some(5.0))
    val dup = obs.union(Seq((1L, ts("2024-01-02 06:00:00"), 99.0)).toDF("k", "ts", "v"))
    val e = intercept[IllegalArgumentException] {
      AsOf.resampleFfill(dup, Seq("k"), "ts",
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", expr("interval 1 day"))
    }
    assert(e.getMessage.contains("nondeterministic"))
  }

  test("resampleInterpolate: exact blend, grid hits, no extrapolation, dup refusal") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),  // on-grid observation
      (1L, ts("2024-01-02 12:00:00"), 40.0),  // off-grid bracket
      (2L, ts("2024-01-02 00:00:00"), 7.0)    // single observation
    ).toDF("k", "ts", "v")
    val out = AsOf.resampleInterpolate(obs, Seq("k"), "ts", "v",
        "2024-01-01 00:00:00", "2024-01-03 00:00:00",
        expr("interval 1 day"))
      .select($"k", $"grid_ts", $"interp")
      .as[(Long, java.sql.Timestamp, Option[Double])]
      .collect().sortBy(r => (r._1, r._2.getTime))
    assert(out.length === 6) // 2 keys x 3 daily points
    // key 1: day1 on-obs -> 10; day2 = 10 + 30 * (24h/36h) = 30; day3 past last -> null
    assert(out.map(_._3).toSeq === Seq(
      Some(10.0), Some(30.0), None,
      None, Some(7.0), None)) // key 2: only the exact-hit point is defined
    val dup = obs.union(Seq((1L, ts("2024-01-01 00:00:00"), 99.0)).toDF("k", "ts", "v"))
    val e = intercept[IllegalArgumentException] {
      AsOf.resampleInterpolate(dup, Seq("k"), "ts", "v",
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", expr("interval 1 day"))
    }
    assert(e.getMessage.contains("nondeterministic"))
  }

  test("asofJoin both direction: bracketing matches agree with the separate passes") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "L"),
      (1L, ts("2024-01-01 12:00:00"), "L2")).toDF("k", "ts", "lv")
    val right = Seq(
      (1L, ts("2024-01-01 09:20:00"), "a"),
      (1L, ts("2024-01-01 10:40:00"), "b"),
      (1L, ts("2024-01-01 13:00:00"), "c")).toDF("k", "ts", "rv")
    val both = AsOf.asofJoin(left, right, Seq("k"), "ts", "ts",
        rightPrefix = "prev_", direction = "both", forwardPrefix = "next_")
      .select($"lv", $"prev_rv", $"next_rv").as[(String, String, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(both === Map("L" -> (("a", "b")), "L2" -> (("b", "c"))))
    // equal prefixes would emit every right payload column twice under
    // the same name — refused loudly up front (ADVICE r10)
    val e = intercept[IllegalArgumentException] {
      AsOf.asofJoin(left, right, Seq("k"), "ts", "ts",
        rightPrefix = "p_", direction = "both", forwardPrefix = "p_")
    }
    assert(e.getMessage.contains("distinct prefixes"))
  }

  test("keyless (global single-series) as-of join works in both implementations") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((ts("2024-01-01 10:00:00"), "l1"), (ts("2024-01-01 08:00:00"), "l0"))
      .toDF("ts", "lv")
    val right = Seq((ts("2024-01-01 09:00:00"), "r9"), (ts("2024-01-01 07:00:00"), "r7"))
      .toDF("ts", "rv")
    for (impl <- Seq(
        AsOf.asofJoin(left, right, Seq.empty, "ts", "ts"),
        AsOf.asofJoinMerge(left, right, Seq.empty, "ts", "ts"))) {
      val got = impl.select("lv", "r_rv").collect()
        .map(r => (r.getString(0), Option(r.get(1)))).toMap
      assert(got === Map("l1" -> Some("r9"), "l0" -> Some("r7")))
    }
  }

  test("asofJoinMerge (custom exec) matches the union+window implementation") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val lRows = (0 until 80).map { i =>
        (rnd.nextLong(6), new java.sql.Timestamp(rnd.nextLong(500) * 1000), i.toLong)
      }
      val rRows = Seq.fill(80)(
          (rnd.nextLong(6), new java.sql.Timestamp(rnd.nextLong(500) * 1000), rnd.nextInt(999)))
        .distinctBy(r => (r._1, r._2))
      val left = lRows.toDF("k", "ts", "lid")
      val right = rRows.toDF("k", "ts", "rv")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("lid", "r_ts", "r_rv").collect()
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val viaWindow = canon(AsOf.asofJoin(left, right, Seq("k"), "ts", "ts"))
      val viaMerge = canon(AsOf.asofJoinMerge(left, right, Seq("k"), "ts", "ts"))
      assert(viaMerge === viaWindow)
    }
  }

  test("asofJoinMerge plans as the custom merge exec with co-partitioned sorts") {
    val ev = graft.sources.Tables(spark, sfDir, "events")
    import org.apache.spark.sql.functions.col
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val merged = AsOf.asofJoinMerge(purchases, clicks, Seq("user_id"), "ts", "ts", "click_")
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinMerge"), plan) // nodeName strips "Exec"
    // equality with the window implementation on real data
    val viaWindow = AsOf.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts", "click_")
      .select("event_id", "click_ts", "click_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val viaMerge = merged
      .select("event_id", "click_ts", "click_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(viaMerge === viaWindow)
    assert(viaMerge.nonEmpty)
  }

  test("topKPerGroup returns k ranked rows per group") {
    val df = Seq((1, 5), (1, 3), (1, 9), (2, 1)).toDF("g", "x")
    val got = Dedup.topKPerGroup(df, Seq("g"), Seq($"x".desc), 2)
      .orderBy("g", "rk").as[(Int, Int, Int)].collect().toSeq
    assert(got === Seq((1, 9, 1), (1, 5, 2), (2, 1, 1)))
  }

  test("assignSessions splits on gap, labels positions, one exchange total") {
    import org.apache.spark.sql.functions._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Long) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    // user 1: events at 0,10,20 | gap | 60,65; user 2: one event
    val ev = Seq(
      (1L, 1L, at(0)), (2L, 1L, at(10)), (3L, 1L, at(20)),
      (4L, 1L, at(60)), (5L, 1L, at(65)), (6L, 2L, at(0)))
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.Sessionize
      .assignSessions(ev, "user_id", "ts", "event_id", gapSeconds = 1800L)
      .select($"event_id", $"session_seq", $"event_seq",
        $"session_events", $"micros_into_session")
      .orderBy($"event_id")
      .as[(Long, Long, Int, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1, 3L, 0L), (2L, 1L, 2, 3L, 600000000L), (3L, 1L, 3, 3L, 1200000000L),
      (4L, 2L, 1, 2L, 0L), (5L, 2L, 2, 2L, 300000000L), (6L, 1L, 1, 1L, 0L)))
    // scale shape: every window reuses the single hash(user_id) exchange
    val plan = graft.operators.Sessionize
      .assignSessions(ev, "user_id", "ts", "event_id", 1800L)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1, plan)
  }

  test("stratifiedTake: exact per-group counts, rerun-stable, seed-sensitive") {
    import graft.operators.Sampling
    val df = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .unionByName(Seq((1000L, "tiny")).toDF("id", "grp"))
    val take = Sampling.stratifiedTake(df, Seq("grp"), Seq("id"), n = 20, seed = "a")
    val counts = take.groupBy($"grp").count().as[(String, Long)].collect().toMap
    // exactly min(n, |group|) per group — the 1-row group survives whole
    assert(counts === Map("g0" -> 20L, "g1" -> 20L, "g2" -> 20L, "tiny" -> 1L))
    // rerun-stable: the same rows, not just the same counts
    val ids1 = take.select($"id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.stratifiedTake(df, Seq("grp"), Seq("id"), 20, "a")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids1 === ids2)
    // a different seed picks a different sample (overwhelmingly)
    val idsB = Sampling.stratifiedTake(df, Seq("grp"), Seq("id"), 20, "b")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids1 !== idsB)
  }

  test("hashSplit: total, disjoint, frozen under corpus growth, ~proportional") {
    import graft.operators.Sampling
    val df = (1L to 2000L).toDF("id")
    val split = Sampling.hashSplit(df, Seq("id"),
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"), seed = "s")
    val counts = split.groupBy($"split").count().as[(String, Long)].collect().toMap
    // every row lands in exactly one split (projection — row count unchanged)
    assert(counts.values.sum === 2000L)
    assert(counts.keySet === Set("train", "val", "test"))
    // close to the declared proportions (md5 uniformity; wide tolerance)
    assert(counts("train") > 1500L && counts("val") > 120L && counts("test") > 120L)
    // membership is FROZEN: the same row keeps its split when the corpus grows
    val grown = Sampling.hashSplit((1L to 4000L).toDF("id"), Seq("id"),
      Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"), seed = "s")
    val before = split.as[(Long, String)].collect().toMap
    val after = grown.filter($"id" <= 2000L).as[(Long, String)].collect().toMap
    assert(before === after)
  }

  test("hash60 fails loudly on a null id instead of silently colliding") {
    import graft.operators.Sampling
    val df = Seq(Some(1L), None, Some(3L)).toDF("id")
    val e = intercept[Exception] {
      Sampling.hashSplit(df, Seq("id"), Seq(0.5, 0.5), Seq("a", "b")).collect()
    }
    assert(e.getMessage.contains("null id") ||
      Option(e.getCause).exists(_.getMessage.contains("null id")), e.getMessage)
    // non-null ids still split fine
    val ok = Sampling.hashSplit(df.na.drop(), Seq("id"), Seq(0.5, 0.5), Seq("a", "b"))
    assert(ok.count() === 2L)
  }
}
