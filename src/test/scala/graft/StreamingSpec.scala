package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** B14: the streaming slice runs the SAME aggregation as batch q60 through
  * Structured Streaming (file source → watermark → tumbling window →
  * memory sink) and must produce identical results — the batch-oracle
  * pattern from SURVEY §5. */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  // Matches the current testdata shape (TIMESTAMP micros). The file's
  // parquet column is isAdjustedToUTC=false, but a user-specified
  // TimestampType schema reads it as LTZ directly — and the session
  // timezone is pinned UTC, so values agree with batch reads (which pin
  // spark.sql.parquet.inferTimestampNTZ.enabled=false in Sessions).
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("streaming tumbling-window agg equals batch result") {
    // stage the events file into a streaming source dir
    val dir: Path = Files.createTempDirectory("stream-src")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"sum_value")

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_out")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = graft.queries.Registry.queries("q60_tumbling_window")(spark, sfDir)
        .collect().toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("mapGroupsWithState carries per-user state across micro-batches") {
    import graft.streaming.StatefulStats
    import graft.streaming.StatefulStats.{UserEvent, UserStats}
    val dir: Path = Files.createTempDirectory("stream-state")
    val all = spark.read.parquet(s"$sfDir/events.parquet")

    // batch 1: even event_ids
    all.filter($"event_id" % 2 === 0).write.mode("overwrite")
      .parquet(dir.resolve("b1").toString)
    Files.move(dir.resolve("b1").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      dir.resolve("drop1.parquet"))

    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString + "/drop*.parquet")
      .select($"user_id", $"value").as[UserEvent]
    val q = StatefulStats.runningStats(stream).writeStream
      .outputMode("update")
      .format("memory")
      .queryName("state_out")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: odd event_ids — state must accumulate, not reset
      all.filter($"event_id" % 2 === 1).write.mode("overwrite")
        .parquet(dir.resolve("b2").toString)
      Files.move(dir.resolve("b2").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
        dir.resolve("drop2.parquet"))
      q.processAllAvailable()

      // latest emitted state per user == full batch aggregate
      val latest = spark.table("state_out").as[UserStats]
        .groupByKey(_.user_id).reduceGroups((a, b) => if (a.n >= b.n) a else b)
        .map(_._2).collect().map(s => s.user_id -> s.n).toMap
      val want = all.groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest === want)
    } finally q.stop()
  }

  test("q64 stateful cents stats: streaming final state equals batch plan") {
    import graft.streaming.StatefulStats
    import graft.streaming.StatefulStats.{UserEventC, UserStatsC}
    val dir: Path = Files.createTempDirectory("stream-cents")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString)
      .select($"user_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[UserEventC]
    val q = StatefulStats.runningStatsCents(stream).writeStream
      .outputMode("update")
      .format("memory")
      .queryName("cents_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cents_out").as[UserStatsC]
        .groupByKey(_.user_id).reduceGroups((a, b) => if (a.n >= b.n) a else b)
        .map(_._2).collect().map(s => s.user_id -> ((s.n, s.sum_cents))).toMap
      val batch = graft.queries.Registry.queries("q64_stateful_stats")(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), math.round(r.getDouble(2) * 100)))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("change detection: two time-ordered micro-batches equal the batch LAG result") {
    import graft.streaming.ChangeDetect
    import graft.streaming.ChangeDetect.{Change, Ev}
    val dir: Path = Files.createTempDirectory("stream-chg")
    val all = spark.read.parquet(s"$sfDir/events.parquet")
      .select($"user_id", $"event_id", $"ts",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // split by event TIME, not id — cross-batch suppression only works if
    // batches arrive in event-time order (the watermark contract)
    val cut = all.selectExpr("percentile(unix_micros(ts), 0.5)").head.getDouble(0).toLong
    def drop(name: String, part: org.apache.spark.sql.DataFrame): Unit = {
      part.coalesce(1).write.mode("overwrite").parquet(dir.resolve("tmp").toString)
      Files.move(
        dir.resolve("tmp").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
        dir.resolve(name))
    }
    drop("b1.parquet", all.filter(expr(s"unix_micros(ts) <= $cut")))

    val chgSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", LongType),
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("cents", LongType)))
    val stream = spark.readStream.schema(chgSchema)
      .parquet(dir.toString + "/b*.parquet").as[Ev]
    val q = ChangeDetect.changes(stream).writeStream
      .outputMode("append").format("memory").queryName("chg_out").start()
    try {
      q.processAllAvailable()
      drop("b2.parquet", all.filter(expr(s"unix_micros(ts) > $cut")))
      q.processAllAvailable()
      val streamed = spark.table("chg_out").as[Change].collect()
        .map(c => (c.user_id, c.event_id, c.cents, c.prev_cents)).toSet
      val batch = ChangeDetect.changes(all.as[Ev]).collect()
        .map(c => (c.user_id, c.event_id, c.cents, c.prev_cents)).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  /** One parquet "micro-batch" file of synthetic events; ts in minutes. */
  private def dropBatch(dir: Path, name: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    val df = rows.map { case (id, tsMin, uid, typ, v) =>
      (id, tsMin * 60L * 1000000L, uid, typ, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve("tmp").toString)
    Files.move(
      dir.resolve("tmp").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      dir.resolve(name))
  }

  test("late rows beyond the watermark are dropped from the windowed aggregation") {
    // append-mode tumbling 1h windows, 10-minute watermark: a window is
    // emitted once the watermark passes its end, after which genuinely
    // late rows for it must be discarded — the eviction contract the
    // reference's append-only prices feed would hit in production
    val dir: Path = Files.createTempDirectory("stream-late")
    dropBatch(dir, "b1.parquet", Seq(
      (1L, 10L, 1L, "click", 1.0),   // window [0h,1h)
      (2L, 20L, 2L, "click", 1.0),   // window [0h,1h)
      (3L, 120L, 3L, "click", 1.0))) // window [2h,3h); watermark -> 1:50

    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString + "/b*.parquet")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("ws"), $"n")

    val q = stream.writeStream
      .outputMode("append").format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 1 closed [0h,1h): emitted with n=2
      val after1 = spark.table("late_out").as[(java.sql.Timestamp, Long)]
        .collect().map { case (ts, n) => ts.toLocalDateTime.getHour -> n }.toMap
      assert(after1 === Map(0 -> 2L))

      dropBatch(dir, "b2.parquet", Seq(
        (4L, 30L, 4L, "click", 1.0),   // LATE: [0h,1h) closed at wm 1:50 — dropped
        (5L, 115L, 5L, "click", 1.0),  // [1h,2h): within watermark — kept
        (6L, 200L, 6L, "click", 1.0))) // [3h,4h); watermark -> 3:10 closes [1h,2h) and [2h,3h)
      q.processAllAvailable()

      val after2 = spark.table("late_out").as[(java.sql.Timestamp, Long)]
        .collect().map { case (ts, n) => ts.toLocalDateTime.getHour -> n }.toMap
      // the late id=4 row contributes NOWHERE: hour 0 stays 2, and the
      // total over emitted windows is 4 of the 6 rows (id=4 evicted,
      // id=6's window still open)
      assert(after2 === Map(0 -> 2L, 1 -> 1L, 2 -> 1L))
    } finally q.stop()
  }

  test("streaming dedup state lifecycle: plain dropDuplicates never evicts; withinWatermark does") {
    // The two documented dedup contracts, pinned side by side:
    //  (a) dropDuplicates(keys) WITHOUT the event-time column in the keys
    //      keeps state forever — duplicates are dropped even long after
    //      the watermark passed the first occurrence (and state grows
    //      unboundedly; that is WHY dropDuplicatesWithinWatermark exists);
    //  (b) dropDuplicatesWithinWatermark(keys) expires a key once the
    //      watermark passes firstSeen + delay, so a later duplicate is
    //      re-admitted, while in-flight duplicates still dedup.
    def run(name: String, withinWatermark: Boolean): Seq[Long] = {
      val dir: Path = Files.createTempDirectory(s"stream-$name")
      // start at minute 100, not 0: a row whose event time equals the
      // initial epoch watermark is dropped as late by the
      // withinWatermark operator (ts <= watermark)
      dropBatch(dir, "b1.parquet", Seq((1L, 100L, 1L, "click", 1.0)))
      val base = spark.readStream
        .schema(eventsSchema)
        .parquet(dir.toString + "/b*.parquet")
        .withWatermark("ts", "10 minutes")
      val deduped =
        if (withinWatermark) base.dropDuplicatesWithinWatermark("user_id", "event_type")
        else base.dropDuplicates("user_id", "event_type")
      val q = deduped.select($"event_id", $"user_id", $"event_type")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        // (u1, click)@1:40 state expires at 1:50; this batch advances the
        // watermark to 2:30, past the expiry, evicting it at commit
        dropBatch(dir, "b2.parquet", Seq((2L, 160L, 9L, "other", 1.0)))
        q.processAllAvailable()
        // id=3 re-admits iff the key expired; id=4 dedups against id=3's
        // fresh state (withinWatermark) or the immortal original (plain)
        dropBatch(dir, "b3.parquet", Seq((3L, 155L, 1L, "click", 1.0)))
        q.processAllAvailable()
        dropBatch(dir, "b4.parquet", Seq((4L, 158L, 1L, "click", 1.0)))
        q.processAllAvailable()
        spark.table(name).filter($"user_id" === 1L && $"event_type" === "click")
          .select("event_id").as[Long].collect().sorted.toSeq
      } finally q.stop()
    }
    assert(run("dedup_plain", withinWatermark = false) === Seq(1L),
      "plain dropDuplicates: key state is never evicted")
    assert(run("dedup_within", withinWatermark = true) === Seq(1L, 3L),
      "withinWatermark: expired key re-admits id=3, id=4 dedups against it")
  }

  test("stream-stream interval join equals batch q77 and evicts state via watermarks") {
    val dir: Path = Files.createTempDirectory("stream-join")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def side(tpe: String, idCol: String, tsCol: String) = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString)
      .filter($"event_type" === tpe)
      .select($"user_id", $"event_id".as(idCol), $"ts".as(tsCol))
      .withWatermark(tsCol, "1 hour")

    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val clicks = side("click", "click_id", "click_ts")
    // the two-sided range bound on event time is what makes the join
    // state bounded: clicks older than watermark - 1h can never match a
    // future purchase and are evicted
    val joined = purchases.as("p").join(clicks.as("c"),
      $"p.user_id" === $"c.user_id" &&
        $"purchase_ts" >= $"click_ts" &&
        $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"p.user_id".as("user_id"), $"purchase_id", $"click_id",
        $"purchase_ts", $"click_ts")

    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("join_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("join_out")
        .orderBy("user_id", "purchase_id", "click_id").collect().toSeq
      val batch = graft.queries.Registry.queries("q77_stream_interval_join")(spark, sfDir)
        .collect().toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // watermark-driven state cleanup actually ran: state rows remaining
      // at the end are far fewer than total click+purchase events
      val progress = q.lastProgress
      val stateRows = progress.stateOperators.map(_.numRowsTotal).sum
      val totalSideRows = spark.read.parquet(s"$sfDir/events.parquet")
        .filter($"event_type".isin("click", "purchase")).count()
      assert(stateRows < totalSideRows,
        s"join state ($stateRows) should be bounded below side inputs ($totalSideRows)")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join equals batch q125 once the watermark closes the tail") {
    val dir: Path = Files.createTempDirectory("stream-louter")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // sentinel events push the watermark past max_ts + join window so
    // the engine can PROVE the last purchases are unmatched and emit
    // their outer rows — without it the tail stays withheld forever on
    // a finite input. user_id -1 keeps them out of the comparison.
    val maxMicros = spark.read.parquet(s"$sfDir/events.parquet")
      .select(unix_micros(max($"ts").cast("timestamp"))).head().getLong(0)
    val farMicros = maxMicros + 6L * 3600 * 1000 * 1000
    Seq((-1L, farMicros, -1L, "click", 0.0, "{}"),
        (-1L, farMicros, -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
      .write.mode("append").parquet(dir.toString)

    def side(tpe: String, idCol: String, tsCol: String) = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString)
      .filter($"event_type" === tpe)
      .select($"user_id", $"event_id".as(idCol), $"ts".as(tsCol))
      .withWatermark(tsCol, "1 hour")

    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val clicks = side("click", "click_id", "click_ts")
    val joined = purchases.as("p").join(clicks.as("c"),
        $"p.user_id" === $"c.user_id" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select($"p.user_id".as("user_id"), $"purchase_id", $"click_id",
        $"purchase_ts", $"click_ts")

    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("louter_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("louter_out")
        .filter($"user_id" =!= -1L)
        .orderBy($"user_id", $"purchase_id", $"click_id").collect().toSeq
      val batch = graft.queries.Registry.queries("q125_stream_leftouter_join")(spark, sfDir)
        .collect().toSeq
      assert(streamed === batch)
      // the outer semantics actually fired: some purchases have no click
      assert(streamed.exists(_.isNullAt(2)))
    } finally q.stop()
  }

  test("foreachBatch streaming upsert sink converges to the batch last-wins table") {
    // The reference's DynamoDB put-per-row sink (index.js:249) as a
    // streaming upsert: each micro-batch merges last-wins and replaces a
    // commit-log target in one commit — the A7 + B14 composition a
    // production ingest runs.
    val srcDir: Path = Files.createTempDirectory("stream-upsert-src")
    val target = Files.createTempDirectory("stream-upsert-tgt").toString + "/t"
    val all = spark.read.parquet(s"$sfDir/events.parquet")

    // batch the stream by event_id ranges so later batches overwrite
    // earlier keys (same user_id+event_type key, later ts)
    val stream = spark.readStream.schema(eventsSchema)
      .parquet(srcDir.toString)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val incoming = graft.operators.Dedup.lastWins(
          batch, Seq("user_id", "event_type"), Seq("ts", "event_id"))
        val log = graft.sources.CommitLog(spark, target)
        val merged =
          if (graft.sources.CommitLog.exists(spark, target)) {
            val cur = log.read()
            graft.operators.Dedup.lastWins(cur.unionByName(incoming),
              Seq("user_id", "event_type"), Seq("ts", "event_id"))
          } else incoming
        log.replaceAll(merged); ()
    }.start()
    try {
      val half = all.agg(percentile_approx($"event_id", lit(0.5), lit(100)))
        .collect()(0).getLong(0)
      // feed two real micro-batches: first half, then the rest
      spark.read.parquet(s"$sfDir/events.parquet").filter($"event_id" <= half)
        .write.mode("overwrite").parquet(srcDir.resolve("b1").toString)
      Files.move(
        srcDir.resolve("b1").toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath,
        srcDir.resolve("batch1.parquet"))
      q.processAllAvailable()
      spark.read.parquet(s"$sfDir/events.parquet").filter($"event_id" > half)
        .write.mode("overwrite").parquet(srcDir.resolve("b2").toString)
      Files.move(
        srcDir.resolve("b2").toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath,
        srcDir.resolve("batch2.parquet"))
      q.processAllAvailable()

      val streamed = graft.sources.CommitLog(spark, target).read()
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type").collect().toSeq
      val batchWant = graft.operators.Dedup.lastWins(all,
          Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type").collect().toSeq
      assert(streamed === batchWant)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming incremental near-dup equals per-batch crossDupPairs vs static corpus") {
    import graft.operators.NearDup
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = graft.sources.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    // corpus = doc_id % 7 != 1 (q87's split); incoming stream = the rest,
    // fed as two micro-batches
    val corpus = docs.filter($"doc_id" % 7 =!= 1)
    val inc = docs.filter($"doc_id" % 7 === 1)
    val ix = NearDup.buildCorpusIndex(corpus, "doc_id", "text")

    val dir: Path = Files.createTempDirectory("stream-neardup-src")
    val ckpt = Files.createTempDirectory("stream-neardup-ckpt").toString
    def stage(batch: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = dir.resolve(name + ".tmp")
      batch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.move(tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
        dir.resolve(s"$name.parquet"))
    }
    stage(inc.filter($"doc_id" % 2 === 0), "b1")

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(docsSchema)
      .parquet(dir.toString + "/b*.parquet")
    val q = graft.streaming.StreamNearDup.start(
      stream, ix, "doc_id", "text", ckpt) { (pairs, _) =>
      got.synchronized {
        got ++= pairs.select($"inc_id", $"corp_id", $"jaccard")
          .as[(Long, Long, Double)].collect()
      }
    }
    try {
      q.processAllAvailable()
      stage(inc.filter($"doc_id" % 2 === 1), "b2")
      q.processAllAvailable()
    } finally q.stop()

    val want = NearDup.crossDupPairs(inc, corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    // each element of `inc` meets the corpus in exactly one micro-batch,
    // so the union of per-batch pairs is the batch result exactly
    assert(got.sorted === want.toSeq.sorted)
    assert(got.nonEmpty)
  }

  test("streaming dedup within watermark drops duplicate keys") {
    val dir: Path = Files.createTempDirectory("stream-src2")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = spark.readStream
      .schema(eventsSchema)
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

    val q = stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      val distinct = spark.read.parquet(s"$sfDir/events.parquet")
        .select("user_id", "event_type").distinct().count()
      assert(n === distinct)
    } finally q.stop()
  }

  test("ResampleSync: the streamed grid equals the one-shot batch resample") {
    import graft.operators.{AsOf, Dedup}
    import graft.sources.{CommitLog, Tables}
    def root(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString + "/t"
    val baseRoot = root("rsync-base")
    val gridRoot = root("rsync-grid")
    val ck = java.nio.file.Files.createTempDirectory("rsync-ck").toString
    val ev = Tables(spark, sfDir, "events").filter($"user_id" < 30)
      .select($"user_id", $"ts", $"value", $"event_id")
    def slice(parity: Int) = Dedup.lastWins(
        ev.filter($"event_id" % 2 === parity),
        Seq("user_id", "ts"), Seq("event_id"))
      .drop("event_id")
    val base = CommitLog(spark, baseRoot)
    base.upsert(slice(0), Seq("user_id", "ts"), CommitLog.LastWins)
    val (startTs, endTs) = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    val q = graft.streaming.ResampleSync.start(spark, baseRoot, gridRoot, ck,
      Seq("user_id"), "ts", "value", startTs, endTs,
      expr("interval 1 day"), interpolate = true)
    try {
      q.processAllAvailable()
      // new observations for existing + new keys, then a full-key
      // retraction (its grid rows must vanish)
      base.upsert(slice(1), Seq("user_id", "ts"), CommitLog.LastWins)
      q.processAllAvailable()
      base.delete($"user_id" % 5 === 2)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select($"user_id", $"grid_ts", $"prev_ts", $"next_ts",
          round($"interp", 9).as("interp"))
        .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp],
          Option[java.sql.Timestamp], Option[Double])]
        .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
      val streamed = canon(CommitLog(spark, gridRoot).read())
      val oneShot = canon(AsOf.resampleInterpolate(base.read(),
        Seq("user_id"), "ts", "value", startTs, endTs,
        expr("interval 1 day")))
      assert(streamed.nonEmpty && streamed === oneShot)
      // retracted keys left the grid entirely
      assert(!streamed.exists(_._1 % 5 == 2))
    } finally q.stop()
  }

  test("ResampleSync.applyChanges: the touched-key swap is ONE atomic commit") {
    import graft.sources.{CommitLog, Tables}
    def root(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString + "/t"
    val baseRoot = root("rsync-atomic-base")
    val gridRoot = root("rsync-atomic-grid")
    val ev = graft.operators.Dedup.lastWins(
        Tables(spark, sfDir, "events").filter($"user_id" < 10)
          .select($"user_id", $"ts", $"value", $"event_id"),
        Seq("user_id", "ts"), Seq("event_id"))
      .drop("event_id")
    val base = CommitLog(spark, baseRoot)
    base.upsert(ev, Seq("user_id", "ts"), CommitLog.LastWins)
    val (startTs, endTs) = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    graft.streaming.ResampleSync.catchUp(spark, baseRoot, gridRoot,
      Seq("user_id"), "ts", "value", startTs, endTs,
      expr("interval 1 day"), interpolate = false)
    val gridLog = CommitLog(spark, gridRoot)
    val v0 = gridLog.snapshot().version
    val keys = gridLog.read().select($"user_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(keys.size >= 3)
    val touched = keys.take(3)
    graft.streaming.ResampleSync.applyChanges(spark, baseRoot, gridRoot,
      touched.toDF("user_id"), Seq("user_id"), "ts", "value",
      startTs, endTs, expr("interval 1 day"), interpolate = false)
    val v1 = gridLog.snapshot().version
    // r12: one deleteAndAppend commit, not delete-merge + append (two
    // commits whose between state dropped the touched keys)
    assert(v1 === v0 + 1, "the per-trigger swap must be exactly one commit")
    (0L to v1).foreach { v =>
      val present = gridLog.readVersion(v).select($"user_id").distinct()
        .as[Long].collect().toSet
      touched.foreach(k => assert(present.contains(k),
        s"grid version $v is missing touched key $k — non-atomic swap"))
    }
  }
}
