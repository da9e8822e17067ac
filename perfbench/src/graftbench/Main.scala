package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.Sessions

/** Input sizes. `full` is what the benchmark measures; `warm` runs the
  * same plan shapes in set-up; `tiny` is for the benchmark's own test. */
final case class Size(name: String, stations: Int, days: Int, docs: Int,
    passes: Int, batches: Int, queries: Int, noise: Double)

object Size {
  val full = Size("full", stations = 3000, days = 4, docs = 1200, passes = 5, batches = 6,
    queries = 16, noise = 0.04)
  val warm = Size("warm", stations = 300, days = 1, docs = 200, passes = 1, batches = 1,
    queries = 4, noise = 0.04)
  val tiny = Size("tiny", stations = 40, days = 3, docs = 200, passes = 2, batches = 2,
    queries = 4, noise = 0.04)
  def apply(name: String): Size = name match {
    case "full" => full
    case "tiny" => tiny
    case other => sys.error(s"unknown size $other (full|tiny)")
  }
}

/** Peak heap occupancy after collection — the high-water mark of live
  * data — over the measured phase. Every batch operation starts after a
  * full collection ([[Ctx.settle]]), so old-generation garbage from
  * earlier operations does not count. */
final class HeapPeak {
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stopMb(): Double = {
    System.gc() // the occupancy at the end counts too
    Thread.sleep(100) // notifications arrive on their own thread
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
    peak.get / (1024.0 * 1024.0)
  }
}

/** One workload: warm-up on throwaway roots, the load (inputs generated
  * from the seed plus any initial tables), and the measured work. Its
  * batch operation (named `batch`, processing `items` input items per
  * call) and its query operation (named `query`) define the timing
  * metrics. */
sealed trait Workload {
  def batch: String
  def items: Double
  def query: String
  def warm(ctx: Ctx): Unit
  def load(ctx: Ctx, i: Int): Unit
  /** Runs the measured operation shapes on the loaded inputs, untimed. */
  def prime(ctx: Ctx): Unit = ()
  /** Runs the measured work; returns (disk bytes, live logical bytes). */
  def measure(ctx: Ctx): (Long, Long)
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "ingest_cycles" -> (() => new IngestCycles),
    "corpus_dedup_search" -> (() => new CorpusDedupSearch))

  final class IngestCycles extends Workload {
    val batch = "pipeline.run"
    val query = "pipeline.asof"
    private var cycles: Vector[Ingest.Cycle] = _
    /** Stations listed per cycle, averaged over the cycles. */
    def items: Double = cycles.map(_.stubs.size).sum.toDouble / cycles.size
    def warm(ctx: Ctx): Unit =
      Ingest.round(ctx, Ingest.generate(ctx.seed, ctx.size.stations, ctx.size.days), "warm", retry = false)
    def load(ctx: Ctx, i: Int): Unit = cycles = Ingest.generate(ctx.seed, ctx.size.stations, ctx.size.days)
    def measure(ctx: Ctx): (Long, Long) = Ingest.round(ctx, cycles, "r1", retry = true)
  }

  final class CorpusDedupSearch extends Workload {
    val batch = "operators.neardup"
    val query = "operators.ivfpq_search"
    private var data: Corpus.Data = _
    private var roots: (java.io.File, java.io.File) = _
    def items: Double = data.docs.size.toDouble
    /** A small load pays the load path's first-execution cost, so the
      * three measured loads are alike; [[prime]] warms the measured
      * operations at full size. */
    def warm(ctx: Ctx): Unit = load(ctx, 0)
    def load(ctx: Ctx, i: Int): Unit = {
      if (roots != null) { Util.deleteRecursively(roots._1); Util.deleteRecursively(roots._2) }
      data = Corpus.generate(ctx.seed, ctx.size)
      data.grams
      roots = (ctx.dir(s"corpus-$i"), ctx.dir(s"index-$i"))
      Corpus.load(ctx, data, roots._1.getPath, roots._2.getPath)
    }
    override def prime(ctx: Ctx): Unit = Corpus.prime(ctx, data, roots._1.getPath, roots._2.getPath)
    def measure(ctx: Ctx): (Long, Long) = {
      Corpus.round(ctx, data, roots._1.getPath, roots._2.getPath, "r1")
      (Util.bytesUnder(Seq(roots._1, roots._2)),
        data.docs.map(d => 8L + Util.utf8(d.text) + 4L * d.emb.length).sum)
    }
  }
}

/** The benchmark: one JVM runs one workload — set-up, then a fixed amount
  * of measured work — checks every output, and prints one JSON line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workload.all.contains(name),
      s"unknown workload $name (${Workload.all.keys.toSeq.sorted.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val size = Size(opts.getOrElse("size", "full"))
    val work = new File(opts.getOrElse("work", "bench-work")).getAbsoluteFile
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors

    // set-up times are wall times less steal, like every timing; the
    // session's share is sampled from here, just after the JVM started
    val steal0 = Steal.sample()
    val spark = Sessions.local("graftbench", cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 *
      (1 - Steal.share(steal0, Steal.sample()))
    val tracer = if (trace) Some(new Tracer(spark, System.nanoTime())) else None
    val ctx = new Ctx(spark, work, seed, size, tracer)
    var exit = 0
    try {
      // ---- set-up: warm-up on throwaway roots, then the load ----
      val warmS = Steal.seconds {
        val warm = new Ctx(spark, new File(work, "warm"), seed + 1, Size.warm, None)
        Workload.all(name)().warm(warm)
        ctx.problems ++= warm.problems.map("warm-up: " + _)
        Util.deleteRecursively(warm.work)
      }
      // the load is done three times on fresh roots; the last is measured
      val w = Workload.all(name)()
      val loads = (1 to 3).map(i => Steal.seconds(w.load(ctx, i)))
      val primeS = Steal.seconds(w.prime(ctx))
      val setupS = sessionS + warmS + primeS + Util.median(loads)

      // ---- measured phase: a fixed amount of work ----
      val heap = new HeapPeak
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val threads = ManagementFactory.getThreadMXBean
      threads.resetPeakThreadCount()
      heap.start()
      val tm = System.nanoTime()
      val (disk, live) = w.measure(ctx)
      val measureS = (System.nanoTime() - tm) / 1e9
      val heapMb = heap.stopMb()
      val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
      val threadsPeak = threads.getPeakThreadCount

      def p50(call: String) = Util.median(ctx.named(call).map(_.ms))
      val e2e: Metrics.Out = scala.collection.mutable.LinkedHashMap(
        "setup_s" -> ((setupS, "s")),
        "mem.peak_heap_mb" -> ((heapMb, "MB")),
        "storage.bytes_per_live_byte" -> ((disk.toDouble / live, "ratio")),
        "batch_items_per_s" -> ((w.items / (p50(w.batch) / 1000), "1/s")),
        "query_ms.p50" -> ((p50(w.query), "ms")))
      val env = Seq(
        "git_commit" -> Util.jsonStr(opts.getOrElse("commit", "unknown")),
        "workload" -> Util.jsonStr(name),
        "seed" -> seed.toString,
        "size" -> Util.jsonStr(size.name),
        "nproc" -> cores.toString,
        "task_threads" -> cores.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "fast_local_fs" -> (sys.env.getOrElse("SPARK_GRAFT_FAST_LOCAL_FS", "1") != "0").toString,
        "trace" -> trace.toString,
        "seconds" -> opts.getOrElse("seconds", "0"),
        "java" -> Util.jsonStr(System.getProperty("java.version")),
        "spark" -> Util.jsonStr(spark.version))
      println("env " + env.map { case (k, v) => s"${Util.jsonStr(k)}: $v" }.mkString("{", ", ", "}"))
      System.err.println(f"graftbench: session $sessionS%.2f s, warm-up $warmS%.2f s, " +
        s"loads ${loads.map(x => f"$x%.2f").mkString(" ")} s, " +
        f"prime $primeS%.2f s (less steal); measured phase $measureS%.2f s wall")
      ctx.calls.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, cs) =>
        System.err.println(f"graftbench: call $n%-28s n=${cs.size}%3d " +
          f"median ${Util.median(cs.map(_.ms).toSeq)}%9.1f ms: " +
          cs.map(c => f"${c.wallMs}%.0f(${100 * c.stealShare}%.1f%%)").mkString(" "))
      }
      ctx.problems.take(20).foreach(p => System.err.println(s"check failed: $p"))
      val metrics = tracer match {
        case None => e2e
        case Some(tr) =>
          println("traced_end_to_end " + Metrics.json(e2e))
          tr.writeSpans(new File(opts.getOrElse("spans", new File(work, "spans.jsonl").getPath)))
          Metrics.perLayer(ctx, gcMs.toDouble, threadsPeak.toDouble)
      }
      println(s"""{"correct": ${ctx.problems.isEmpty}, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": ${Metrics.json(metrics)}}""")
    } catch {
      case e: Throwable =>
        System.err.println(s"graftbench: run aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      Util.deleteRecursively(work)
      spark.stop()
    }
    sys.exit(exit)
  }
}
