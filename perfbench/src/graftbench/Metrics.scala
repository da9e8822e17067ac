package graftbench

import scala.collection.mutable

/** Turns a run's timed calls into the named metrics it prints. */
object Metrics {
  type Out = mutable.LinkedHashMap[String, (Double, String)]

  def json(m: Out): String = m.map { case (k, (v, u)) =>
    s"${Util.jsonStr(k)}: {${Util.jsonStr("value")}: ${Util.jsonNum(v)}, ${Util.jsonStr("unit")}: ${Util.jsonStr(u)}}"
  }.mkString("{", ", ", "}")

  /** Median over the calls named `name`; 0 when the workload makes no
    * such call (every traced run prints every per-layer metric). */
  private def med(ctx: Ctx, name: String)(f: Call => Double): Double = {
    val xs = ctx.named(name)
    if (xs.isEmpty) 0.0 else Util.median(xs.map(f))
  }
  private def wall(ctx: Ctx, name: String): Double = med(ctx, name)(_.ms)

  def perLayer(ctx: Ctx, gcMs: Double, threadsPeak: Double): Out = {
    val m: Out = mutable.LinkedHashMap.empty
    def c(call: Call): Counts = call.counts.get
    def put(name: String, unit: String, v: Double): Unit = m(name) = (v, unit)
    def ms(call: String, key: String): Unit = put(s"$key.ms_p50", "ms", wall(ctx, call))
    def cnt(call: String, key: String, field: String, unit: String)(f: Call => Double): Unit =
      put(s"$key.$field", unit, med(ctx, call)(f))
    def jobs(call: String, key: String): Unit = cnt(call, key, "jobs", "count")(c(_).jobs.toDouble)
    def driver(call: String, key: String): Unit =
      cnt(call, key, "driver_ms", "ms")(x => x.wallMs - c(x).jobMs)
    def task(call: String, key: String): Unit = cnt(call, key, "task_ms", "ms")(c(_).taskMs)
    def out(call: String, key: String, field: String, unit: String): Unit =
      cnt(call, key, field, unit)(_.out(field))

    val run = "pipeline.run"
    ms(run, run); jobs(run, run); driver(run, run); task(run, run)
    cnt(run, run, "shuffle_bytes", "B")(c(_).shuffleBytes)
    cnt(run, run, "input_bytes", "B")(c(_).inputBytes)
    out(run, run, "bytes_written", "B"); out(run, run, "files_written", "count")
    cnt(run, run, "rows_written_per_input_row", "ratio")(x => c(x).recordsWritten / x.out("listed"))
    val asof = "pipeline.asof"
    ms(asof, asof); jobs(asof, asof)
    cnt(asof, asof, "files_scanned", "count")(c(_).filesScanned)
    cnt(asof, asof, "input_bytes", "B")(c(_).inputBytes)

    ms("sources.snapshot", "sources.snapshot")
    out("sources.log", "sources.log", "manifests", "count")

    val nd = "operators.neardup"
    ms(nd, nd); jobs(nd, nd); task(nd, nd)
    cnt(nd, nd, "shuffle_bytes", "B")(c(_).shuffleBytes)
    val cpp = ctx.named(nd).flatMap(_.out.get("candidates_per_pair"))
    put(s"$nd.candidates_per_pair", "ratio", if (cpp.isEmpty) 0.0 else Util.median(cpp))
    Seq("ngrams", "minhash", "jaccard").foreach { f =>
      out(s"functions.$f", s"functions.$f", "rows_per_s", "1/s")
    }
    val s = "operators.ivfpq_search"
    jobs(s, s); task(s, s)
    cnt(s, s, "files_scanned", "count")(c(_).filesScanned)
    out(s, s, "recall_at_k", "ratio")
    put("operators.ivfpq_build.ms", "ms", wall(ctx, "operators.ivfpq_build"))
    val t = "operators.topk_exact"
    ms(t, t); task(t, t)
    out("functions.cosine", "functions.cosine", "rows_per_s", "1/s")

    put("jvm.gc_ms", "ms", gcMs)
    put("jvm.threads_peak", "count", threadsPeak)
    m
  }
}
