package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources for the two reference endpoints (A2 list scan + A4 per-key
  * detail lookup, /root/reference/index.js:81-100,109-144).
  *
  * The environment is zero-egress, so the HTTP implementation is an
  * interface; [[FileBackedSource]] reads the same payload shapes from
  * local JSON, and [[LookupEnricher]] runs the per-key fan-out exactly the
  * way an HTTP client pool would: partition-parallel, one client per
  * partition, error-tolerant (A14) — replacing the reference's sequential
  * one-request-at-a-time loop (SURVEY §3 boundary #3, the dominant cost).
  */
trait StationSource extends Serializable {

  /** ENDPOINT_01: station stubs as a DataFrame [id: long, nome: string]. */
  def stationStubs(spark: SparkSession): DataFrame

  /** ENDPOINT_02 analog: per-partition detail fetcher. Returns the raw
    * JSON payload for a station id, or None (fetch failure / missing). */
  def detailFetcher(): Long => Option[String]
}

/** Reads fixture payloads from local files (same shapes as the live API). */
final class FileBackedSource(rawListPath: String, detailsJsonlPath: String)
    extends StationSource {

  /** The A2 list endpoint as a real scan node: the DSv2 `rest-json`
    * source ([[graft.sources.RestJsonSource]]) does the A3
    * projection+rename (index.js:88-91) inside the reader, with id
    * pushdown and column pruning available to the engine. */
  override def stationStubs(spark: SparkSession): DataFrame =
    spark.read.format("rest-json").option("path", rawListPath).load()

  // Loaded once per executor lazily; a live impl would open an HTTP client.
  @transient private lazy val detailMap: Map[Long, String] = {
    val src = scala.io.Source.fromFile(detailsJsonlPath, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      // minimal "id" extraction; payload stays opaque JSON
      val id = """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(line)
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"fixture line without id: $line"))
      id -> line
    }.toMap
    finally src.close()
  }

  override def detailFetcher(): Long => Option[String] = detailMap.get _
}

/** Operational envelope for the per-key fan-out: the semantics a
  * production HTTP fan-out needs that the reference's sequential
  * one-request-at-a-time loop (index.js:112-141) lacks.
  *
  * @param maxInFlight  bounded concurrent fetches per partition (the
  *                     "connection pool size"); total cluster concurrency
  *                     is partitions × maxInFlight — size both together
  * @param maxAttempts  total tries per key (1 initial + retries); only
  *                     thrown errors are retried — a clean `None` from
  *                     the service means "missing", not "transient"
  * @param backoffMs    base exponential backoff: sleep backoffMs << (attempt-1)
  * @param maxRatePerSec per-partition token-bucket rate limit; 0 = off */
final case class EnrichConfig(
    maxInFlight: Int = 8,
    maxAttempts: Int = 3,
    backoffMs: Long = 50,
    maxRatePerSec: Double = 0.0)

/** Blocking token bucket (one per partition, shared by that partition's
  * fetch threads). Spacing-based: at most one permit per 1/rate seconds. */
final class RateLimiter(permitsPerSec: Double) extends Serializable {
  private val intervalNanos =
    if (permitsPerSec <= 0) 0L else (1e9 / permitsPerSec).toLong
  private var nextFreeNanos = 0L
  def acquire(): Unit = if (intervalNanos > 0) {
    val waitNanos = synchronized {
      val now = System.nanoTime()
      val at = math.max(now, nextFreeNanos)
      nextFreeNanos = at + intervalNanos
      at - now
    }
    if (waitNanos > 0)
      Thread.sleep(waitNanos / 1000000, (waitNanos % 1000000).toInt)
  }
}

/** A4 as an operator: fan-out lookup join of a keyed DataFrame against a
  * remote per-key service. `mapPartitions` gives partition-parallel I/O
  * with one fetcher (connection pool) per partition; within a partition a
  * bounded pipeline keeps up to [[EnrichConfig.maxInFlight]] fetches in
  * flight (ordered, so memory stays O(maxInFlight)); thrown fetch errors
  * retry with exponential backoff, and keys still failing after
  * [[EnrichConfig.maxAttempts]] yield null payloads that flow to the
  * quarantine count (A14) instead of killing the run. */
object LookupEnricher {

  private val pools = new java.util.concurrent.atomic.AtomicLong

  /** Daemon fetch threads named `graft-enrich-<pool>-<n>`, one pool per
    * partition and evaluation, so a thread dump attributes them. */
  private def threadFactory(): java.util.concurrent.ThreadFactory = {
    val pool = pools.incrementAndGet()
    val n = new java.util.concurrent.atomic.AtomicInteger
    r => {
      val t = new Thread(r, s"graft-enrich-$pool-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  def enrich(stubs: DataFrame, idCol: String, source: StationSource,
      cfg: EnrichConfig = EnrichConfig()): DataFrame = {
    import stubs.sparkSession.implicits._
    val withPayload = stubs
      .select(col(idCol).cast("long").as("id"), col("nome"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val fetch = source.detailFetcher() // one "client" per partition
        val limiter = new RateLimiter(cfg.maxRatePerSec)
        def fetchWithRetry(id: Long): String = {
          var attempt = 1
          while (true) {
            limiter.acquire()
            try return fetch(id).orNull
            catch {
              case scala.util.control.NonFatal(_) =>
                if (attempt >= cfg.maxAttempts) return null // A14 quarantine
                Thread.sleep(cfg.backoffMs << (attempt - 1))
                attempt += 1
            }
          }
          null // unreachable
        }
        if (cfg.maxInFlight <= 1) {
          it.map { case (id, nome) => (id, nome, fetchWithRetry(id)) }
        } else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.maxInFlight,
            LookupEnricher.threadFactory())
          // kill the pool when the task ends, even on abort mid-iterator
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
          val pending =
            new java.util.ArrayDeque[(Long, String, java.util.concurrent.Future[String])]()
          new Iterator[(Long, String, String)] {
            private def fill(): Unit =
              while (pending.size < cfg.maxInFlight && it.hasNext) {
                val (id, nome) = it.next()
                pending.add((id, nome,
                  pool.submit(() => fetchWithRetry(id))))
              }
            override def hasNext: Boolean = {
              fill()
              val more = !pending.isEmpty
              if (!more) pool.shutdown()
              more
            }
            override def next(): (Long, String, String) = {
              fill()
              val (id, nome, f) = pending.poll()
              (id, nome, f.get())
            }
          }
        }
      }
      .toDF("id", "nome", "__payload")
    withPayload
      .withColumn("__parsed",
        from_json(col("__payload"), FuelSchemas.rawDetail))
      .select(col("id"), col("nome"), col("__parsed.resultado").as("detail"))
  }
}
