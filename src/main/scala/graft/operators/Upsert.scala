package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Merge/upsert semantics of the reference's conditional DynamoDB put
  * (`attribute_not_exists(Id)`, /root/reference/index.js:352-375: on
  * conflict the existing station row is kept untouched).
  *
  * Both forms are one anti join on the key ([[absentRows]]); with AQE the
  * anti join broadcasts when the key set is small. At 100 TB the target
  * side should be bucketed/partitioned by key so only matching partitions
  * are scanned — the ops take plain DataFrames so callers control that.
  *
  * Incoming must be unique per key (dedup first with [[Dedup]] if not) —
  * same contract as the reference, which processes a de-facto-unique
  * station list row by row.
  */
object Upsert {

  /** The incoming rows whose key is absent from `target` — the anti-join
    * half of both forms. An append-only table applies insert-if-absent by
    * appending exactly these rows, reading nothing of the target but its
    * keys. Repeated target keys cannot change an anti join's output, so
    * the key side is not deduplicated (that would cost a shuffle). */
  def absentRows(target: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(target.select(keys.map(col): _*), keys, "left_anti")

  /** A7 insert-if-absent: existing target rows win; only unseen-key
    * incoming rows are appended. */
  def insertIfAbsent(target: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(absentRows(target, incoming, keys))

  /** Type-1 upsert: incoming rows win; target rows survive only where the
    * key is absent from incoming. */
  def lastWins(target: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.unionByName(absentRows(incoming, target, keys))
}
