package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming dedup: emit each key's FIRST arrival only, holding
  * per-key seen-state in the state store (`flatMapGroupsWithState`). This is
  * the unbounded-stream form of exact dedup (OP-36 / q21): the batch form
  * hashes and groups; the stream form cannot re-scan, so it remembers.
  *
  * State is per-key-tiny (one boolean + timestamp) and partitioned by the
  * shuffle on the key — at cluster scale the state store shards across
  * executors; `ProcessingTimeTimeout` bounds unbounded key growth by
  * expiring idle keys (re-admitting a key after expiry is the documented
  * at-least-once trade-off; pair with the ledger anti-join sink
  * [[InventoryStream.dedupAppendSink]] for exactly-once effect).
  */
object StatefulDedup {

  case class Seen(firstSeenMs: Long)

  /** First-arrival state that also remembers WHO was first — the tagged
    * variant's lineage pointer.
    */
  case class SeenId(firstId: Long)

  /** Tagged first-per-key: EVERY row comes back, first arrivals with
    * `kept = true` and later arrivals tagged with the first arrival's id
    * — the form a curation ledger needs (a dropped doc must leave a
    * lineage record, not vanish; [[firstPerKey]] is the emit-survivors
    * form). State per key is one Long. `idOf` extracts the lineage id
    * from the payload.
    */
  def firstPerKeyTagged[K: org.apache.spark.sql.Encoder,
                        V: org.apache.spark.sql.Encoder](
      ds: Dataset[(K, V)], idOf: V => Long)(
      implicit tupleEnc: org.apache.spark.sql.Encoder[(K, V)],
      outEnc: org.apache.spark.sql.Encoder[(K, V, Boolean, Long)],
      seenEnc: org.apache.spark.sql.Encoder[SeenId])
      : Dataset[(K, V, Boolean, Long)] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[SeenId, (K, V, Boolean, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: K, rows: Iterator[(K, V)], state: GroupState[SeenId]) =>
          var first = state.getOption.map(_.firstId)
          // min-id-first within a batch: parity with the batch form, which
          // keeps the smallest id per content group (BandGate sorts
          // its buckets the same way)
          val out = rows.toSeq.sortBy(r => idOf(r._2)).map { case (_, v) =>
            first match {
              case Some(f) => (key, v, false, f)
              case None =>
                val id = idOf(v)
                first = Some(id)
                state.update(SeenId(id))
                (key, v, true, id)
            }
          }
          out.iterator
      }

  /** Keep the first row per key from a keyed stream. `timeoutMs` < 0 → no
    * timeout (state lives for the query's lifetime; NoTimeout mode — a
    * ProcessingTimeTimeout query schedules perpetual empty batches to fire
    * timers, which also never quiesces `processAllAvailable`).
    */
  def firstPerKey[K: org.apache.spark.sql.Encoder,
                  V: org.apache.spark.sql.Encoder](
      ds: Dataset[(K, V)], timeoutMs: Long = -1L)(
      implicit tupleEnc: org.apache.spark.sql.Encoder[(K, V)],
      seenEnc: org.apache.spark.sql.Encoder[Seen]): Dataset[(K, V)] = {
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Seen, (K, V)](
        OutputMode.Append(), timeoutConf) {
        (key: K, rows: Iterator[(K, V)], state: GroupState[Seen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            Iterator.empty // key already emitted — drop re-deliveries
          } else {
            state.update(Seen(System.currentTimeMillis()))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            rows.take(1) // first arrival wins; rest of the batch is dup
          }
      }
  }
}
