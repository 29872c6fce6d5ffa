package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The skeleton every streaming near-dup gate binds to (SimHash, MinHash,
  * pHash, audio fingerprint, video keyframes, embeddings): admit an item
  * iff no entry remembered in one of its routing buckets is close to it.
  * A gate supplies only its routing keys (the LSH bands of a signature,
  * or the sub-fingerprint values), the entry a bucket remembers and the
  * closeness test; state shards on the routing key, never a global list.
  *
  * SEMANTICS — transitive chains, matching the batch connected
  * components: a rejected item is still remembered by the buckets that
  * did not flag it, so a later item close to a REJECTED one (but not to
  * any admitted one) is also rejected, and near-dup chains collapse to
  * one admitted representative. `dup_of` is therefore a union-find-style
  * PARENT pointer (the matched prior, which may itself be rejected), not
  * the cluster root; run the batch components over the (id, dup_of)
  * pairs for canonical cluster ids. Within a micro-batch a bucket decides
  * its items in id order, so the smaller of two in-flight near-dups wins
  * (deterministic under replays). An item with no keys (no shingles, an
  * undecodable payload) can never pair: it is admitted, remembered
  * nowhere, and casts one vote.
  */
object BandGate {

  /** What a bucket remembers: anything with the item's id. */
  trait Item { def id: Long }

  /** One bucket's vote on one item; `nVotes` = the item's routing keys
    * (1 for a keyless item), the combiner's completion count.
    */
  case class Vote(id: Long, dupOf: Long, isDup: Boolean, nVotes: Int)
  case class Verdict(id: Long, is_dup: Boolean, dup_of: Long)
  case class Bucket[E](entries: List[E])

  /** Per-key votes: `route` maps an item to its routing keys and bucket
    * entry, `close(prior, entry)` decides a dup. Each bucket keeps its
    * `maxPerBucket` most recent admitted-by-it entries (drop-oldest, the
    * recall/space dial); combine with [[admittedAppend]].
    */
  def votes[I, K: TypeTag, E <: Item : TypeTag](items: Dataset[I],
      maxPerBucket: Int)(route: I => (Seq[K], E))(
      close: (E, E) => Boolean): Dataset[Vote] = {
    val spark = items.sparkSession
    import spark.implicits._
    items.flatMap { i =>
      val (ks, e) = route(i)
      val keys = ks.distinct
      if (keys.isEmpty) Seq((Option.empty[K], e, 1))
      else keys.map(k => (Option(k), e, keys.size))
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[Bucket[E], Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Option[K], rows: Iterator[(Option[K], E, Int)],
         state: GroupState[Bucket[E]]) =>
          if (key.isEmpty)
            rows.map(r => Vote(r._2.id, r._2.id, isDup = false, 1)).toList.iterator
          else {
            var seen = state.getOption.fold(List.empty[E])(_.entries)
            val out = rows.toList.sortBy(_._2.id).map { case (_, e, n) =>
              seen.find(close(_, e)) match {
                case Some(prior) => Vote(e.id, prior.id, isDup = true, n)
                case None =>
                  seen = (e :: seen).take(maxPerBucket)
                  Vote(e.id, e.id, isDup = false, n)
              }
            }
            state.update(Bucket(seen))
            out.iterator
          }
      }
  }

  /** Append-mode combiner: one verdict per item once all its `nVotes`
    * votes arrived — a dup iff any bucket voted dup, `dup_of` the
    * smallest dup parent. [[votes]] emits an item's votes in one
    * micro-batch, so state holds only items in flight (a vote count and
    * the smallest parent so far) and clears as each verdict emits.
    */
  def admittedAppend(votes: Dataset[Vote]): Dataset[Verdict] = {
    val spark = votes.sparkSession
    import spark.implicits._
    votes.groupByKey(_.id)
      .flatMapGroupsWithState[(Int, Long), Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Vote], state: GroupState[(Int, Long)]) =>
          val vs = rows.toList
          val (n0, parent0) = state.getOption.getOrElse((0, Long.MaxValue))
          val n = n0 + vs.size
          val parent = (parent0 :: vs.filter(_.isDup).map(_.dupOf)).min
          if (n >= vs.head.nVotes) {
            state.remove()
            val dup = parent != Long.MaxValue
            Iterator.single(Verdict(id, dup, if (dup) parent else id))
          } else {
            state.update((n, parent))
            Iterator.empty
          }
      }
  }

  /** Verdicts in the [[CurateStream.GateVerdict]] ledger shape (`reason`
    * for a dup, "admitted" otherwise), so every gate writes the same
    * per-document accounting sink as the text funnel.
    */
  def ledger(verdicts: Dataset[Verdict],
             reason: String): Dataset[CurateStream.GateVerdict] = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    verdicts.map(v =>
      if (v.is_dup) CurateStream.GateVerdict(v.id, admitted = false,
        reason = reason, dup_of = v.dup_of)
      else CurateStream.GateVerdict(v.id, admitted = true,
        reason = "admitted", dup_of = v.id))
  }
}
