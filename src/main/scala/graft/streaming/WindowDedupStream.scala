package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming counterpart of `Curation.duplicateWindows` — cross-document
  * SUBSTRING dedup over an unbounded (id, text) stream. Every w-token
  * window claims its content hash in the state store, first arrival wins
  * (ordered by (doc, pos) WITHIN a batch — batch parity for in-order
  * ingest); later occurrences anywhere in the stream are duplicates. One
  * [[WindowDedupStream.Verdict]] per input doc reports its window counts
  * and duplicate fraction — the per-doc signal an ingest gate thresholds
  * on (a crawl re-fetching a boilerplate-heavy site sees its docs' dup
  * fraction spike long before whole-doc dedup would catch anything).
  *
  * Divergence from the batch form, by design: the batch canonical is the
  * GLOBAL min (doc, pos); a stream cannot see the future, so its
  * canonical is first-ARRIVAL (min (doc, pos) within each batch). For
  * id-ordered ingest the two agree (parity spec).
  *
  * Scale shape: window explode is per-row; claims shuffle once on the
  * window hash (state = one Long per distinct window content — the same
  * per-content-tiny budget [[StatefulDedup]] carries, sharded by the
  * shuffle); per-doc verdicts group once on the doc id with NO retained
  * state (a doc's windows all live in its own micro-batch, so the group
  * emits immediately and stores nothing). Short docs (< w tokens) bypass
  * the state entirely — no per-doc state leak for degenerate input.
  */
object WindowDedupStream {

  case class Occ(id: Long, pos: Int)
  case class Owner(id: Long, pos: Int)
  case class Verdict(id: Long, n_windows: Long, n_dup_windows: Long,
                     dup_frac_e4: Long)

  /** Executor-side replica of the batch window hash: full md5 hex of the
    * space-joined w-token slice (`Curation.duplicateWindows` uses
    * `md5(array_join(slice(...), ' '))`).
    */
  def windowHashLocal(words: Array[String], from: Int, w: Int): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(words.slice(from, from + w).mkString(" ").getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Per-doc duplicate-window verdicts over the stream. */
  def windowVerdicts(docs: Dataset[(Long, String)], w: Int): Dataset[Verdict] = {
    require(w >= 1, "window must be at least 1 token")
    import docs.sparkSession.implicits._

    // short docs never enter the claim state: verdict directly
    val shorts: Dataset[Verdict] = docs.flatMap { case (id, text) =>
      val n = graft.operators.Dedup.normalizeWordsLocal(text).length
      if (n < w) Some(Verdict(id, 0L, 0L, 0L)) else None
    }

    val occurrences: Dataset[(String, Occ)] = docs.flatMap {
      case (id, text) =>
        val ws = graft.operators.Dedup.normalizeWordsLocal(text)
        if (ws.length < w) Seq.empty[(String, Occ)]
        else (0 to ws.length - w).map(i =>
          (windowHashLocal(ws, i, w), Occ(id, i + 1)))
    }

    // claim stage: state per distinct window content = its owner; every
    // occurrence comes back flagged (doc id, isDup)
    val flagged: Dataset[(Long, Boolean)] = occurrences
      .groupByKey(_._1)
      .flatMapGroupsWithState[Owner, (Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Occ)],
         state: GroupState[Owner]) =>
          var owner = state.getOption
          rows.toSeq.map(_._2).sortBy(o => (o.id, o.pos)).map { o =>
            owner match {
              case Some(_) => (o.id, true)
              case None =>
                owner = Some(Owner(o.id, o.pos))
                state.update(owner.get)
                (o.id, false)
            }
          }.iterator
      }

    // verdict stage: one row per doc per batch (all of a doc's windows
    // live in its batch); no state retained — the group emits and forgets
    val verdicts: Dataset[Verdict] = flagged
      .groupByKey(_._1)
      .flatMapGroupsWithState[Owner, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[(Long, Boolean)],
         _: GroupState[Owner]) =>
          var n = 0L; var dup = 0L
          rows.foreach { r => n += 1; if (r._2) dup += 1 }
          Iterator.single(Verdict(id, n, dup,
            if (n == 0) 0L else math.floor(dup * 10000.0 / n + 0.5).toLong))
      }

    verdicts.unionByName(shorts)
  }
}
