package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming SEMANTIC near-dup gate — the unbounded-stream half of the
  * batch SemDeDup stage (`Curation.semDedupVictims`), bound to
  * [[BandGate]]: admit a document iff no remembered document's embedding
  * is within `thresholdE4` cosine.
  *
  * Routing keys: RP-LSH over the deterministic
  * [[graft.operators.Similarity.hyperplanes]] (16 sign bits), banded 4×4
  * by [[NearDupStream.bandKeys]] — two signatures within Hamming 3 share
  * a band by pigeonhole. The entry is the doc's vector and closeness is
  * the EXACT cosine (admission is never decided by the sketch alone);
  * state per bucket is `maxPerBucket` × dim doubles — size `dim` and the
  * cap together (a 64-dim bucket of 1024 is ~0.5 MiB; band keys shard
  * across the store).
  *
  * Embeddings arrive IN the doc (`Doc.v`) — produce them statelessly
  * with [[graft.operators.TextStats.hashEmbedExpr]] (bit-identical to
  * the batch embed, spec-pinned) or join an upstream model's output.
  */
object EmbedDupStream {

  case class Doc(id: Long, v: Seq[Double]) extends BandGate.Item

  /** 16 sign bits of `v` against the deterministic hyperplanes — the
    * stream twin of [[graft.operators.Similarity.rpLshBucket]]'s bit
    * string, packed into a Long.
    */
  def signBits16(v: Seq[Double], planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      val d = p.zip(v).map { case (a, b) => a * b }.sum
      if (d >= 0) acc | (1L << i) else acc
    }

  def cosine(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0 || nb == 0) None else Some(dot / (na * nb))
  }

  /** Per-band votes for a stream of (id, embedding): route on the sign
    * signature, verify by exact cosine ≥ thresholdE4/10⁴. Zero-norm
    * vectors carry no semantic content (the batch stage's exclusion):
    * they are filtered out before the gate and get no verdict here —
    * the caller admits them.
    */
  def bandVotes(docs: Dataset[Doc], dim: Int, thresholdE4: Long = 9500L,
                maxPerBucket: Int = 1024): Dataset[BandGate.Vote] = {
    require(thresholdE4 >= 0 && thresholdE4 <= 10000)
    val planes = graft.operators.Similarity.hyperplanes(16, dim)
    val th = thresholdE4 / 10000.0
    BandGate.votes(docs.filter(d => !d.v.forall(_ == 0.0)), maxPerBucket)(
      d => (NearDupStream.bandKeys(signBits16(d.v, planes)), d))(
      (p, d) => cosine(p.v, d.v).exists(_ >= th))
  }

  /** [[BandGate.admittedAppend]] as (id, admitted, dup_of) rows. */
  def admittedAppend(
      votes: Dataset[BandGate.Vote]): Dataset[(Long, Boolean, Long)] = {
    val spark = votes.sparkSession
    import spark.implicits._
    BandGate.admittedAppend(votes).map(v => (v.id, !v.is_dup, v.dup_of))
  }
}
