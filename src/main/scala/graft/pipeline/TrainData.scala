package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raw documents → committed training shards, one call — the capstone
  * composition of the pipeline's pieces, wired the way a pretraining
  * data drop actually ships:
  *
  *   [[Curate.funnel]] (the gate funnel, ingest through
  *   decontamination) → survivors with their FINAL text →
  *   [[graft.operators.Bpe.encodeCorpusGpt2]] (GPT-2 pretokens,
  *   byte-level BPE under the SHIPPED merge table) →
  *   [[graft.operators.Curation.packTokenIdsWithSpans]] (EOS-separated
  *   fixed-length id sequences with doc spans) →
  *   [[Shards.writePackedShards]] (round-robin balanced, meta commit
  *   marker).
  *
  * Nothing new is computed here — composition only, so every stage keeps
  * its own spec/oracle coverage and its own scale argument (the funnel's
  * gates are bucketed equi joins, the tokenizer pass is shuffle-free,
  * packing's only coordination is the bounded triangular offset join,
  * the shard write is one hash shuffle). Only what the shards read runs:
  * no forced rejection ledger, no re-join against the input docs, and
  * not [[Curate.run]]'s count-based `chunks` report tail — `stageCounts`
  * ends at `decontaminated`.
  */
object TrainData {

  /** `merges` — the shipped tokenizer table ([[graft.operators.Bpe
    * .readMergeTable]]); `eosId < 0` derives the first free id
    * (256 + |merges|). `batchId` follows the shard writer's contract
    * ("base" = static snapshot; anything else appends a batch).
    */
  case class ShardBuildConfig(merges: Seq[(String, String)],
                              seqLen: Int = 1024, eosId: Int = -1,
                              numShards: Int = 16,
                              batchId: String = "base",
                              curate: CurateConfig = CurateConfig())

  case class ShardBuildResult(stageCounts: Seq[(String, Long)],
                              nSequences: Long, nTokens: Long)

  def buildShards(docs: DataFrame, idCol: String, textCol: String,
                  benchmark: DataFrame, benchTextCol: String,
                  dir: String, cfg: ShardBuildConfig): ShardBuildResult = {
    val eos = if (cfg.eosId >= 0) cfg.eosId else 256 + cfg.merges.length
    val f = Curate.funnel(docs, idCol, textCol, benchmark, benchTextCol,
      cfg.curate, None, None, None)
    try {
      val enc = graft.operators.Bpe.encodeCorpusGpt2(f.survivors
        .select(col(idCol).cast("long").as("id"), col(textCol)), "id",
        textCol, cfg.merges)
      // spans variant: shipped shards carry doc-span attribution — the
      // attention-mask boundary info AND the provenance the
      // right-to-be-forgotten sweep ([[Shards.retract]]) serves from
      val packed = graft.operators.Curation.packTokenIdsWithSpans(enc,
          "id", "ids", cfg.seqLen, eos)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Shards.writePackedShards(packed, dir, cfg.numShards, cfg.batchId)
        val agg = packed.agg(count(lit(1)).as("ns"),
          coalesce(sum("n_tokens"), lit(0L)).as("nt")).head()
        ShardBuildResult(f.log.counts.toSeq, agg.getLong(0), agg.getLong(1))
      } finally packed.unpersist()
    } finally f.survivors.unpersist()
  }
}
