package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe
import graft.pipeline.{CurateConfig, Shards, TrainData}
import graft.pipeline.TrainData.ShardBuildConfig

/** Raw docs → committed training shards: the composed pipeline drops
  * rejected docs, tokenizes exactly the admitted ones, and the shard
  * store's token stream reassembles them in id order.
  */
class TrainDataSpec extends SparkSpec {
  import spark.implicits._

  private def goodText(salt: String): String =
    s"the table row scan key " +
      (1 to 24).map(i => s"$salt$i").mkString(" ") + " the a"

  private val merges = Bpe.DemoByteMerges
  private val eos = 256 + merges.length

  private def encLocal(t: String): Seq[Int] = {
    val table = merges.toVector
    val ranks = table.zipWithIndex.map { case (m, i) => m -> i }.toMap
    val vocab = Bpe.byteVocabIds(merges)
    Bpe.gpt2PretokensLocal(t).flatMap(w =>
      Bpe.encodeOneSeeded(Bpe.byteSymbols(w), table, ranks).map(vocab))
  }

  private def readStream(dir: String): Seq[Int] =
    Shards.readPackedShards(spark, dir)
      .select("seq_id", "ids").as[(Long, Seq[Int])].collect()
      .sortBy(_._1).flatMap(_._2).toSeq

  test("buildShards: admitted docs only, exact token stream, committed " +
      "read-back") {
    // 1 admitted; 2 exact-dup of 1 (dropped); 3 admitted; 5 too short
    // for the quality gate (dropped)
    val docs = Seq(1L -> goodText("one"), 2L -> goodText("one"),
      3L -> goodText("two"), 5L -> "junk").toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_traindata").toString
    val cfg = ShardBuildConfig(merges, seqLen = 7, numShards = 4,
      curate = CurateConfig())
    val res = TrainData.buildShards(docs, "doc_id", "text",
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", dir, cfg)
    // funnel accounting carried through: 4 in, junk gone at quality,
    // the exact dup gone at dedup -> 2 kept
    assert(res.stageCounts.toMap.apply("exact_dedup") == 2L)
    // the shard store's stream = encode(doc1) ++ EOS ++ encode(doc3)
    // ++ EOS, cut at seqLen
    val want = encLocal(goodText("one")) ++ Seq(eos) ++
      encLocal(goodText("two")) ++ Seq(eos)
    assert(res.nTokens == want.length.toLong)
    val back = Shards.readPackedShards(spark, dir)
      .select("seq_id", "ids").as[(Long, Seq[Int])].collect()
      .sortBy(_._1)
    assert(back.length == res.nSequences)
    assert(back.flatMap(_._2).toSeq == want)
    back.dropRight(1).foreach(s => assert(s._2.length == 7))
  }

  test("buildShards: shards carry the funnel's FINAL text, not the " +
      "input's (a line the C4 rule drops is not tokenized)") {
    def c4Line(salt: String): String = goodText(salt) + "."
    val cleaned1 = Seq("one", "two", "three").map(c4Line).mkString("\n")
    // "Accept all cookies" has no terminal punctuation: C4 drops the line
    val raw1 = Seq(c4Line("one"), c4Line("two"), "Accept all cookies",
      c4Line("three")).mkString("\n")
    val text3 = Seq("four", "five", "six").map(c4Line).mkString("\n")
    val docs = Seq(1L -> raw1, 3L -> text3).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_traindata_c4").toString
    val res = TrainData.buildShards(docs, "doc_id", "text",
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", dir,
      ShardBuildConfig(merges, seqLen = 11, numShards = 4,
        curate = CurateConfig(c4Clean = true)))
    assert(res.stageCounts.toMap.apply("decontaminated") == 2L)
    val want = encLocal(cleaned1) ++ Seq(eos) ++ encLocal(text3) ++ Seq(eos)
    assert(encLocal(raw1) != encLocal(cleaned1))
    assert(res.nTokens == want.length.toLong)
    assert(readStream(dir) == want)
    // the report-only chunk/pack tail does not run
    assert(res.stageCounts.last._1 == "decontaminated")
  }
}
