package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Semantic (embedding) index — the EIGHTH index-lifecycle member — and
  * the embedding increment (the fifth content twin): serve-vs-batch
  * consistency, idempotent append, torn-batch invisibility, compaction
  * bit-identity, retrain ≡ fresh build, and the funnel contracts.
  */
class SemIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic unit-ish vectors: cluster c's members point along
  // axis c with small member-specific jitter on a second axis — same
  // cluster cosine ~0.999+, cross cluster ~0
  private def vec(cluster: Int, jitter: Double): Seq[Double] =
    Seq.tabulate(8)(i =>
      if (i == cluster) 1.0 else if (i == (cluster + 4) % 8) jitter
      else 0.0)

  private def vdf(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("id", "v")

  test("sem index lifecycle: serve consistency, idempotent append, torn " +
      "batch invisible, compaction bit-identical, retrain = fresh build") {
    import graft.pipeline.{Maintain, Restore}
    val base = vdf(Seq(1L -> vec(0, 0.01), 2L -> vec(1, 0.01),
      3L -> vec(2, 0.01)))
    val wh = java.nio.file.Files
      .createTempDirectory("graft_sem_idx").toString
    val dir = Restore.publishVersionedDir(spark, wh, "s", "0") { vdir =>
      Curation.writeSemIndex(base,
        Curation.semCentroidSample(base, 2), vdir.toString,
        centroidEvery = 2, nassign = 2)
    }.toString
    val batch = vdf(Seq(101L -> vec(0, 0.02), // near 1 (same axis)
      4L -> vec(3, 0.01)))                    // fresh axis
    def serve(vs: org.apache.spark.sql.DataFrame) =
      Curation.semNearDupAgainstIndex(spark, dir, vs, 9000L)
        .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(serve(batch) == Set((101L, 1L)))
    // append, then RETRY — partitions replaced, not doubled
    Curation.appendSemVectors(spark, dir, batch, "b1")
    val afterOnce = spark.read.parquet(s"$dir/assigned")
      .orderBy("id", "cid").collect().toSeq
    Curation.appendSemVectors(spark, dir, batch, "b1")
    assert(spark.read.parquet(s"$dir/assigned")
      .orderBy("id", "cid").collect().toSeq == afterOnce)
    // appended vectors serve immediately
    val probe2 = vdf(Seq(401L -> vec(3, 0.02)))
    assert(serve(probe2) == Set((401L, 4L)))
    // torn batch (no meta marker) invisible to serving
    spark.read.parquet(s"$dir/assigned").filter(col("batch_id") === "b1")
      .select("id", "v", "cid").withColumn("batch_id", lit("torn"))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$dir/assigned")
    assert(serve(batch) == Set((101L, 1L)),
      "torn assigned partition leaked into serving")
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/assigned/batch_id=torn"), true)
    // decision: batches trip compact; a big append trips retrain
    assert(Maintain.semDecision(spark, dir, maxBatches = 16,
      maxAppendFracE4 = 9000L).action == "none")
    assert(Maintain.semDecision(spark, dir, maxBatches = 0,
      maxAppendFracE4 = 9000L).action == "compact")
    assert(Maintain.semDecision(spark, dir, maxBatches = 16,
      maxAppendFracE4 = 1000L).action == "retrain")
    // compaction: one flat base, serving bit-identical
    val before = Curation.semNearDupAgainstIndex(spark, dir, probe2, 9000L)
      .orderBy("id_new", "id_old").collect().toSeq
    val cdir = Maintain.semCompact(spark, wh, "s", "1").toString
    assert(spark.read.parquet(s"$cdir/assigned")
      .select("batch_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq("base"))
    assert(Curation.semNearDupAgainstIndex(spark, cdir, probe2, 9000L)
      .orderBy("id_new", "id_old").collect().toSeq == before)
    // retrain ≡ a fresh writeSemIndex over the committed union
    val rdir = Maintain.semRetrain(spark, wh, "s", "2").toString
    val union = base.unionByName(batch)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_sem_fresh").toString
    Curation.writeSemIndex(union, Curation.semCentroidSample(union, 2),
      fresh, 2, 2)
    assert(spark.read.parquet(s"$rdir/assigned")
      .select("id", "cid").orderBy("id", "cid").collect().toSeq ==
      spark.read.parquet(s"$fresh/assigned")
        .select("id", "cid").orderBy("id", "cid").collect().toSeq)
    assert(spark.read.parquet(s"$rdir/centroids")
      .select("cid").orderBy("cid").collect().toSeq ==
      spark.read.parquet(s"$fresh/centroids")
        .select("cid").orderBy("cid").collect().toSeq)
  }

  test("embedding increment: bootstrap, exact/near vs state and within " +
      "batch, zero-norm admits unindexed, retry idempotence, torn " +
      "increment invisible") {
    import graft.pipeline.Increment
    val dir = java.nio.file.Files
      .createTempDirectory("graft_embed_incr").toString
    // b1: 1 admitted, 2 byte-identical vector (exact within), 3 admitted
    val b1 = vdf(Seq(1L -> vec(0, 0.01), 2L -> vec(0, 0.01),
      3L -> vec(1, 0.01)))
    val r1 = Increment.curateEmbeddingIncrement(b1, dir, "b1")
    val m1 = r1.ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    assert(m1(1L) == ((true, "admitted", 1L)))
    assert(m1(2L) == ((false, "exact_dup", 1L)))
    assert(m1(3L) == ((true, "admitted", 3L)))
    // the full stage sequence: names, order and counts
    assert(r1.stageCounts == Seq("ingest" -> 3L, "exact_dedup" -> 2L,
      "near_dup" -> 2L))
    // b2: 10 identical to stored 1 (exact vs state); 11 near stored 3;
    // 20/21 within-batch near pair (fresh axis); 30 fresh axis; 40/41
    // zero-norm pair (exact within batch, then admitted unindexed)
    val zero = Seq.fill(8)(0.0)
    val b2 = vdf(Seq(10L -> vec(0, 0.01), 11L -> vec(1, 0.02),
      20L -> vec(2, 0.01), 21L -> vec(2, 0.02), 30L -> vec(3, 0.01),
      40L -> zero, 41L -> zero))
    def curateB2() = Increment.curateEmbeddingIncrement(b2, dir, "b2")
    def verdicts(r: graft.pipeline.IncrementResult) = r
      .ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    def runB2() = verdicts(curateB2())
    val r2 = curateB2()
    assert(r2.stageCounts == Seq("ingest" -> 7L, "exact_dedup" -> 5L,
      "near_dup" -> 3L))
    val m2 = verdicts(r2)
    assert(m2(10L) == ((false, "exact_dup", 1L)))
    assert(m2(11L) == ((false, "near_dup", 3L)))
    assert(m2(20L) == ((true, "admitted", 20L)))
    assert(m2(21L) == ((false, "near_dup", 20L)))
    assert(m2(30L) == ((true, "admitted", 30L)))
    assert(m2(40L) == ((true, "admitted", 40L)))
    assert(m2(41L) == ((false, "exact_dup", 40L)))
    // zero-norm vectors are never indexed
    assert(spark.read.parquet(s"$dir/sem/assigned")
      .filter(col("id") === 40L).count() == 0)
    // retry replays identically
    assert(runB2() == m2)
    // accumulated: b3 near-dups b2's admitted 20; a zero twin
    // exact-dups the stored zero key
    val r3 = Increment.curateEmbeddingIncrement(
      vdf(Seq(50L -> vec(2, 0.03), 51L -> zero)), dir, "b3")
    val m3 = r3.ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    assert(m3(50L) == ((false, "near_dup", 20L)))
    assert(m3(51L) == ((false, "exact_dup", 40L)))
    // torn increment invisible: drop b3's sem meta marker
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/sem/meta/batch_id=b3"), true)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b3").count() == 0)
  }

  test("dimension pinning: a different-dim batch fails loudly on append " +
      "and serve; an empty index decides none, not retrain-forever") {
    import graft.pipeline.Maintain
    val base = vdf(Seq(1L -> vec(0, 0.01), 2L -> vec(1, 0.01)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sem_dim").toString
    Curation.writeSemIndex(base, Curation.semCentroidSample(base, 2),
      dir, 2, 2)
    val wrongDim = Seq((9L, Seq(1.0, 0.0, 0.0))).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      Curation.appendSemVectors(spark, dir, wrongDim, "b1")
    }
    assert(e1.getMessage.contains("dim"))
    val e2 = intercept[IllegalArgumentException] {
      Curation.semNearDupAgainstIndex(spark, dir,
        wrongDim.select(col("id").as("id_new"), col("v")), 9000L)
        .count()
    }
    assert(e2.getMessage.contains("dim"))
    // empty index: created with zero vectors, decision must be none
    val empty = base.filter(col("id") < 0)
    val edir = java.nio.file.Files
      .createTempDirectory("graft_sem_empty").toString
    Curation.writeSemIndex(empty, Curation.semCentroidSample(base, 2),
      edir, 2, 2)
    assert(Maintain.semDecision(spark, edir).action == "none")
  }

  test("an embedding state whose first batch admits only zero-norm " +
      "vectors keeps serving: the next batch curates normally and " +
      "compaction folds and serves identically") {
    import graft.pipeline.Increment
    val dir = java.nio.file.Files
      .createTempDirectory("graft_embed_zero").toString
    val zero = Seq.fill(8)(0.0)
    def verdicts(r: graft.pipeline.IncrementResult) = r
      .ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    // b1: the one admitted vector is zero-norm, so nothing is indexed
    val m1 = verdicts(Increment.curateEmbeddingIncrement(
      vdf(Seq(1L -> zero)), dir, "b1"))
    assert(m1 == Map(1L -> ((true, "admitted", 1L))))
    // b2: exact vs the stored zero key, an exact twin within the batch,
    // two fresh axes. (b1 drew no centroids — its sample had no
    // nonzero vector — so no vector routes to a cell and the near-dup
    // stages find nothing; only exact verdicts are pinned here.)
    val m2 = verdicts(Increment.curateEmbeddingIncrement(
      vdf(Seq(10L -> zero, 11L -> vec(0, 0.01), 12L -> vec(0, 0.01),
        13L -> vec(1, 0.01))), dir, "b2"))
    assert(m2 == Map(10L -> ((false, "exact_dup", 1L)),
      11L -> ((true, "admitted", 11L)), 12L -> ((false, "exact_dup", 11L)),
      13L -> ((true, "admitted", 13L))))
    // compaction folds b1 (dim 0) and b2 (dim 8) and serves identically
    val dest = java.nio.file.Files
      .createTempDirectory("graft_embed_zero_dst").toString + "/state"
    Increment.compactStateTo(spark, dir, dest)
    val b3 = vdf(Seq(20L -> vec(0, 0.01), 21L -> zero, 22L -> vec(5, 0.01),
      23L -> vec(1, 0.01)))
    val src3 = verdicts(Increment.curateEmbeddingIncrement(b3, dir, "b3"))
    assert(src3 == Map(20L -> ((false, "exact_dup", 11L)),
      21L -> ((false, "exact_dup", 1L)), 22L -> ((true, "admitted", 22L)),
      23L -> ((false, "exact_dup", 13L))))
    assert(verdicts(Increment.curateEmbeddingIncrement(b3, dest, "b3")) ==
      src3)
  }
}
