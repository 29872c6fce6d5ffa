package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord

/** Video keyframe index — the SEVENTH index-lifecycle member — and the
  * video increment (the fourth modality twin): serve-vs-batch parity,
  * idempotent append, torn-batch invisibility, compaction parity, and
  * the batch-vs-accumulated-state funnel contracts.
  */
class VideoIndexSpec extends SparkSpec {
  import spark.implicits._

  // the q161/q153 fixture: 3-keyframe MP4 of lossless 16x16 PNG frames,
  // pixels closed-form in (seed, frame); v = 1 nudges pixel (0,0) of
  // frame 0 by +9 — frame 0 near-matches (hamming <= 3), frames 1..2
  // stay exact, so a (seed,0)/(seed,1) pair temporal-Jaccards at 1e4
  private def vid(cid: Long, seed: Long, v: Int): MediaRecord =
    MediaRecord(cid,
      Multimodal.encodeSamplesMp4(1000, 3000,
        (0 to 2).map(f => Multimodal.encodeGrayPixelsPng(16, 16,
          Array.tabulate(256) { p =>
            val (x, y) = (p % 16, p / 16)
            val nudge = if (v == 1 && f == 0 && x == 0 && y == 0) 9 else 0
            ((seed * 31 + f * 53 + y * 16 + x * 17 + nudge) % 256).toInt
          }))),
      "video/mp4")

  test("video index lifecycle: serve-vs-batch parity, idempotent append, " +
      "torn batch invisible, compaction bit-identical") {
    import graft.pipeline.{Maintain, Restore}
    val base = Seq(vid(1L, 1L, 0), vid(2L, 2L, 0), vid(3L, 3L, 0))
    val batch = Seq(vid(101L, 1L, 1), // near re-encode of 1
      vid(4L, 4L, 0))                 // fresh
    val wh = java.nio.file.Files
      .createTempDirectory("graft_video_idx").toString
    val dir = Restore.publishVersionedDir(spark, wh, "v", "0") { vdir =>
      Multimodal.writeVideoIndex(base.toDS(), vdir.toString, nBands = 4)
    }.toString
    def serve() = Multimodal.videoNearDupAgainstIndex(spark, dir,
        batch.toDS(), maxHamming = 3, minSimE4 = 5000L)
      .select("id_new", "id_old", "sim_e4")
      .as[(Long, Long, Long)].collect().toSet
    val got = serve()
    assert(got.map(t => (t._1, t._2)) == Set((101L, 1L)), s"$got")
    assert(got.head._3 == 10000L, s"all 3 frames should match: $got")
    // serve agrees with the batch operator on the union
    val unionPairs = Multimodal.videoNearDupPairs(
        (base ++ batch).toDS(), maxHamming = 3, minSimE4 = 5000L)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(unionPairs.contains((1L, 101L)))
    // append the batch, then RETRY the append — partitions replaced
    Multimodal.appendToVideoIndex(spark, dir, batch.toDS(), "b1")
    val afterOnce = spark.read.parquet(s"$dir/frames")
      .orderBy("id", "frame_idx").collect().toSeq
    Multimodal.appendToVideoIndex(spark, dir, batch.toDS(), "b1")
    assert(spark.read.parquet(s"$dir/frames")
      .orderBy("id", "frame_idx").collect().toSeq == afterOnce)
    // appended videos serve immediately: a near re-encode of the
    // appended fresh video 4 now matches it
    val probe2 = Seq(vid(401L, 4L, 1))
    val got2 = Multimodal.videoNearDupAgainstIndex(spark, dir,
        probe2.toDS(), maxHamming = 3, minSimE4 = 5000L)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(got2.contains((401L, 4L)), s"$got2")
    // torn batch (no meta marker) is invisible to serving
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$dir/frames").filter(col("batch_id") === "b1")
      .select("id", "frame_idx", "phash").withColumn("batch_id", lit("torn"))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/frames")
    assert(serve() == got, "torn frames partition leaked into serving")
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dir/frames/batch_id=torn"),
      true)
    // decision + compaction: one flat base, serving bit-identical
    assert(Maintain.videoDecision(spark, dir, maxBatches = 16)
      .action == "none")
    assert(Maintain.videoDecision(spark, dir, maxBatches = 0)
      .action == "compact")
    val before = Multimodal.videoNearDupAgainstIndex(spark, dir,
        probe2.toDS(), maxHamming = 3, minSimE4 = 5000L)
      .orderBy("id_new", "id_old").collect().toSeq
    val cdir = Maintain.videoCompact(spark, wh, "v", "1").toString
    assert(spark.read.parquet(s"$cdir/frames")
      .select("batch_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq("base"))
    assert(Multimodal.videoNearDupAgainstIndex(spark, cdir,
        probe2.toDS(), maxHamming = 3, minSimE4 = 5000L)
      .orderBy("id_new", "id_old").collect().toSeq == before)
  }

  test("video increment: bootstrap, exact/near vs state and within " +
      "batch, retry idempotence, torn increment invisible") {
    import graft.pipeline.Increment
    val dir = java.nio.file.Files
      .createTempDirectory("graft_video_incr").toString
    // b1 bootstraps: 1 admitted, 2 byte-identical to 1 (exact within),
    // 3 admitted, 9 unparseable
    val v1 = vid(1L, 1L, 0)
    val b1 = Seq(v1,
      MediaRecord(2L, v1.media, "video/mp4"),
      vid(3L, 3L, 0),
      MediaRecord(9L, "junk".getBytes("UTF-8"), "video/mp4"))
    val r1 = Increment.curateVideoIncrement(b1.toDS(), dir, "b1")
    val m1 = r1.ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    assert(m1(1L) == ((true, "admitted", 1L)))
    assert(m1(2L) == ((false, "exact_dup", 1L)))
    assert(m1(3L) == ((true, "admitted", 3L)))
    assert(m1(9L) == ((false, "no_frames", 9L)))
    // the full stage sequence: names, order and counts
    assert(r1.stageCounts == Seq("ingest" -> 4L, "keyframes" -> 3L,
      "exact_dedup" -> 2L, "near_dup" -> 2L))
    // b2: 10 byte-identical to stored 1 (exact vs state); 11 a near
    // re-encode of stored 3 (near vs state, not exact); 20/21 a
    // within-batch near pair; 30 fresh
    val b2 = Seq(
      MediaRecord(10L, v1.media, "video/mp4"),
      vid(11L, 3L, 1),
      vid(20L, 20L, 0),
      vid(21L, 20L, 1),
      vid(30L, 30L, 0))
    def curateB2() = Increment.curateVideoIncrement(b2.toDS(), dir, "b2")
    def verdicts(r: graft.pipeline.IncrementResult) = r
      .ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    def runB2() = verdicts(curateB2())
    val r2 = curateB2()
    assert(r2.stageCounts == Seq("ingest" -> 5L, "keyframes" -> 5L,
      "exact_dedup" -> 4L, "near_dup" -> 2L))
    val m2 = verdicts(r2)
    assert(m2(10L) == ((false, "exact_dup", 1L)))
    assert(m2(11L) == ((false, "near_dup", 3L)))
    assert(m2(20L) == ((true, "admitted", 20L)))
    assert(m2(21L) == ((false, "near_dup", 20L)))
    assert(m2(30L) == ((true, "admitted", 30L)))
    // retry replays identically
    assert(runB2() == m2)
    // state accumulated: b3 near-dups b2's admitted 20
    val r3 = Increment.curateVideoIncrement(
      Seq(vid(40L, 20L, 1)).toDS(), dir, "b3")
    assert(r3.ledger.filter(col("id") === 40L)
      .select("reason", "dup_of").as[(String, Long)].head()
      == (("near_dup", 20L)))
    // torn increment invisible: drop b3's video meta marker
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/video/meta/batch_id=b3"), true)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b3").count() == 0)
    val r4 = Increment.curateVideoIncrement(
      Seq(vid(41L, 20L, 1)).toDS(), dir, "b4")
    assert(r4.ledger.filter(col("id") === 41L)
      .select("reason").as[String].head() == "near_dup")
    assert(Increment.readMetrics(spark, dir)
      .select("batch_id").distinct().as[String].collect().toSet
      == Set("b1", "b2", "b4"))
  }
}
