package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord

/** Banded energy-sequence audio fingerprints: gain invariance, segment
  * sharing, the hot-value DF cap, and the index lifecycle (append
  * idempotence, torn-batch invisibility, compaction parity).
  */
class AudioFpSpec extends SparkSpec {
  import spark.implicits._

  // one clip = nw windows of 50 constant-valued frames each; window w of
  // pattern `src` holds sample value v(src, w) — md5-mixed per (src, w)
  // (the r13 linear-fixture lesson: an affine v makes every clip a phase
  // shift of ONE cyclic wrap sequence and everything fingerprints equal;
  // md5 is also what a DuckDB oracle can replay)
  private def v(src: Long, w: Int): Short = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src:$w".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex, 16) % 997L) + 1L).toShort
  }

  private def clip(id: Long, nw: Int, fromWindow: Int = 0,
                   gain: Int = 1, src: Long = -1L): MediaRecord = {
    val pat = if (src == -1L) id else src
    val frames = Array.tabulate[Short]((nw - fromWindow) * 50)(i =>
      (v(pat, fromWindow + i / 50) * gain).toShort)
    MediaRecord(id, Multimodal.encodePcm16Wav(8000, 1, frames), "audio/wav")
  }

  test("audioFpFromMeans packs delta bits at stride; fingerprintsOne " +
      "agrees with the arithmetic on a synthesized WAV") {
    // means 10, 20, 5, 7, 7, 9 → bits 1,0,1,0,1 (strict >: ties are 0)
    val fps = Multimodal.audioFpFromMeans(1L, Seq(10L, 20L, 5L, 7L, 7L, 9L),
      k = 3, stride = 1)
    assert(fps.map(f => (f.pos, f.fp)) ==
      Seq((0, 5L), (1, 2L), (2, 5L)))                  // 101, 010, 101
    assert(Multimodal.audioFpFromMeans(1L, Seq(10L, 20L), 3, 1).isEmpty)
    // decoded path: window means equal v(id, w) exactly (constant
    // windows), so the packed values match the pure arithmetic
    val id = 7L; val nw = 12
    val got = Multimodal.audioFingerprintsOne(id,
      clip(id, nw).media, windowFrames = 50, k = 4, stride = 1)
    val means = (0 until nw).map(w => v(id, w).toLong * 10000L)
    assert(got == Multimodal.audioFpFromMeans(id, means, 4, 1))
    // undecodable payloads fingerprint to nothing
    assert(Multimodal.audioFingerprintsOne(9L,
      "not audio".getBytes("UTF-8"), 50, 4, 1).isEmpty)
  }

  test("near-dup pairs: a 2x-gain re-encode matches exactly, a window-" +
      "aligned shared segment passes, unrelated clips do not pair; " +
      "hot values drop from candidate generation only") {
    val clips = Seq(
      clip(1L, 24),
      clip(101L, 24, gain = 2, src = 1L), // re-encode of 1: identical bits
      clip(2L, 24),
      clip(202L, 24, fromWindow = 4, src = 2L), // tail segment of 2
      clip(3L, 24))                    // unrelated
    val got = Multimodal.audioNearDupPairs(clips.toDS(),
        windowFrames = 50, k = 8, stride = 1, minMatchE4 = 5000L)
      .select("idA", "idB", "match_e4")
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 101L)) == 10000L, s"gain twin: $got")
    assert(got.contains((2L, 202L)) && got((2L, 202L)) >= 5000L, s"$got")
    assert(!got.keySet.exists { case (a, b) =>
      Set(a, b).contains(3L) }, s"unrelated paired: $got")
    // DF cap: clips of CONSTANT value have all-zero bits — every
    // sub-fingerprint is the 0 hub value; with the cap at 1 the hub
    // never generates candidates, so the constant clips do not pair
    val flat = Seq.tabulate(4) { i =>
      MediaRecord(500L + i, Multimodal.encodePcm16Wav(8000, 1,
        Array.fill[Short](600)(100)), "audio/wav")
    }
    val capped = Multimodal.audioNearDupPairs(flat.toDS(),
      windowFrames = 50, k = 8, stride = 1, minMatchE4 = 1L,
      maxFpDocFreq = 1L)
    assert(capped.count() == 0)
    val uncapped = Multimodal.audioNearDupPairs(flat.toDS(),
      windowFrames = 50, k = 8, stride = 1, minMatchE4 = 1L,
      maxFpDocFreq = 100L)
    assert(uncapped.count() == 6) // all 4C2 constant clips pair
  }

  test("audio increment: bootstrap, exact/near vs state and within " +
      "batch, retry idempotence, torn increment invisible") {
    import graft.pipeline.Increment
    import graft.pipeline.Increment.AudioIncrementConfig
    val dir = java.nio.file.Files
      .createTempDirectory("graft_audio_incr").toString
    val cfg = AudioIncrementConfig(windowFrames = 50, k = 8, stride = 1)
    // b1 bootstraps: 1 admitted, 2 byte-identical to 1 (exact within),
    // 3 admitted, 9 unfingerprintable
    val c1 = clip(1L, 24)
    val b1 = Seq(c1,
      MediaRecord(2L, c1.media, "audio/wav"),
      clip(3L, 24),
      MediaRecord(9L, "junk".getBytes("UTF-8"), "audio/wav"))
    val r1 = Increment.curateAudioIncrement(b1.toDS(), dir, "b1", cfg)
    val m1 = r1.ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    assert(m1(1L) == ((true, "admitted", 1L)))
    assert(m1(2L) == ((false, "exact_dup", 1L)))
    assert(m1(3L) == ((true, "admitted", 3L)))
    assert(m1(9L) == ((false, "no_fingerprint", 9L)))
    // the full stage sequence: names, order and counts
    assert(r1.stageCounts == Seq("ingest" -> 4L, "fingerprint" -> 3L,
      "exact_dedup" -> 2L, "near_dup" -> 2L))
    // b2: 10 byte-identical to stored 1 (exact vs state); 11 gain-2
    // re-encode of stored 3 (near vs state, not exact); 20/21 a
    // within-batch near pair (gain twins); 30 fresh
    val c20 = clip(20L, 24)
    val b2 = Seq(
      MediaRecord(10L, c1.media, "audio/wav"),
      clip(11L, 24, gain = 2, src = 3L),
      c20,
      clip(21L, 24, gain = 2, src = 20L),
      clip(30L, 24))
    def curateB2() = Increment.curateAudioIncrement(b2.toDS(), dir, "b2", cfg)
    def verdicts(r: graft.pipeline.IncrementResult) = r
      .ledger.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap
    def runB2() = verdicts(curateB2())
    val r2 = curateB2()
    assert(r2.stageCounts == Seq("ingest" -> 5L, "fingerprint" -> 5L,
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
    val r3 = Increment.curateAudioIncrement(
      Seq(clip(40L, 24, fromWindow = 4, src = 20L)).toDS(), dir, "b3", cfg)
    assert(r3.ledger.filter(col("id") === 40L)
      .select("reason", "dup_of").as[(String, Long)].head()
      == (("near_dup", 20L)))
    // torn increment invisible: drop b3's audio meta marker
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/audio/meta/batch_id=b3"), true)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b3").count() == 0)
    val r4 = Increment.curateAudioIncrement(
      Seq(clip(41L, 24, fromWindow = 4, src = 20L)).toDS(), dir, "b4", cfg)
    assert(r4.ledger.filter(col("id") === 41L)
      .select("reason").as[String].head() == "near_dup")
    assert(Increment.readMetrics(spark, dir)
      .select("batch_id").distinct().as[String].collect().toSet
      == Set("b1", "b2", "b4"))
  }

  test("audio index lifecycle: serve-vs-batch parity, idempotent append, " +
      "torn batch invisible, compaction bit-identical") {
    import graft.pipeline.{Maintain, Restore}
    val base = Seq(clip(1L, 24), clip(2L, 24), clip(3L, 24))
    val batch = Seq(clip(101L, 24, gain = 2, src = 1L), // re-encode of 1
      clip(202L, 24, fromWindow = 4, src = 2L),     // segment of 2
      clip(4L, 24))                                 // fresh
    val wh = java.nio.file.Files
      .createTempDirectory("graft_audio_idx").toString
    val dir = Restore.publishVersionedDir(spark, wh, "a", "0") { vdir =>
      Multimodal.writeAudioIndex(base.toDS(), vdir.toString,
        windowFrames = 50, k = 8, stride = 1)
    }.toString
    def serve() = Multimodal.audioNearDupAgainstIndex(spark, dir,
        batch.toDS(), minMatchE4 = 5000L)
      .select("id_new", "id_old", "match_e4")
      .as[(Long, Long, Long)].collect().toSet
    val got = serve()
    assert(got.map(t => (t._1, t._2)) == Set((101L, 1L), (202L, 2L)), s"$got")
    assert(got.find(_._1 == 101L).get._3 == 10000L)
    // append the batch, then RETRY the append — partitions replaced
    Multimodal.appendToAudioIndex(spark, dir, batch.toDS(), "b1")
    val afterOnce = spark.read.parquet(s"$dir/fps")
      .orderBy("id", "fp").collect().toSeq
    Multimodal.appendToAudioIndex(spark, dir, batch.toDS(), "b1")
    assert(spark.read.parquet(s"$dir/fps")
      .orderBy("id", "fp").collect().toSeq == afterOnce)
    // appended clips serve immediately: a re-encode of the appended
    // fresh clip 4 now matches it
    val probe2 = Seq(clip(401L, 24, gain = 2, src = 4L))
    val got2 = Multimodal.audioNearDupAgainstIndex(spark, dir,
        probe2.toDS(), minMatchE4 = 5000L)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(got2.contains((401L, 4L)), s"$got2")
    // torn batch (no meta marker) is invisible to serving
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$dir/fps").filter(col("batch_id") === "b1")
      .select("id", "fp").withColumn("batch_id", lit("torn"))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/fps")
    assert(serve() == got, "torn fps partition leaked into serving")
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dir/fps/batch_id=torn"),
      true)
    // decision + compaction: one flat base, serving bit-identical
    assert(Maintain.audioDecision(spark, dir, maxBatches = 16)
      .action == "none")
    assert(Maintain.audioDecision(spark, dir, maxBatches = 0)
      .action == "compact")
    val before = Multimodal.audioNearDupAgainstIndex(spark, dir,
        probe2.toDS(), minMatchE4 = 5000L)
      .orderBy("id_new", "id_old").collect().toSeq
    val cdir = Maintain.audioCompact(spark, wh, "a", "1").toString
    assert(spark.read.parquet(s"$cdir/fps")
      .select("batch_id").distinct().collect().map(_.getString(0)).toSeq
      == Seq("base"))
    assert(Multimodal.audioNearDupAgainstIndex(spark, cdir,
        probe2.toDS(), minMatchE4 = 5000L)
      .orderBy("id_new", "id_old").collect().toSeq == before)
  }
}
