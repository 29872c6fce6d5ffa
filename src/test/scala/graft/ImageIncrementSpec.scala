package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord
import graft.pipeline.Increment
import graft.pipeline.Increment.ImageIncrementConfig

/** The image increment: a media batch curated against accumulated
  * pHash + exact-payload state, decode-once, retry-idempotent, torn
  * increments invisible.
  */
class ImageIncrementSpec extends SparkSpec {
  import spark.implicits._

  private def mix(id: Long, p: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    (z ^ (z >>> 27)) & 0xffL
  }
  private def png(seed: Long, nudge: Int): Array[Byte] =
    Multimodal.encodeGrayPixelsPng(16, 16,
      Array.tabulate(256)(p => (mix(seed, p.toLong).toInt +
        (if (p < 40) nudge else 0)).min(255)))

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap

  test("image increments: bootstrap, exact/near vs state and within " +
      "batch, retry idempotence, torn increment invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_img_incr").toString
    // b1 bootstraps the state: 1 admitted, 2 exact-dup of 1 within
    // batch, 3 admitted, 9 undecodable
    val shared = png(1, 0)
    val b1 = Seq(
      MediaRecord(1L, shared, "image/png"),
      MediaRecord(2L, shared, "image/png"),
      MediaRecord(3L, png(3, 0), "image/png"),
      MediaRecord(9L, Array[Byte](7), "image/png"))
    val r1 = Increment.curateImageIncrement(b1.toDS(), dir, "b1")
    val v1 = verdictMap(r1.ledger)
    assert(v1(1L) == ((true, "admitted", 1L)))
    assert(v1(2L) == ((false, "exact_dup", 1L)))
    assert(v1(3L) == ((true, "admitted", 3L)))
    assert(v1(9L) == ((false, "undecodable", 9L)))
    // the full stage sequence: names, order and counts
    assert(r1.stageCounts == Seq("ingest" -> 4L, "decode" -> 3L,
      "exact_dedup" -> 2L, "near_dup" -> 2L))
    // b2 against state: 10 exact-dup of stored 1; 11 pHash near-dup of
    // stored 3; 20/21 within-batch near pair; 30 fresh
    val b2 = Seq(
      MediaRecord(10L, shared, "image/png"),
      MediaRecord(11L, png(3, 7), "image/png"),
      MediaRecord(20L, png(20, 0), "image/png"),
      MediaRecord(21L, png(20, 7), "image/png"),
      MediaRecord(30L, png(30, 0), "image/png"))
    val r2 = Increment.curateImageIncrement(b2.toDS(), dir, "b2")
    val v2 = verdictMap(r2.ledger)
    assert(v2(10L) == ((false, "exact_dup", 1L)))
    assert(v2(11L) == ((false, "near_dup", 3L)))
    assert(v2(20L) == ((true, "admitted", 20L)))
    assert(v2(21L) == ((false, "near_dup", 20L)))
    assert(v2(30L) == ((true, "admitted", 30L)))
    assert(r2.stageCounts == Seq("ingest" -> 5L, "decode" -> 5L,
      "exact_dedup" -> 4L, "near_dup" -> 2L))
    // retry of b2: identical verdicts, partitions replaced not doubled
    val again = verdictMap(
      Increment.curateImageIncrement(b2.toDS(), dir, "b2").ledger)
    assert(again == v2)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b2").count() == b2.size)
    // b3 near-dups an id ADMITTED BY b2 (state accumulated across
    // increments)
    val r3 = Increment.curateImageIncrement(
      Seq(MediaRecord(40L, png(20, 3), "image/png")).toDS(), dir, "b3")
    assert(verdictMap(r3.ledger)(40L) == ((false, "near_dup", 20L)))
    // torn increment: drop b3's pHash meta marker — invisible to reads,
    // and a re-ingest of its docs under a new id admits fresh
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val r4 = Increment.curateImageIncrement(
      Seq(MediaRecord(50L, png(50, 0), "image/png")).toDS(), dir, "b4")
    assert(verdictMap(r4.ledger)(50L)._1)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/phash/meta/batch_id=b4"), true)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b4").count() == 0)
    val r5 = Increment.curateImageIncrement(
      Seq(MediaRecord(51L, png(50, 0), "image/png")).toDS(), dir, "b5")
    assert(verdictMap(r5.ledger)(51L) == ((true, "admitted", 51L)))
    // metrics: per-committed-batch funnel rows accumulate
    val m = Increment.readMetrics(spark, dir)
      .select("batch_id", "stage", "rows")
      .as[(String, String, Long)].collect().toSet
    assert(m.map(_._1) == Set("b1", "b2", "b3", "b5"))
    assert(m.contains(("b1", "ingest", 4L)) &&
      m.contains(("b1", "near_dup", 2L)))
  }

  test("an increment refuses a state root another family owns: audio " +
      "on an image root throws and leaves the image ledger and keys") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_img_incr_owner").toString
    val shared = png(1, 0)
    Increment.curateImageIncrement(Seq(
      MediaRecord(1L, shared, "image/png"),
      MediaRecord(2L, shared, "image/png"),
      MediaRecord(3L, png(3, 0), "image/png"),
      MediaRecord(9L, Array[Byte](7), "image/png")).toDS(), dir, "b1")
    def committed() = (
      Increment.readLedger(spark, dir)
        .select("batch_id", "id", "admitted", "reason", "dup_of")
        .as[(String, Long, Boolean, String, Long)].collect().toSet,
      spark.read.parquet(s"$dir/exact/keys")
        .select("batch_id", "key", "id")
        .as[(String, String, Long)].collect().toSet)
    val before = committed()
    assert(before._1.filter(_._3).map(_._2) == Set(1L, 3L))
    assert(before._2.map(_._3) == Set(1L, 3L))
    // two fingerprintable clips: 30 windows of 50 distinct-valued frames
    def tone(id: Long) = MediaRecord(id, Multimodal.encodePcm16Wav(8000, 1,
      Array.tabulate[Short](1500)(i =>
        (mix(id, (i / 50).toLong) * 3 + 1).toShort)), "audio/wav")
    val audio = Seq(tone(100L), tone(101L)).toDS()
    val e = intercept[IllegalArgumentException] {
      Increment.curateAudioIncrement(audio, dir, "b1")
    }
    assert(e.getMessage.contains("'phash'"), e.getMessage)
    intercept[IllegalArgumentException] {
      Increment.initAudioStateFromCurated(spark, dir, audio)
    }
    assert(committed() == before)
    assert(Increment.stateFamily(spark, dir).contains("phash"))
  }

  // the ImageSemDedupSpec re-grain fixture: plane-wave scenes + per-id
  // pixel noise — inside embedding cosine, beyond pHash hamming 3
  private def wv(f: Int, x: Int): Int =
    math.round(10.0 * math.cos(math.Pi * 2 * f * x / 16)).toInt
  private def noise(id: Long, x: Int, y: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$x:$y".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 41L).toInt - 20
  }
  private def scene(id: Long, pattern: Long): MediaRecord = {
    val fx = (pattern % 3).toInt + 1
    val fy = ((pattern / 3) % 3).toInt + 1
    MediaRecord(id, Multimodal.encodeGrayPixelsPng(16, 16,
      Array.tabulate(256) { p =>
        val (x, y) = (p % 16, p / 16)
        128 + wv(fx, x) * wv(fy, y) + noise(id, x, y)
      }), "image/png")
  }

  test("image increment SEMANTIC stage: re-grains fall to sem_dup vs " +
      "accumulated state and within batch, retry replays identically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_img_incr_sem").toString
    val cfg = ImageIncrementConfig(semDedupThresholdE4 = Some(9000L),
      semGrid = 8, semCentroidEvery = 4)
    // b1 bootstraps: two orthogonal scenes, both admitted
    val r1 = Increment.curateImageIncrement(
      Seq(scene(100L, 1), scene(200L, 2)).toDS(), dir, "b1", cfg)
    assert(verdictMap(r1.ledger).forall(_._2._2 == "admitted"))
    assert(r1.stageCounts.toMap.get("semantic").contains(2L))
    // b2: a re-grain of STATE scene 1; a fresh scene 3 within-batch
    // re-grain pair; a fresh scene 4
    val b2 = Seq(scene(101L, 1), scene(300L, 3), scene(301L, 3),
      scene(400L, 4))
    val v2 = verdictMap(
      Increment.curateImageIncrement(b2.toDS(), dir, "b2", cfg).ledger)
    assert(v2(101L) == ((false, "sem_dup", 100L)), v2.toString)
    assert(v2(300L) == ((true, "admitted", 300L)))
    assert(v2(301L) == ((false, "sem_dup", 300L)))
    assert(v2(400L) == ((true, "admitted", 400L)))
    // retry of b2: identical verdicts (pre-batch sem view + replace)
    val again = verdictMap(
      Increment.curateImageIncrement(b2.toDS(), dir, "b2", cfg).ledger)
    assert(again == v2)
    // b3 re-grains a doc ADMITTED BY b2: state accumulated
    val v3 = verdictMap(Increment.curateImageIncrement(
      Seq(scene(302L, 3)).toDS(), dir, "b3", cfg).ledger)
    assert(v3(302L) == ((false, "sem_dup", 300L)), v3.toString)
    // pHash alone would admit every re-grain (the regime the embedding
    // adds): same b2 against a sem-OFF copy of b1's state
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_img_incr_sem_off").toString
    Increment.curateImageIncrement(
      Seq(scene(100L, 1), scene(200L, 2)).toDS(), dir2, "b1")
    val off = verdictMap(
      Increment.curateImageIncrement(b2.toDS(), dir2, "b2").ledger)
    assert(off.values.forall(_._2 == "admitted"), off.toString)
  }
}
