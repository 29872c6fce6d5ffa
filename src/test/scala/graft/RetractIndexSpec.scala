package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, KnnGraph, Similarity, TextStats}
import graft.pipeline.Maintain

/** Right-to-be-forgotten over the STANDALONE index families
  * ([[Maintain.retract]]): retracted content stops serving, serving
  * parity with a fresh view of the corpus-minus-victims holds, a
  * retracted id readmits fresh, reruns are idempotent, and the next
  * maintenance publish completes physical erasure.
  */
class RetractIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_rtx_$tag").toString

  test("BM25: retraction purges postings, recomputes df, adjusts " +
      "n/avgdl via tombstones — serving equals bm25TopK over the " +
      "remaining corpus; readmit works; compact bakes the erasure in") {
    val wh = tmp("bm")
    val base = Seq((1L, "spark catalyst joins plans"),
      (2L, "spark shuffles exchange plans"),
      (3L, "catalyst codegen stages run"),
      (4L, "unrelated window functions here")).toDF("doc_id", "text")
    val appended = Seq((101L, "spark joins again tonight"),
      (102L, "spark spark spark rally")).toDF("doc_id", "text")
    pipeline.Restore.publishVersionedDir(spark, wh, "bm", "0") { vdir =>
      TextStats.writeBm25Index(base, "doc_id", "text", vdir.toString)
    }
    def cur = pipeline.Restore.resolveVersioned(spark, wh, "bm")
      .get.toString
    TextStats.appendToBm25Index(spark, cur, appended, "doc_id", "text",
      "b1")
    val queries = Seq((1L, "spark"), (2L, "plans")).toDF("qid", "term")
    def serve(): Set[(Long, Long, Long, Long)] =
      TextStats.bm25AgainstIndex(spark, cur, queries, "qid", "term", 4)
        .select("qid", "id", "score_e6", "rnk")
        .as[(Long, Long, Long, Long)].collect().toSet
    def want(corpus: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Long, Long)] =
      TextStats.bm25TopK(corpus, "doc_id", "text", queries, "qid", "term",
          4)
        .select(col("qid"), col("doc_id").as("id"), col("score_e6"),
          col("rnk"))
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(serve() == want(base.unionByName(appended)), "pre-parity")
    assert(serve().exists(_._2 == 2L) && serve().exists(_._2 == 102L))

    val touched = Maintain.retract(spark, cur,
      Seq(2L, 102L).toDF("id"))
    assert(touched == Seq("bm25"), s"$touched")
    val remaining = base.filter(col("doc_id") =!= 2L)
      .unionByName(appended.filter(col("doc_id") =!= 102L))
    val after = serve()
    assert(!after.exists(r => r._2 == 2L || r._2 == 102L),
      s"retracted docs still serve: $after")
    assert(after == want(remaining),
      "post-retraction serving must equal the fresh-corpus twin")
    // idempotent rerun
    Maintain.retract(spark, cur, Seq(2L, 102L).toDF("id"))
    assert(serve() == after, "rerun changed serving")
    // readmit id 2 with new content: one tombstone keeps compensating
    // for the one historical submission, the fresh batch counts anew
    TextStats.appendToBm25Index(spark, cur,
      Seq((2L, "spark returns renewed plans")).toDF("doc_id", "text"),
      "doc_id", "text", "b2")
    val readmitted = remaining.unionByName(
      Seq((2L, "spark returns renewed plans")).toDF("doc_id", "text"))
    assert(serve() == want(readmitted), "readmit parity")
    // compaction bakes the tombstones in: fresh version, no retracted
    // table, same serving
    Maintain.bm25Compact(spark, wh, "bm", "1")
    val f = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$cur/retracted")),
      "compacted version must carry no tombstones")
    assert(serve() == want(readmitted), "post-compact parity")
  }

  test("kNN graph: retraction tombstones the flat base, purges batch " +
      "partitions, refills the entry ring; readmit serves; compaction " +
      "completes physical erasure") {
    val wh = tmp("knn")
    val rnd = new scala.util.Random(11)
    def vec(axis: Int) = Seq.tabulate(8)(d =>
      (if (d == axis) 4.0 else 0.0) + rnd.nextGaussian() * 0.05)
    val base = (0L until 24L).map(i => (i, vec((i % 3).toInt)))
      .toDF("id", "v")
    pipeline.Restore.publishVersionedDir(spark, wh, "g", "0") { vdir =>
      KnnGraph.writeKnnIndex(base, vdir.toString, k = 4, iters = 2,
        maxEntries = 12)
    }
    def cur = pipeline.Restore.resolveVersioned(spark, wh, "g")
      .get.toString
    KnnGraph.appendToKnnIndex(spark, cur,
      (100L until 104L).map(i => (i, vec((i % 3).toInt)))
        .toDF("id", "v"), "b1")
    val queries = Seq((9000L, vec(0))).toDF("id", "v")
    def serve(): Set[Long] =
      KnnGraph.beamSearchIndexed(spark, cur, queries, k = 6,
          beamWidth = 12, rounds = 3, numEntries = 4)
        .select("other_id").as[Long].collect().toSet
    val before = serve()
    assert(before.nonEmpty)
    // victims: one axis-0 base member likely served, one appended id,
    // and whatever sits first in the entry ring (forces a ring refill)
    val ringFirst = spark.read.parquet(s"$cur/entries")
      .orderBy(col("r").asc).limit(1).select("id").as[Long].head()
    val victims = Set(0L, 100L, ringFirst)
    val touched = Maintain.retract(spark, cur, victims.toSeq.toDF("id"))
    assert(touched.contains("knn"), s"$touched")
    val after = serve()
    assert(after.intersect(victims).isEmpty,
      s"retracted ids still serve: ${after.intersect(victims)}")
    // batch partitions are PHYSICALLY purged; base is tombstoned
    assert(spark.read.parquet(s"$cur/vectors_batches")
      .filter(col("id") === 100L).count() == 0L)
    assert(spark.read.parquet(s"$cur/retracted")
      .select("id").as[Long].collect().toSet == victims - 100L)
    // idempotent rerun
    Maintain.retract(spark, cur, victims.toSeq.toDF("id"))
    assert(serve() == after)
    // readmit id 0: batches are not tombstone-filtered, so the fresh
    // append serves
    KnnGraph.appendToKnnIndex(spark, cur,
      Seq((0L, vec(0))).toDF("id", "v"), "b2")
    assert(serve().contains(0L), "readmitted id must serve again")
    // compaction reads through the tombstones: clean version, victims
    // physically gone, readmitted id kept
    Maintain.knnCompact(spark, wh, "g", "1")
    val f = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$cur/retracted")))
    val stored = spark.read.parquet(s"$cur/vectors")
      .select("id").as[Long].collect().toSet
    assert(!stored.contains(ringFirst) && stored.contains(0L),
      s"compacted store wrong: $stored")
  }

  test("IVF and IVF-PQ: retraction rewrites only the victim cells' " +
      "partitions — indexed serving equals the in-memory twin on the " +
      "remaining corpus under the stored (frozen) model") {
    val rnd = new scala.util.Random(7)
    def vec(axis: Int) = Seq.tabulate(8)(d =>
      (if (d == axis) 5.0 else 0.0) + rnd.nextGaussian() * 0.05)
    val full = (0L until 40L).map(i => (i, vec((i % 2).toInt)))
      .toDF("id", "v")
    val queries = full.filter(col("id") % 10 === 1)
    val victims = Seq(2L, 4L, 17L)
    val remaining = full.filter(!col("id").isInCollection(victims))

    // IVF
    val ivfDir = tmp("ivf")
    val cent = Similarity.buildIvf(full, numCells = 2, iters = 1)
    Similarity.writeIvfIndex(full, cent, ivfDir)
    val touched = Maintain.retract(spark, ivfDir, victims.toDF("id"))
    assert(touched == Seq("ivf"), s"$touched")
    val got = Similarity.ivfTopKIndexed(spark, ivfDir, queries,
        nprobe = 2, k = 3)
      .select("vec_id", "other_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val want = Similarity.ivfTopK(remaining, cent, queries, nprobe = 2,
        k = 3)
      .select("vec_id", "other_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, "ivf post-retraction parity")
    assert(!got.exists(t => victims.contains(t._2)))

    // IVF-PQ
    val pqDir = tmp("ivfpq")
    val cb = Similarity.pqTrain(full, m = 2, subDim = 4, numCodes = 4,
      iters = 2)
    Similarity.writeIvfPqIndex(full, cent, cb, pqDir, m = 2, subDim = 4)
    val touched2 = Maintain.retract(spark, pqDir, victims.toDF("id"))
    assert(touched2 == Seq("ivfpq"), s"$touched2")
    val gotPq = Similarity.ivfPqTopKIndexed(spark, pqDir, queries,
        nprobe = 2, m = 2, subDim = 4, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val wantPq = Similarity.ivfPqTopK(remaining, cent, cb, queries,
        nprobe = 2, m = 2, subDim = 4, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotPq == wantPq, "ivfpq post-retraction parity")
  }

  test("minhash and pHash root layouts: retraction purges the victims' " +
      "batch rows — near-dup serving stops naming them, survivors serve " +
      "identically") {
    import graft.operators.Multimodal
    // minhash warehouse db
    val mhDir = tmp("mhroot")
    val docA = "the quick brown fox jumps over the lazy dog again and again"
    Dedup.writeMinhashIndex(Seq((1L, docA),
        (2L, docA + " tail"), (3L, "unrelated spark catalyst plans"))
      .toDF("doc_id", "text"), "doc_id", "text", mhDir)
    def mhHits(): Set[Long] = {
      val m = Dedup.nearDupAgainstIndex(spark, mhDir,
        Seq((500L, docA)).toDF("doc_id", "text"), "doc_id", "text")
      val r = m.df.select("id_old").as[Long].collect().toSet
      m.close(); r
    }
    assert(mhHits() == Set(1L, 2L))
    val t1 = Maintain.retract(spark, mhDir, Seq(1L).toDF("id"))
    assert(t1 == Seq("minhash"), s"$t1")
    assert(mhHits() == Set(2L), "victim still band-matches")
    assert(spark.read.parquet(s"$mhDir/shingles")
      .filter(col("id") === 1L).count() == 0L)

    // pHash warehouse db
    val phDir = tmp("phroot")
    def mix(id: Long, p: Long): Long = {
      var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0xffL
    }
    def rec(id: Long, seed: Long, nudge: Int) =
      Multimodal.MediaRecord(id, Multimodal.encodeGrayPixelsPng(16, 16,
        Array.tabulate(256)(p => (mix(seed, p.toLong).toInt +
          (if (p < 40) nudge else 0)).min(255))), "image/png")
    Multimodal.writePhashIndex(
      Seq(rec(10L, 1, 0), rec(11L, 1, 7), rec(12L, 2, 0)).toDS(), phDir)
    def phHits(): Set[Long] =
      Multimodal.phashNearDupAgainstIndex(spark, phDir,
          Seq(rec(600L, 1, 0)).toDS())
        .select("id_old").as[Long].collect().toSet
    assert(phHits() == Set(10L, 11L))
    val t2 = Maintain.retract(spark, phDir, Seq(10L).toDF("id"))
    assert(t2 == Seq("phash"), s"$t2")
    assert(phHits() == Set(11L))

    // audio warehouse db: clip 21 is a 2x-gain re-encode of clip 20
    val auDir = tmp("auroot")
    def clip(id: Long, src: Long, gain: Int) = {
      def v(w: Int): Short = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$src:$w".getBytes("UTF-8")).take(4)
          .map("%02x".format(_)).mkString
        ((java.lang.Long.parseLong(hex, 16) % 997L) + 1L).toShort
      }
      Multimodal.MediaRecord(id, Multimodal.encodePcm16Wav(8000, 1,
        Array.tabulate[Short](24 * 50)(i => (v(i / 50) * gain).toShort)),
        "audio/wav")
    }
    Multimodal.writeAudioIndex(Seq(clip(20L, 1L, 1), clip(21L, 1L, 2),
      clip(22L, 2L, 1)).toDS(), auDir, windowFrames = 50, k = 8)
    def auHits(): Set[Long] =
      Multimodal.audioNearDupAgainstIndex(spark, auDir,
          Seq(clip(700L, 1L, 3)).toDS())
        .select("id_old").as[Long].collect().toSet
    assert(auHits() == Set(20L, 21L))
    val t3 = Maintain.retract(spark, auDir, Seq(20L).toDF("id"))
    assert(t3 == Seq("audio"), s"$t3")
    assert(auHits() == Set(21L))
    assert(spark.read.parquet(s"$auDir/sizes")
      .filter(col("id") === 20L).count() == 0L)

    // video warehouse db: video 31 is a frame-0 nudge of video 30
    val vdDir = tmp("vdroot")
    def vid(id: Long, seed: Long, nudge: Int) =
      Multimodal.MediaRecord(id, Multimodal.encodeSamplesMp4(1000, 3000,
        (0 to 2).map(f => Multimodal.encodeGrayPixelsPng(16, 16,
          Array.tabulate(256)(p => ((seed * 31 + f * 53 + p +
            (p % 16) * 16 + (if (f == 0 && p == 0) nudge else 0))
            % 256).toInt)))), "video/mp4")
    Multimodal.writeVideoIndex(Seq(vid(30L, 1L, 0), vid(31L, 1L, 9),
      vid(32L, 2L, 0)).toDS(), vdDir, nBands = 4)
    def vdHits(): Set[Long] =
      Multimodal.videoNearDupAgainstIndex(spark, vdDir,
          Seq(vid(800L, 1L, 0)).toDS())
        .select("id_old").as[Long].collect().toSet
    assert(vdHits() == Set(30L, 31L))
    val t4 = Maintain.retract(spark, vdDir, Seq(30L).toDF("id"))
    assert(t4 == Seq("video"), s"$t4")
    assert(vdHits() == Set(31L))
    assert(spark.read.parquet(s"$vdDir/sizes")
      .filter(col("id") === 30L).count() == 0L)
  }

  test("semantic root-layout index: retraction drops assigned rows and " +
      "victim centroids; pairs against retracted docs stop; readmit " +
      "pairs again") {
    val dir = tmp("sem")
    def vec(axis: Int, eps: Double) = Seq.tabulate(8)(d =>
      (if (d == axis) 1.0 else 0.0) + (if (d == (axis + 1) % 8) eps else 0.0))
    val vecs = (0L until 12L).map(i =>
      (i, vec((i % 2).toInt, 0.01 * i))).toDF("id", "v")
    Curation.writeSemIndex(vecs, Curation.semCentroidSample(vecs, 4),
      dir, centroidEvery = 4, nassign = 2)
    val probe = Seq((900L, vec(0, 0.015))).toDF("id", "v")
    def pairs(): Set[Long] =
      Curation.semNearDupAgainstIndex(spark, dir, probe, 9000L)
        .select("id_old").as[Long].collect().toSet
    val before = pairs()
    assert(before.contains(0L), s"$before")
    val centIds = spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().toSet
    val victim = 0L
    val touched = Maintain.retract(spark, dir, Seq(victim).toDF("id"))
    assert(touched == Seq("sem"), s"$touched")
    assert(!pairs().contains(victim), "retracted doc still pairs")
    if (centIds.contains(victim))
      assert(!spark.read.parquet(s"$dir/centroids")
        .select("cid").as[Long].collect().toSet.contains(victim),
        "victim centroid must drop")
    // readmit under a fresh batch: serves again
    Curation.appendSemVectors(spark, dir,
      Seq((victim, vec(0, 0.0))).toDF("id", "v"), "b9")
    assert(pairs().contains(victim), "readmitted doc must pair")
  }
}
