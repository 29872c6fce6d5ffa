package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextStats}
import graft.pipeline.{Maintain, Restore}

/** Index lifecycle maintenance: append-until-drift → decision flip →
  * retrain/compact into a new published version → serving parity.
  */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private def tmpWarehouse(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_maint_$tag").toString

  test("IVF: aligned appends decide none; drifted appends flip to " +
      "retrain; retrain publishes a new version whose serving equals a " +
      "fresh build over the full corpus and resets the decision") {
    val wh = tmpWarehouse("ivf")
    val rnd = new scala.util.Random(3)
    // base corpus: two tight clusters around orthogonal axes
    def cluster(n: Int, axis: Int, off: Long) = Seq.tabulate(n) { i =>
      (off + i, Seq.tabulate(8)(d =>
        (if (d == axis) 5.0 else 0.0) + rnd.nextGaussian() * 0.05))
    }
    val base = (cluster(40, 0, 0L) ++ cluster(40, 1, 1000L))
      .toDF("id", "v")
    Restore.publishVersionedDir(spark, wh, "ivfidx", "0") { vdir =>
      Similarity.writeIvfIndex(base,
        Similarity.buildIvf(base, numCells = 2, iters = 1), vdir.toString)
    }
    def curDir = Restore.resolveVersioned(spark, wh, "ivfidx").get.toString
    assert(Maintain.ivfDecision(spark, curDir).action == "none")

    // an ALIGNED batch (same clusters, new ids): high cosine, no retrain
    val aligned = (cluster(10, 0, 5000L) ++ cluster(10, 1, 6000L))
      .toDF("id", "v")
    Maintain.appendIvfRecorded(spark, curDir, aligned, "b1")
    val d1 = Maintain.ivfDecision(spark, curDir)
    assert(d1.action == "none" && d1.metric > 8500L, d1.toString)

    // a DRIFTED batch: a new cluster on an axis no centroid owns —
    // appended vectors score near-zero cosine to their frozen centroid
    val drifted = cluster(60, 5, 9000L).toDF("id", "v")
    Maintain.appendIvfRecorded(spark, curDir, drifted, "b2")
    val d2 = Maintain.ivfDecision(spark, curDir)
    assert(d2.action == "retrain" && d2.metric < 8500L, d2.toString)

    // retrain: new version, fresh centroids fit the drifted corpus
    val newDir = Maintain.ivfRetrain(spark, wh, "ivfidx", "1",
      numCells = 3, iters = 1)
    assert(curDir == newDir.toString, "marker did not flip")
    assert(Maintain.ivfDecision(spark, curDir).action == "none",
      "fresh version must carry no drift ledger")
    // serving parity: the retrained index answers exactly like the
    // in-memory path over the full corpus with the same deterministic
    // build (buildIvf is hash-seeded and fixed-point — same vector set,
    // same centroids)
    val full = base.unionByName(aligned).unionByName(drifted)
    val queries = full.filter(col("id") % 10 === 0)
    val got = Similarity.ivfTopKIndexed(spark, curDir, queries,
        nprobe = 2, k = 3)
      .select("vec_id", "other_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val want = Similarity.ivfTopK(full,
        Similarity.buildIvf(full, numCells = 3, iters = 1), queries,
        nprobe = 2, k = 3)
      .select("vec_id", "other_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // the drifted cluster is now served well: its members' top hits are
    // in-cluster (the frozen-centroid index had them scattered)
    val driftedHits = got.filter(t => t._1 >= 9000L && t._3 == 1L)
    assert(driftedHits.nonEmpty && driftedHits.forall(_._2 >= 9000L),
      driftedHits.toString)
  }

  test("BM25: batch-count decision flips at the threshold; compaction " +
      "publishes one base batch with bit-identical serving") {
    val wh = tmpWarehouse("bm25")
    // doc 3 normalizes to ZERO tokens: it has no postings row but DOES
    // count in the writer's n_part — compaction must preserve it (a
    // postings-derived n would shrink, shifting avgdl and every IDF)
    val docs = Seq((1L, "spark catalyst plans joins"),
      (2L, "catalyst codegen stages"), (3L, "!!!")).toDF("doc_id", "text")
    Restore.publishVersionedDir(spark, wh, "bm", "0") { vdir =>
      TextStats.writeBm25Index(docs, "doc_id", "text", vdir.toString)
    }
    def curDir = Restore.resolveVersioned(spark, wh, "bm").get.toString
    for (b <- 1 to 3)
      TextStats.appendToBm25Index(spark, curDir,
        Seq((100L + b, s"batch $b spark joins document"),
          (200L + b, "???"))
          .toDF("doc_id", "text"),
        "doc_id", "text", s"b$b")
    val d = Maintain.bm25Decision(spark, curDir, maxBatches = 2)
    assert(d.action == "compact" && d.metric == 4L, d.toString)
    val queries = Seq((1L, "spark"), (1L, "joins"), (2L, "catalyst"))
      .toDF("qid", "term")
    val before = TextStats.bm25AgainstIndex(spark, curDir, queries,
        "qid", "term", k = 3)
      .select("qid", "id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    Maintain.bm25Compact(spark, wh, "bm", "1")
    val dAfter = Maintain.bm25Decision(spark, curDir, maxBatches = 2)
    assert(dAfter.action == "none" && dAfter.metric == 1L, dAfter.toString)
    // n survives compaction INCLUDING the 4 zero-token docs (3 base +
    // one per append batch = 9 docs total, only 5 with postings)
    val metaAfter = spark.read.parquet(s"$curDir/meta")
      .agg(sum("n_part"), sum("dlsum_part")).head()
    assert(metaAfter.getLong(0) == 9L,
      s"compacted n = ${metaAfter.getLong(0)}, want 9 (zero-token docs dropped?)")
    val after = TextStats.bm25AgainstIndex(spark, curDir, queries,
        "qid", "term", k = 3)
      .select("qid", "id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(after == before, "compaction changed serving results")
  }

  test("MinHash: compaction merges committed batches; near-dup serving " +
      "is bit-identical and the banding meta survives") {
    val wh = tmpWarehouse("mh")
    val docA = "the quick brown fox jumps over the lazy dog again and again"
    val old = Seq((1L, docA),
      (2L, "completely different content about spark catalyst plans"))
      .toDF("doc_id", "text")
    Restore.publishVersionedDir(spark, wh, "mh", "0") { vdir =>
      Dedup.writeMinhashIndex(old, "doc_id", "text", vdir.toString)
    }
    def curDir = Restore.resolveVersioned(spark, wh, "mh").get.toString
    for (b <- 1 to 3)
      Dedup.appendToMinhashIndex(spark, curDir,
        Seq((100L + b, docA + s" tail $b")).toDF("doc_id", "text"),
        "doc_id", "text", s"b$b")
    assert(Maintain.minhashDecision(spark, curDir, maxBatches = 2)
      .action == "compact")
    // exact dup of an indexed doc: band match guaranteed (identical
    // shingle set), so the parity compare has content on both sides
    val probe = Seq((500L, docA)).toDF("doc_id", "text")
    def serve(): Set[(Long, Long, Long)] = {
      val m = Dedup.nearDupAgainstIndex(spark, curDir, probe,
        "doc_id", "text")
      val r = m.df.select("id_new", "id_old", "jacc_e4")
        .as[(Long, Long, Long)].collect().toSet
      m.close(); r
    }
    val before = serve()
    assert(before.nonEmpty, "probe should band-match the planted dups")
    Maintain.minhashCompact(spark, wh, "mh", "1")
    assert(Maintain.minhashDecision(spark, curDir, maxBatches = 2)
      .metric == 1L)
    assert(serve() == before, "compaction changed near-dup serving")
  }

  test("pHash: compaction merges committed batches; near-dup serving is " +
      "bit-identical and the banding meta survives") {
    import graft.operators.Multimodal
    val wh = tmpWarehouse("ph")
    def mix(id: Long, p: Long): Long = {
      var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0xffL
    }
    def rec(id: Long, seed: Long, nudge: Int) =
      Multimodal.MediaRecord(id, Multimodal.encodeGrayPixelsPng(16, 16,
        Array.tabulate(256)(p => (mix(seed, p.toLong).toInt +
          (if (p < 40) nudge else 0)).min(255))), "image/png")
    val old = (0L until 4L).map(i => rec(i, i, 0)).toDS()
    Restore.publishVersionedDir(spark, wh, "ph", "0") { vdir =>
      Multimodal.writePhashIndex(old, vdir.toString)
    }
    def curDir = Restore.resolveVersioned(spark, wh, "ph").get.toString
    for (b <- 1 to 3)
      Multimodal.appendToPhashIndex(spark, curDir,
        Seq(rec(100L + b, b.toLong % 4L, 7)).toDS(), s"b$b")
    assert(Maintain.phashDecision(spark, curDir, maxBatches = 2)
      .action == "compact")
    // probe: a mutation of base image 0 — band match guaranteed against
    // both the base batch and append b4's copy family
    val probe = Seq(rec(500L, 0L, 12)).toDS()
    def serve(): Set[(Long, Long, Long)] =
      Multimodal.phashNearDupAgainstIndex(spark, curDir, probe, 3)
        .as[(Long, Long, Long)].collect().toSet
    val before = serve()
    assert(before.exists(_._2 == 0L), s"probe should match base 0: $before")
    Maintain.phashCompact(spark, wh, "ph", "1")
    assert(Maintain.phashDecision(spark, curDir, maxBatches = 2)
      .metric == 1L)
    assert(Multimodal.readPhashMeta(spark, curDir) == 4)
    assert(serve() == before, "compaction changed near-dup serving")
  }

  private def pqCluster(rnd: scala.util.Random, n: Int, axis: Int,
                        off: Long, noise: Double) = Seq.tabulate(n) { i =>
    (off + i, Seq.tabulate(8)(d =>
      (if (d == axis) 5.0 else 0.0) + rnd.nextGaussian() * noise))
  }

  test("IVF-PQ: append against frozen centroids+codebook serves " +
      "bit-identically to a fresh build of the union (raw and residual)") {
    val rnd = new scala.util.Random(7)
    val a = (pqCluster(rnd, 30, 0, 0L, 0.05) ++
      pqCluster(rnd, 30, 1, 1000L, 0.05)).toDF("id", "v")
    val b = (pqCluster(rnd, 8, 0, 5000L, 0.05) ++
      pqCluster(rnd, 8, 1, 6000L, 0.05)).toDF("id", "v")
    val full = a.unionByName(b)
    val queries = full.filter(col("id") % 9 === 0)
    val cent = Similarity.buildIvf(a, numCells = 2, iters = 1)
      .persist()
    for (residual <- Seq(false, true)) {
      val cb =
        if (!residual) Similarity.pqTrain(a, m = 2, subDim = 4,
          numCodes = 4, iters = 2)
        else {
          val cc = broadcast(cent.select(col("id").as("cid"),
            col("v").as("cv")))
          Similarity.pqTrain(Similarity.ivfAssign(a, cc).join(cc, Seq("cid"))
            .select(col("other_id").as("id"),
              zip_with(col("vb"), col("cv"), (x, y) => x - y).as("v")),
            m = 2, subDim = 4, numCodes = 4, iters = 2)
        }
      val cbP = cb.persist()
      val inc = java.nio.file.Files
        .createTempDirectory(s"graft_pqapp_inc_$residual").toString
      val oneShot = java.nio.file.Files
        .createTempDirectory(s"graft_pqapp_full_$residual").toString
      Similarity.writeIvfPqIndex(a, cent, cbP, inc, m = 2, subDim = 4,
        residual = residual)
      val drift = Similarity.appendToIvfPqIndex(spark, inc, b, "b1")
      assert(drift.select(sum("n_added")).head().getLong(0) == 16L)
      // retry idempotence: the reused batch id replaces its own
      // partitions — no vector double-append (round-12 ADVICE)
      Similarity.appendToIvfPqIndex(spark, inc, b, "b1")
      assert(spark.read.parquet(s"$inc/assigned").count() == 76L,
        s"retried PQ append double-appended (residual=$residual)")
      Similarity.writeIvfPqIndex(full, cent, cbP, oneShot, m = 2,
        subDim = 4, residual = residual)
      def serve(dir: String) = {
        val got =
          if (!residual) Similarity.ivfPqTopKIndexed(spark, dir, queries,
            nprobe = 2, m = 2, subDim = 4, k = 3)
          else Similarity.ivfPqTopKResidualIndexed(spark, dir, queries,
            nprobe = 2, m = 2, subDim = 4, k = 3)
        got.as[(Long, Long, Long, Long)].collect().toSet
      }
      assert(serve(inc) == serve(oneShot),
        s"append parity broke (residual=$residual)")
      cbP.unpersist()
    }
    cent.unpersist()
  }

  test("IVF-PQ: a cosine-covered but codebook-misfit batch fires the " +
      "qerr-ratio retrain; retrain re-fits both quantizers, resets the " +
      "decision, and serves like a fresh deterministic build") {
    val wh = tmpWarehouse("ivfpq")
    val rnd = new scala.util.Random(11)
    val base = (pqCluster(rnd, 40, 0, 0L, 0.05) ++
      pqCluster(rnd, 40, 1, 1000L, 0.05)).toDF("id", "v")
    Restore.publishVersionedDir(spark, wh, "pqidx", "0") { vdir =>
      Similarity.writeIvfPqIndex(base,
        Similarity.buildIvf(base, numCells = 2, iters = 1),
        Similarity.pqTrain(base, m = 2, subDim = 4, numCodes = 4,
          iters = 2),
        vdir.toString, m = 2, subDim = 4)
    }
    def curDir = Restore.resolveVersioned(spark, wh, "pqidx").get.toString
    assert(Maintain.ivfPqDecision(spark, curDir).action == "none")

    // aligned batch: same clusters — tiny qerr, high cosine → none
    // minMeanCscoreE4 = 7000: the 2-seed hash build blends the clusters
    // (base cosine ~0.77 to the blended centroid) — irrelevant to this
    // test's axis, so set the centroid threshold below it to isolate
    // the codebook-fit trigger
    Maintain.appendIvfPqRecorded(spark, curDir,
      pqCluster(rnd, 10, 0, 5000L, 0.05).toDF("id", "v"), "b1")
    val d1 = Maintain.ivfPqDecision(spark, curDir,
      minMeanCscoreE4 = 7000L)
    assert(d1.action == "none", d1.toString)

    // misfit batch: SAME dominant axis (cosine to its centroid stays
    // above the centroid-drift threshold) but broad noise the tight
    // codebook never saw — the quantization error explodes while the
    // IVF axis looks healthy. This is the failure mode only the qerr
    // ratio can catch.
    Maintain.appendIvfPqRecorded(spark, curDir,
      pqCluster(rnd, 30, 0, 9000L, 0.8).toDF("id", "v"), "b2")
    val d2 = Maintain.ivfPqDecision(spark, curDir,
      minMeanCscoreE4 = 7000L)
    assert(d2.action == "retrain" &&
      d2.detail.contains("codebook no longer fits"), d2.toString)

    val newDir = Maintain.ivfPqRetrain(spark, wh, "pqidx", "1",
      numCodes = 4, pqIters = 2, numCells = 3, ivfIters = 1)
    assert(curDir == newDir.toString, "marker did not flip")
    assert(Maintain.ivfPqDecision(spark, curDir).action == "none",
      "fresh version must carry no drift ledger")
    // serving parity with the same deterministic build done in-memory
    val full = spark.read.parquet(s"$curDir/assigned")
      .select(col("id"), col("vb").as("v"))
    val queries = full.filter(col("id") % 10 === 0)
    val cent2 = Similarity.buildIvf(full, numCells = 3, iters = 1)
    val cb2 = Similarity.pqTrain(full, m = 2, subDim = 4, numCodes = 4,
      iters = 2)
    val got = Similarity.ivfPqTopKIndexed(spark, curDir, queries,
        nprobe = 2, m = 2, subDim = 4, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = Similarity.ivfPqTopK(full, cent2, cb2, queries, nprobe = 2,
        m = 2, subDim = 4, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, "retrained serving diverged from fresh build")
    // and the refreshed codebook actually fits the misfit batch better
    val misfit = full.filter(col("id") >= 9000L)
    def meanQerr(cb: org.apache.spark.sql.DataFrame): Long =
      Similarity.pqQerrE4(misfit, cb, m = 2, subDim = 4)
        .agg(floor(avg("qerr_e4") + lit(0.5)).cast("long")).head().getLong(0)
    val oldCb = Similarity.pqTrain(base, m = 2, subDim = 4, numCodes = 4,
      iters = 2)
    assert(meanQerr(cb2) < meanQerr(oldCb),
      "retrain did not reduce quantization error on the misfit batch")
  }

  test("decideAll sweeps every family present under an increment state") {
    import graft.pipeline.{Increment, IncrementConfig, Maintain}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_decide_all").toString
    val text = "the table row scan key " +
      (1 to 24).map(i => s"w$i").mkString(" ")
    Increment.curateIncrement(
      Seq(1L -> text).toDF("doc_id", "text"), "doc_id", "text", dir,
      "b1", IncrementConfig(minQualityE4 = 0,
        semDedupThresholdE4 = Some(9500L)))
    val ds = Maintain.decideAll(spark, dir)
    assert(ds.map(_.index).toSet == Set("minhash", "sem"), s"$ds")
    assert(ds.forall(_.action == "none"), s"$ds")
    // funnel sub-states are ADVISORY: the warehouse executors do not
    // apply under an increment root (rewriting a sub-index's batch ids
    // to `base` would break the minhash-committed serving intersection)
    assert(ds.forall(_.advisory), s"$ds")
    // an empty root decides nothing
    assert(Maintain.decideAll(spark, java.nio.file.Files
      .createTempDirectory("graft_decide_none").toString).isEmpty)
  }

  test("executeAll: one sweep compacts every tripped warehouse family, " +
      "serving parity holds, a rerun decides none, and a kill-mid-sweep " +
      "resumes under a fresh token without double-compacting") {
    import graft.operators.Curation
    val wh = tmpWarehouse("execall")
    val docA = "the quick brown fox jumps over the lazy dog again and again"

    // family 1: minhash (3 appends past maxBatches=2)
    Restore.publishVersionedDir(spark, wh, "mh", "0") { vdir =>
      Dedup.writeMinhashIndex(Seq((1L, docA),
          (2L, "completely different content about spark catalyst plans"))
        .toDF("doc_id", "text"), "doc_id", "text", vdir.toString)
    }
    def mhDir = Restore.resolveVersioned(spark, wh, "mh").get.toString
    for (b <- 1 to 3)
      Dedup.appendToMinhashIndex(spark, mhDir,
        Seq((100L + b, docA + s" tail $b")).toDF("doc_id", "text"),
        "doc_id", "text", s"b$b")

    // family 2: bm25
    Restore.publishVersionedDir(spark, wh, "bm", "0") { vdir =>
      TextStats.writeBm25Index(Seq((1L, "spark catalyst plans joins"),
          (2L, "catalyst codegen stages")).toDF("doc_id", "text"),
        "doc_id", "text", vdir.toString)
    }
    def bmDir = Restore.resolveVersioned(spark, wh, "bm").get.toString
    for (b <- 1 to 3)
      TextStats.appendToBm25Index(spark, bmDir,
        Seq((100L + b, s"batch $b spark joins document"))
          .toDF("doc_id", "text"), "doc_id", "text", s"b$b")

    // family 3: semantic (vector index)
    def vec(axis: Int, eps: Double) =
      Seq.tabulate(8)(d => (if (d == axis) 1.0 else 0.0) +
        (if (d == (axis + 1) % 8) eps else 0.0))
    // 32 base vectors so the 6 appended stay under semDecision's
    // retrain axis (1875e-4 < 2500e-4) — this sweep tests COMPACT
    val baseVecs = (0L until 32L).map(i =>
      (i, vec((i % 2).toInt, 0.01 * i))).toDF("id", "v")
    Restore.publishVersionedDir(spark, wh, "sm", "0") { vdir =>
      Curation.writeSemIndex(baseVecs,
        Curation.semCentroidSample(baseVecs, 3), vdir.toString,
        centroidEvery = 3, nassign = 2)
    }
    def smDir = Restore.resolveVersioned(spark, wh, "sm").get.toString
    for (b <- 1 to 3)
      Curation.appendSemVectors(spark, smDir,
        (0L until 2L).map(i => (100L * b + i, vec(i.toInt, 0.02)))
          .toDF("id", "v"), s"b$b")

    // families 4 and 5: audio fingerprints and video keyframes
    import graft.operators.Multimodal
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
    def vid(id: Long, seed: Long, nudge: Int) =
      Multimodal.MediaRecord(id, Multimodal.encodeSamplesMp4(1000, 3000,
        (0 to 2).map(f => Multimodal.encodeGrayPixelsPng(16, 16,
          Array.tabulate(256)(p => ((seed * 31 + f * 53 + p +
            (p % 16) * 16 + (if (f == 0 && p == 0) nudge else 0))
            % 256).toInt)))), "video/mp4")
    Restore.publishVersionedDir(spark, wh, "au", "0") { vdir =>
      Multimodal.writeAudioIndex(Seq(clip(1L, 1L, 1), clip(2L, 2L, 1))
        .toDS(), vdir.toString, windowFrames = 50, k = 8)
    }
    def auDir = Restore.resolveVersioned(spark, wh, "au").get.toString
    Restore.publishVersionedDir(spark, wh, "vd", "0") { vdir =>
      Multimodal.writeVideoIndex(Seq(vid(1L, 1L, 0), vid(2L, 2L, 0))
        .toDS(), vdir.toString, nBands = 4)
    }
    def vdDir = Restore.resolveVersioned(spark, wh, "vd").get.toString
    for (b <- 1 to 3) {
      Multimodal.appendToAudioIndex(spark, auDir,
        Seq(clip(100L + b, 1L, 2), clip(200L + b, 10L + b, 1)).toDS(),
        s"b$b")
      Multimodal.appendToVideoIndex(spark, vdDir,
        Seq(vid(100L + b, 1L, 9), vid(200L + b, 10L + b, 0)).toDS(),
        s"b$b")
    }

    // serving captures (pre-sweep)
    def serveMh(): Set[(Long, Long, Long)] = {
      val m = Dedup.nearDupAgainstIndex(spark, mhDir,
        Seq((500L, docA)).toDF("doc_id", "text"), "doc_id", "text")
      val r = m.df.select("id_new", "id_old", "jacc_e4")
        .as[(Long, Long, Long)].collect().toSet
      m.close(); r
    }
    def serveBm(): Set[(Long, Long, Long, Long)] =
      TextStats.bm25AgainstIndex(spark, bmDir,
          Seq((1L, "spark"), (2L, "catalyst")).toDF("qid", "term"),
          "qid", "term", k = 3)
        .select("qid", "id", "score_e6", "rnk")
        .as[(Long, Long, Long, Long)].collect().toSet
    def serveSm(): Set[(Long, Long)] =
      Curation.semNearDupAgainstIndex(spark, smDir,
          Seq((900L, vec(0, 0.011))).toDF("id", "v"),
          thresholdE4 = 9000L)
        .select("id_new", "id_old")
        .as[(Long, Long)].collect().toSet
    def serveAu(): Set[(Long, Long, Long)] =
      Multimodal.audioNearDupAgainstIndex(spark, auDir,
          Seq(clip(900L, 1L, 3), clip(901L, 12L, 2)).toDS())
        .select("id_new", "id_old", "match_e4")
        .as[(Long, Long, Long)].collect().toSet
    def serveVd(): Set[(Long, Long, Long)] =
      Multimodal.videoNearDupAgainstIndex(spark, vdDir,
          Seq(vid(900L, 1L, 0), vid(901L, 12L, 9)).toDS())
        .select("id_new", "id_old", "sim_e4")
        .as[(Long, Long, Long)].collect().toSet
    val (mh0, bm0, sm0) = (serveMh(), serveBm(), serveSm())
    val (au0, vd0) = (serveAu(), serveVd())
    assert(au0.map(_._2) == Set(1L, 101L, 102L, 103L, 202L), s"$au0")
    assert(vd0.map(_._2) == Set(1L, 101L, 102L, 103L, 202L), s"$vd0")
    assert(mh0.nonEmpty && bm0.nonEmpty && sm0.nonEmpty,
      s"probes must have content: $mh0 / $bm0 / $sm0")

    // KILL-MID-SWEEP simulation: poison bm's first token so its publish
    // throws AFTER mh already published (dbs processed in order)
    val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh, "bm__vt1"))
    intercept[IllegalArgumentException] {
      Maintain.executeAll(spark, wh, Seq("mh", "bm", "sm", "au", "vd"),
        "t1", maxBatches = 2)
    }
    // mh landed, bm/sm did not
    assert(Maintain.minhashDecision(spark, mhDir, maxBatches = 2)
      .action == "none", "mh should have compacted before the kill")
    assert(Maintain.bm25Decision(spark, bmDir, maxBatches = 2)
      .action == "compact", "bm must be untouched after the kill")

    // resume under a FRESH token: mh re-decides none (skipped), bm/sm
    // execute — the crash-safe re-decision contract
    val resumed = Maintain.executeAll(spark, wh,
      Seq("mh", "bm", "sm", "au", "vd"), "t2", maxBatches = 2)
    val byDb = resumed.groupBy(_.db)
    assert(byDb("mh").forall(_.note == "no action needed"),
      s"mh double-compacted: ${byDb("mh")}")
    assert(byDb("bm").exists(e =>
        e.note == "executed" && e.decision.action == "compact" &&
        e.version.isDefined), s"${byDb("bm")}")
    assert(byDb("sm").exists(e =>
        e.note == "executed" && e.decision.action == "compact"),
      s"${byDb("sm")}")

    // serving parity across the whole sweep
    assert(serveMh() == mh0, "minhash serving changed")
    assert(serveBm() == bm0, "bm25 serving changed")
    assert(serveSm() == sm0, "sem serving changed")
    for (db <- Seq("au", "vd"))
      assert(byDb(db).exists(e =>
          e.note == "executed" && e.decision.action == "compact"),
        s"${byDb(db)}")
    assert(serveAu() == au0, "audio serving changed")
    assert(serveVd() == vd0, "video serving changed")
    assert(spark.read.parquet(s"$auDir/sizes").select("batch_id")
      .distinct().as[String].collect().toSeq == Seq("base"))
    assert(spark.read.parquet(s"$vdDir/frames").select("batch_id")
      .distinct().as[String].collect().toSeq == Seq("base"))

    // a third sweep decides none everywhere; unknown db is skipped loudly
    val idle = Maintain.executeAll(spark, wh,
      Seq("mh", "bm", "sm", "au", "vd", "nope"), "t3", maxBatches = 2)
    assert(idle.count(_.note == "executed") == 0, s"$idle")
    assert(idle.exists(e => e.db == "nope" &&
      e.note.contains("no current version")), s"$idle")
    assert(Maintain.minhashDecision(spark, mhDir, maxBatches = 2)
      .metric == 1L, "compaction must leave one base batch")
    assert(Maintain.bm25Decision(spark, bmDir, maxBatches = 2)
      .metric == 1L, "compaction must leave one base batch")
  }

  test("compactStates sweeps increment roots: over-budget states " +
      "compact whole into the dest root, within-budget skip, reruns " +
      "converge, a torn dest re-compacts") {
    import graft.pipeline.{Increment, IncrementConfig}
    def goodText(salt: String): String =
      s"the table row scan key " +
        (1 to 24).map(i => s"$salt$i").mkString(" ") + " the a"
    val root = tmpWarehouse("states")
    val dest = tmpWarehouse("states_dst")
    val cfg = IncrementConfig(minQualityE4 = 0)
    // state A: three committed batches (over budget at maxBatches = 2)
    for ((b, s) <- Seq("b1" -> "one", "b2" -> "two", "b3" -> "three"))
      Increment.curateIncrement(
        Seq(s.hashCode.toLong.abs -> goodText(s)).toDF("doc_id", "text"),
        "doc_id", "text", s"$root/stateA", b, cfg)
    // state B: one batch (within budget); a plain dir is ignored
    Increment.curateIncrement(
      Seq(9L -> goodText("nine")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/stateB", "b1", cfg)
    new java.io.File(s"$root/not_a_state").mkdirs()
    val ex = Maintain.compactStates(spark, root, dest, "t1",
      maxBatches = 2)
    assert(ex.map(e => e.db -> e.note).toMap ==
      Map("stateA" -> "executed", "stateB" -> "no action needed"), ex)
    val destA = s"$dest/stateA_t1"
    def ledger(dir: String) = Increment.readLedger(spark, dir)
      .select("id", "admitted", "reason")
      .as[(Long, Boolean, String)].collect().toSet
    assert(ledger(destA) == ledger(s"$root/stateA"))
    assert(spark.read.parquet(s"$destA/exact/keys")
      .select("batch_id").distinct().as[String].collect().toSet ==
      Set("base"))
    // rerun with the same token: completed dest skips
    val ex2 = Maintain.compactStates(spark, root, dest, "t1",
      maxBatches = 2)
    assert(ex2.find(_.db == "stateA").get.note ==
      "already compacted — rerun skip")
    // torn dest (marker lost mid-compact): the rerun re-executes
    val fsys = new org.apache.hadoop.fs.Path(destA).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$destA/minhash/meta"),
      true)
    val ex3 = Maintain.compactStates(spark, root, dest, "t1",
      maxBatches = 2)
    assert(ex3.find(_.db == "stateA").get.note == "executed")
    assert(ledger(destA) == ledger(s"$root/stateA"))
  }
}
