package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** ANN recall measurement (VERDICT r3 item 7): the IVF and RP-LSH paths are
  * oracle-exact on planted duplicates, but a user tunes `nprobe` and
  * `numPlanes` against recall — which was never measured. This tool reports,
  * at 1x and Nx (the [[scaledVecs]] replica corpus):
  *
  *  - IVF recall@10 vs [[Similarity.bruteForceTopK]] ground truth over a
  *    deterministic query sample (id % 50 == 0), per nprobe ∈ {1, 2, 4};
  *  - RP-LSH recall of the planted near-dup pairs (id % 13 planting,
  *    cosine ≈ 1) per numPlanes ∈ {4, 8, 16} — the banding-probability
  *    curve (fewer planes = wider buckets = higher recall, more candidate
  *    verification work; candidate pair count is reported alongside).
  *
  * Results are recorded in SCALE.md §recall.
  *
  * Usage: sbt "runMain graft.tools.Recall <sfDir> <factor>"
  */
object Recall {

  /** Nx embeddings: replica 0 is the original; replicas k>0 sign-flip
    * each component on a (k, i)-keyed pattern — cosine between replicas
    * of the same base vector drops to ~0, so cross-replica pairs don't
    * pollute the near-dup counts. Planting (%13, x*1.05+0.001) applies
    * over the scaled corpus.
    */
  private def scaledVecs(spark: SparkSession, sfDir: String,
                         n: Int): DataFrame = {
    val base = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
    val scaled = (0 until n).map { k =>
      val v =
        if (k == 0) col("v")
        else expr(
          s"transform(v, (x, i) -> x * CASE WHEN sin(1e4 * ($k * 64 + i + 1)) >= 0 THEN 1D ELSE -1D END)")
      base.select((col("id") + lit(k * 1000000L)).as("id"), v.as("v"))
    }.reduce(_ unionByName _)
    val planted = scaled.filter(col("id") % 13 === 0)
      .select((col("id") + 100000000L).as("id"),
        expr("transform(v, x -> x * 1.05 + 0.001)").as("v"))
    scaled.unionByName(planted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    require(factor < 100, "id offsets collide at factor >= 100")
    val opqOnly = args.length > 2 && args(2) == "--opq"
    val driftOnly = args.length > 2 && args(2) == "--drift"
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val k = 10

    // ---- `--drift`: index-lifecycle row (r10 verdict item 5) ------------
    // Serving DEGRADATION of a frozen-centroid IVF index under a
    // (factor−1)× drifted append vs the recall a Maintain.ivfRetrain
    // recovers, and what the retrain costs — the numbers the
    // drift-threshold policy trades against each other.
    if (driftOnly) {
      import graft.pipeline.{Maintain, Restore}
      val wh = java.nio.file.Files
        .createTempDirectory("graft_drift_wh").toString
      val base = scaledVecs(spark, sfDir, 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Restore.publishVersionedDir(spark, wh, "ivfidx", "0") { vdir =>
        Similarity.writeIvfIndex(base, Similarity.buildIvf(base, iters = 1),
          vdir.toString)
      }
      def curDir = Restore.resolveVersioned(spark, wh, "ivfidx").get.toString
      // the drifted corpus: replicas 1..factor−1 (sign-flip patterns —
      // near-zero cosine to anything replica 0's centroids learned)
      val batch = scaledVecs(spark, sfDir, factor)
        .filter(col("id") >= 1000000L && col("id") < 100000000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Maintain.appendIvfRecorded(spark, curDir, batch, "b1")
      val dec = Maintain.ivfDecision(spark, curDir)
      println(s"MAINTAIN decision: $dec")
      val full = base.unionByName(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = full.filter(col("id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(full, queries, k)
        .select("vec_id", "other_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truthN = truth.count()
      def recallRow(tag: String): Unit = {
        val cells = spark.read.parquet(s"$curDir/centroids").count().toInt
        val nprobe = math.max(1, (cells + 3) / 4) // 1/4 corpus coverage
        val got = Similarity.ivfTopKIndexed(spark, curDir, queries,
            nprobe, k)
          .select("vec_id", "other_id")
        val hit = got.join(truth, Seq("vec_id", "other_id")).count()
        println(f"RECALL $tag%-15s x$factor%-2d cells=$cells%-4d " +
          f"nprobe=$nprobe%-3d recall@$k=${hit.toDouble / truthN}%6.4f  " +
          f"(truth=$truthN)")
      }
      recallRow("ivf_drift_pre")
      val t0 = System.nanoTime()
      Maintain.ivfRetrain(spark, wh, "ivfidx", "1")
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"MAINTAIN ivf_retrain x$factor%-2d $dt%8.2f s")
      recallRow("ivf_drift_post")
      println(s"MAINTAIN decision after retrain: " +
        s"${Maintain.ivfDecision(spark, curDir)}")
      spark.stop()
      return
    }

    // ---- `--pqdrift`: IVF-PQ lifecycle row (round 11) -------------------
    // The --drift protocol for the COMPRESSED index family: ADC serving
    // degradation of a frozen centroids+codebook index under a drifted
    // append, the two-axis ivfPqDecision that fires on it, and the
    // recall a Maintain.ivfPqRetrain (both quantizers re-fit) recovers
    // at what cost.
    if (args.length > 2 && args(2) == "--pqdrift") {
      import graft.pipeline.{Maintain, Restore}
      val wh = java.nio.file.Files
        .createTempDirectory("graft_pqdrift_wh").toString
      val (m, subDim, numCodes) = (8, 8, 16)
      val base = scaledVecs(spark, sfDir, 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Restore.publishVersionedDir(spark, wh, "pqidx", "0") { vdir =>
        Similarity.writeIvfPqIndex(base,
          Similarity.buildIvf(base, iters = 1),
          Similarity.pqTrain(base, m, subDim, numCodes, iters = 2),
          vdir.toString, m, subDim)
      }
      def curDir = Restore.resolveVersioned(spark, wh, "pqidx").get.toString
      println(s"MAINTAIN pq base stats: " +
        s"${Similarity.readPqStats(spark, curDir)}")
      val batch = scaledVecs(spark, sfDir, factor)
        .filter(col("id") >= 1000000L && col("id") < 100000000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Maintain.appendIvfPqRecorded(spark, curDir, batch, "b1")
      println(s"MAINTAIN decision: ${Maintain.ivfPqDecision(spark, curDir)}")
      val lg = spark.read.parquet(s"$curDir/drift")
        .agg(sum(col("n_added")).as("n"),
          sum(col("n_added") * col("mean_qerr_e4")).as("qs")).head()
      println(f"MAINTAIN appended mean qerr_e4: " +
        f"${lg.getLong(1).toDouble / lg.getLong(0)}%8.1f")
      val full = base.unionByName(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = full.filter(col("id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(full, queries, k)
        .select("vec_id", "other_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truthN = truth.count()
      def recallRow(tag: String): Unit = {
        val cells = spark.read.parquet(s"$curDir/centroids").count().toInt
        val nprobe = math.max(1, (cells + 3) / 4) // 1/4 corpus coverage
        val got = Similarity.ivfPqTopKIndexed(spark, curDir, queries,
            nprobe, m, subDim, k)
          .select("vec_id", "other_id")
        val hit = got.join(truth, Seq("vec_id", "other_id")).count()
        // the production serving config: ADC shortlist + exact re-rank
        val ref = Similarity.ivfPqTopKRefined(spark, curDir, queries,
            nprobe, m, subDim, shortlist = 4 * k, k = k)
          .select("vec_id", "other_id")
        val rhit = ref.join(truth, Seq("vec_id", "other_id")).count()
        println(f"RECALL $tag%-17s x$factor%-2d cells=$cells%-4d " +
          f"nprobe=$nprobe%-3d adc@$k=${hit.toDouble / truthN}%6.4f " +
          f"refined@$k=${rhit.toDouble / truthN}%6.4f  (truth=$truthN)")
      }
      recallRow("ivfpq_drift_pre")
      val t0 = System.nanoTime()
      Maintain.ivfPqRetrain(spark, wh, "pqidx", "1", numCodes, pqIters = 2)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"MAINTAIN ivfpq_retrain x$factor%-2d $dt%8.2f s")
      println(s"MAINTAIN pq stats after retrain: " +
        s"${Similarity.readPqStats(spark, curDir)}")
      recallRow("ivfpq_drift_post")
      println(s"MAINTAIN decision after retrain: " +
        s"${Maintain.ivfPqDecision(spark, curDir)}")
      spark.stop()
      return
    }

    // ---- `--beam`: graph-ANN serving grid (round 14) --------------------
    // Recall@k vs candidate budget for KnnGraph.beamSearch against the
    // IVF and IVF-PQ serving paths, on BOTH corpus structures: clustered
    // (manifold structure, where the graph walk should win — the regime
    // the round-13 NN-Descent rows identified as IVF-hostile) and
    // uniform random (no neighborhood transitivity — where it
    // shouldn't). Budget is the per-query scored-candidate bound:
    // beam ≤ entries + rounds·beamWidth·kGraph; IVF ≈ N·nprobe/cells.
    if (args.length > 2 && args(2) == "--beam") {
      import graft.operators.KnnGraph
      def clustered(nv: Long): org.apache.spark.sql.DataFrame =
        spark.range(nv).select(col("id"), expr(
          "transform(sequence(0, 63), d -> " +
            "CASE WHEN d = CAST(id % 64 AS INT) THEN 5.0 ELSE 0.0 END + " +
            "CAST(hash(id, d) AS DOUBLE) / 4.294967296E9 * 0.5)").as("v"))
      val corpora = Seq(
        "uniform" -> ((n: Int) => scaledVecs(spark, sfDir, n)),
        "clustered" -> ((n: Int) => clustered(2154L * n)))
      val (m, subDim, numCodes) = (8, 8, 16)
      for ((tag, mk) <- corpora; n <- Seq(1, factor)) {
        val v = mk(n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nVecs = v.count()
        val queries = v.filter(col("id") % 50 === 0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val truth = Similarity.bruteForceTopK(v, queries, k)
          .select("vec_id", "other_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val truthN = truth.count()
        def row(label: String, budget: Long, buildS: Double,
                got: org.apache.spark.sql.DataFrame): Unit = {
          val t0 = System.nanoTime()
          val hit = got.select("vec_id", "other_id")
            .join(truth, Seq("vec_id", "other_id")).count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"RECALL beam_$tag%-10s x$n%-3d $label%-24s " +
            f"budget<=$budget%-7d recall@$k=${hit.toDouble / truthN}%6.4f " +
            f"build=$buildS%7.2f s query=$dt%7.2f s (truth=$truthN)")
        }
        // IVF router/baseline: √N cells (the buildIvf default)
        val ti = System.nanoTime()
        val cent = Similarity.buildIvf(v, iters = 1)
          .localCheckpoint(true)
        val cells = cent.count()
        val ivfS = (System.nanoTime() - ti) / 1e9
        // graph build: warm IVF-seeded init on the clustered corpus (the
        // round-13 guidance), cold ring on uniform (warm has nothing to
        // seed from there); kGraph = k so the graph can carry truth.
        // The iters dimension (clustered only) measures the build-cost vs
        // serving-recall trade: walk recall is hostage to graph quality.
        val itersGrid = if (tag == "clustered") Seq(2, 4) else Seq(2)
        for (gIters <- itersGrid) {
          val tg = System.nanoTime()
          val g = KnnGraph.knnGraph(v, k, iters = gIters,
              warmCells = if (tag == "clustered") 64 else 0)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          g.count()
          val graphS = (System.nanoTime() - tg) / 1e9
          val nEntries = 16
          val entries = graft.core.Ops.globalRank(v.select("id"),
              Seq(md5(col("id").cast("string")), col("id")), "r")
            .filter(col("r") <= nEntries).select("id")
            .localCheckpoint(true)
          for ((bw, rounds) <- Seq((10, 3), (20, 4), (40, 6)))
            row(f"beam i=$gIters bw=$bw%-3d r=$rounds",
              nEntries + rounds.toLong * bw * k, graphS,
              KnnGraph.beamSearch(g, v, queries, entries, k, bw, rounds))
          // ROUTED beam: IVF seeds at one probe land each walk inside the
          // query's own component (the fixed ring covers components only
          // probabilistically — the honest miss above); the walk then
          // recovers the quantizer's cell-boundary losses. Compare against
          // raw ivf np=1 (same router budget) and np=4 (4x the budget).
          for ((bw, rounds) <- Seq((10, 3), (20, 4)))
            row(f"beam_routed i=$gIters bw=$bw%-3d r=$rounds",
              nVecs / cells + rounds.toLong * bw * k, graphS + ivfS,
              KnnGraph.beamSearchFrom(g, v, queries,
                Similarity.ivfTopK(v, cent, queries, nprobe = 1, k = 4)
                  .select(col("vec_id").as("qid"),
                    col("other_id").as("node")),
                k, bw, rounds))
          g.unpersist()
        }
        for (nprobe <- Seq(1, 2, 4))
          row(f"ivf cells=$cells%-4d np=$nprobe",
            nVecs * nprobe / cells, ivfS,
            Similarity.ivfTopK(v, cent, queries, nprobe, k))
        // IVF-PQ (ADC over the same cells): compressed-scan budget is
        // the same candidate set; scoring is approximate — the recall
        // delta vs ivf at equal nprobe is the quantization loss
        val tp = System.nanoTime()
        val cb = Similarity.pqTrain(v, m, subDim, numCodes, iters = 2)
          .localCheckpoint(true)
        val pqS = ivfS + (System.nanoTime() - tp) / 1e9
        for (nprobe <- Seq(2, 4))
          row(f"ivfpq codes=$numCodes%-3d np=$nprobe",
            nVecs * nprobe / cells, pqS,
            Similarity.ivfPqTopK(v, cent, cb, queries, nprobe, m, subDim, k))
        truth.unpersist(); queries.unpersist(); v.unpersist()
      }
      spark.stop()
      return
    }

    // ---- `--nnd`: NN-Descent recall row (round 13) -----------------------
    // recall@k of the KnnGraph.knnGraph edges vs brute-force ground truth
    // on the sampled query nodes, per refinement round — the convergence
    // curve the iters dial trades against round cost.
    if (args.length > 2 && args(2) == "--nnd") {
      // two corpora: the standard synthetic embeddings (UNIFORM random —
      // no neighborhood transitivity, the regime where NN-Descent's
      // premise fails and the honest low numbers belong in SCALE.md) and
      // a clustered corpus (64 tight axis clusters + hash noise — the
      // manifold structure real embeddings have, where the
      // neighbor-of-a-neighbor premise holds and convergence shows).
      def clustered(nv: Long): org.apache.spark.sql.DataFrame =
        spark.range(nv).select(col("id"), expr(
          "transform(sequence(0, 63), d -> " +
            "CASE WHEN d = CAST(id % 64 AS INT) THEN 5.0 ELSE 0.0 END + " +
            "CAST(hash(id, d) AS DOUBLE) / 4.294967296E9 * 0.5)").as("v"))
      val corpora = Seq(
        "uniform" -> ((n: Int) => scaledVecs(spark, sfDir, n)),
        "clustered" -> ((n: Int) => clustered(2154L * n)))
      for ((tag, mk) <- corpora; n <- Seq(1, factor)) {
        val v = mk(n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val queries = v.filter(col("id") % 50 === 0)
        val truth = Similarity.bruteForceTopK(v, queries, k)
          .select("vec_id", "other_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val truthN = truth.count()
        // warm = IVF-seeded init (64 md5-sampled cells) — the SCALE.md
        // guidance row: locality-biased seeding vs the cold ring
        val configs = Seq(("cold", 0, Seq(0, 1, 2, 4, 8))) ++
          (if (tag == "clustered") Seq(("warm", 64, Seq(0, 1, 2)))
           else Seq.empty)
        for ((itag, wc, itersSeq) <- configs; iters <- itersSeq) {
          val t0 = System.nanoTime()
          val g = graft.operators.KnnGraph.knnGraph(v, k, iters,
            warmCells = wc)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val nEdges = g.count()
          val got = g.select(col("id").as("vec_id"),
            col("nbr").as("other_id"))
          val hit = got.join(truth, Seq("vec_id", "other_id")).count()
          // neighbor QUALITY for the clustered corpus: the fraction of
          // graph edges inside the true cluster — what the SemDeDup /
          // hard-negative consumers actually need (exact top-k order
          // within a tie-dense cluster converges rounds later)
          val quality =
            if (tag == "clustered")
              f"incluster=${g.filter(col("id") % 64 === col("nbr") % 64)
                .count().toDouble / nEdges}%6.4f "
            else ""
          val dt = (System.nanoTime() - t0) / 1e9
          g.unpersist()
          println(f"RECALL nnd_$tag%-10s x$n%-3d $itag%-4s iters=$iters%-2d " +
            f"recall@$k=${hit.toDouble / truthN}%6.4f $quality$dt%8.2f s  " +
            f"(truth=$truthN)")
        }
        truth.unpersist(); v.unpersist()
      }
      spark.stop()
      return
    }

    // ---- `--phash`: perceptual-hash mutation-recall row (round 13) ------
    // Planted-mutation recall of pHash vs aHash at hamming <= 3: every
    // base image (32x32 deterministic noise) gets one mutated copy; the
    // published aHash weakness is LOW-FREQUENCY content (a gradient ramp
    // moves many cell-vs-mean bits at once), which the DCT hash isolates
    // into a few low-AC coefficients. Collisions = found pairs that were
    // not planted (the false-positive side).
    if (args.length > 2 && args(2) == "--phash") {
      import spark.implicits._
      import graft.operators.Multimodal
      val nImages = 500L * factor
      // splitmix64 finalizer (published constants) — per-(image, pixel)
      // independent noise; the first fixture draft used a pattern LINEAR
      // in id, which made every image a brightness shift of every other
      // (aHash is shift-invariant → 2M degenerate collisions)
      def mix(id: Long, p: Long): Long = {
        var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL +
          0x165667B19E3779F9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      def mkImages(mutation: String)
          : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] =
        spark.range(nImages).as[Long].flatMap { id =>
          def clamp(v: Int) = math.max(0, math.min(255, v))
          // photo-like SMOOTH field (a per-image random plane wave) +
          // ±8 pixel noise: cell-vs-mean margins are small where the
          // wave crosses its mean — the regime where aHash bits are
          // fragile and the DCT hash's frequency separation matters
          val ax = 1 + (mix(id, 1031L) & 3L).toInt // 1..4
          val ay = 1 + (mix(id, 2063L) & 3L).toInt
          val phase = (mix(id, 4093L) & 0xffL).toDouble / 256.0
          val px = Array.tabulate(1024) { p =>
            val (x, y) = (p % 32, p / 32)
            val wave = 128.0 + 48.0 * math.sin(2 * math.Pi *
              ((x * ax + y * ay).toDouble / 32.0 + phase))
            val noise = math.floorMod(mix(id, p.toLong), 17L).toInt - 8
            clamp((wave + noise).round.toInt)
          }
          val mut = mutation match {
            case "nudge" => px.zipWithIndex.map { case (v, p) =>
              if (p == 0) clamp(v + 9) else v }
            case "bright" => px.map(v => clamp(v + 24))
            case "ramp" => px.zipWithIndex.map { case (v, p) =>
              clamp(v + ((p % 32) + (p / 32)) / 4) }
            case "contrast" => px.map(v => clamp((v - 128) * 85 / 100 + 128))
          }
          Seq(Multimodal.MediaRecord(id,
              Multimodal.encodeGrayPixelsPng(32, 32, px), "image/png"),
            Multimodal.MediaRecord(id + 1000000L,
              Multimodal.encodeGrayPixelsPng(32, 32, mut), "image/png"))
        }
      for (mutation <- Seq("nudge", "bright", "ramp", "contrast")) {
        val media = mkImages(mutation)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        media.count()
        for ((tag, pairs) <- Seq(
            "ahash" -> Multimodal.imageNearDupPairs(media, 3),
            "phash" -> Multimodal.imagePHashNearDupPairs(media, 3),
            // 8x8-bit bands: exact hamming <= 7 — the wider cut for
            // additive low-frequency mutations (ramp)
            "phash_w7" -> Multimodal.imagePHashNearDupPairs(media, 7,
              nBands = 8))) {
          val p = pairs.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val total = p.count()
          val planted = p.filter(col("idB") === col("idA") + 1000000L)
            .count()
          println(f"RECALL ${tag}_$mutation%-14s x$factor%-3d " +
            f"recall@h3=${planted.toDouble / nImages}%6.4f " +
            f"collisions=${total - planted}%-6d (planted=$nImages)")
          p.unpersist()
        }
        media.unpersist()
      }
      spark.stop()
      return
    }

    for (n <- Seq(1, factor)) {
      val v = scaledVecs(spark, sfDir, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val queries = v.filter(col("id") % 50 === 0)

      // ground truth: exact cosine top-k for the sampled queries
      val truth = Similarity.bruteForceTopK(v, queries, k)
        .select("vec_id", "other_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truthN = truth.count()

      val cent = Similarity.buildIvf(v, numCells = 16, iters = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cent.count()
      for (nprobe <- Seq(1, 2, 4) if !opqOnly) {
        val got = Similarity.ivfTopK(v, cent, queries, nprobe, k)
          .select("vec_id", "other_id")
        val hit = got.join(truth, Seq("vec_id", "other_id")).count()
        println(f"RECALL ivf_topk    x$n%-3d nprobe=$nprobe%-2d " +
          f"recall@$k=${hit.toDouble / truthN}%6.4f  (truth=$truthN)")
      }
      // auto-sized cells (√N rule, r8 verdict item 4). Scored at equal
      // nprobe FRACTION: with C cells, nprobe = ceil(C/f) matches the
      // fixed-16 grid's 1/f corpus-coverage fraction, so the 1× and N×
      // rows are comparable. Done-bar: N× recall within ~0.03 of 1×.
      val centAuto = Similarity.buildIvf(v, iters = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cAuto = centAuto.count().toInt
      for (frac <- Seq(16, 8, 4) if !opqOnly) {
        val nprobe = math.max(1, (cAuto + frac - 1) / frac)
        val got = Similarity.ivfTopK(v, centAuto, queries, nprobe, k)
          .select("vec_id", "other_id")
        val hit = got.join(truth, Seq("vec_id", "other_id")).count()
        println(f"RECALL ivf_auto    x$n%-3d cells=$cAuto%-4d " +
          f"frac=1/$frac%-3d nprobe=$nprobe%-3d " +
          f"recall@$k=${hit.toDouble / truthN}%6.4f")
      }
      centAuto.unpersist()
      // ---- binary sign-bit Hamming shortlist (round 9) ------------------
      // hammingTopK's recall claim measured, not assumed: shortlist is the
      // dial (sign-bit Hamming is 1-plane-per-coordinate RP-LSH, so a
      // few-times-k shortlist should recover near-exact top-k)
      for (shortlist <- Seq(k, 2 * k, 4 * k, 8 * k) if !opqOnly) {
        val got = Similarity.hammingTopK(v, queries, dim = 64, k = k,
            shortlist = shortlist)
          .select("vec_id", "other_id")
        val hit = got.join(truth, Seq("vec_id", "other_id")).count()
        println(f"RECALL hamming     x$n%-3d short=$shortlist%-3d " +
          f"recall@$k=${hit.toDouble / truthN}%6.4f")
      }
      // ---- PQ family recall (round 6) ----------------------------------
      // ADC ranks by squared L2, so its ground truth is the exact-L2
      // top-k (cosine truth would conflate metric mismatch with
      // quantization loss); the refined pass re-ranks by exact cosine and
      // is scored against the cosine truth above.
      val truthL2 = {
        val q2 = queries.select(col("id").as("vec_id"), col("v").as("va"))
        val c2 = v.select(col("id").as("other_id"), col("v").as("vb"))
        q2.join(c2, col("vec_id") =!= col("other_id"))
          .withColumn("d", Similarity.sqDist(col("va"), col("vb")))
          .withColumn("rank", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id")
              .orderBy(col("d").asc, col("other_id").asc)))
          .filter(col("rank") <= k).select("vec_id", "other_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val truthL2N = truthL2.count()
      val cb = Similarity.pqTrain(v, m = 8, subDim = 8, numCodes = 16,
          iters = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cb.count()
      if (!opqOnly) {
        val got = Similarity.pqAdcTopK(
            Similarity.pqEncode(v, cb, 8, 8), cb, queries, 8, 8, k)
          .select("vec_id", "other_id")
        val hit = got.join(truthL2, Seq("vec_id", "other_id")).count()
        println(f"RECALL pq_adc      x$n%-3d full-scan  " +
          f"recall@$k=${hit.toDouble / truthL2N}%6.4f  (truthL2=$truthL2N)")
      }
      val centPq = Similarity.buildIvf(v, numCells = 16, iters = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      centPq.count()
      // residual codebook trained on the actual residuals (v − centroid)
      val rcb = {
        val cbr = broadcast(centPq.select(col("id").as("cid"),
          col("v").as("cv")))
        val residuals = Similarity.ivfAssign(v, cbr)
          .join(cbr, Seq("cid"))
          .select(col("other_id").as("id"),
            zip_with(col("vb"), col("cv"), (x, y) => x - y).as("v"))
        Similarity.pqTrain(residuals, m = 8, subDim = 8, numCodes = 16,
            iters = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      rcb.count()
      for (nprobe <- Seq(2, 4) if !opqOnly) {
        val gotRaw = Similarity.ivfPqTopK(v, centPq, cb, queries, nprobe,
            8, 8, k).select("vec_id", "other_id")
        val hitRaw = gotRaw.join(truthL2, Seq("vec_id", "other_id")).count()
        println(f"RECALL ivfpq_raw   x$n%-3d nprobe=$nprobe%-2d " +
          f"recall@$k=${hitRaw.toDouble / truthL2N}%6.4f")
        val gotRes = Similarity.ivfPqTopKResidual(v, centPq, rcb, queries,
            nprobe, 8, 8, k).select("vec_id", "other_id")
        val hitRes = gotRes.join(truthL2, Seq("vec_id", "other_id")).count()
        println(f"RECALL ivfpq_resid x$n%-3d nprobe=$nprobe%-2d " +
          f"recall@$k=${hitRes.toDouble / truthL2N}%6.4f")
      }
      // refined pass: ADC shortlist then exact-cosine re-rank, scored
      // against the COSINE truth. Full nprobe×shortlist grid (r6 verdict
      // item 9): nprobe bounds which cells the true neighbor can be found
      // in at all (the recall ceiling), shortlist bounds how much of the
      // probed cells' ADC ranking survives to the exact re-rank — the two
      // dials trade scan cost (nprobe ∝ cells read) against re-rank cost
      // (shortlist ∝ embeddings fetched per query).
      if (!opqOnly) {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_recall_ivfpq").toString
        Similarity.writeIvfPqIndex(v, centPq, cb, dir, 8, 8)
        for (nprobe <- Seq(2, 4, 8); shortlist <- Seq(2 * k, 4 * k, 16 * k)) {
          val got = Similarity.ivfPqTopKRefined(spark, dir, queries,
              nprobe = nprobe, m = 8, subDim = 8, shortlist = shortlist,
              k = k)
            .select("vec_id", "other_id")
          val hit = got.join(truth, Seq("vec_id", "other_id")).count()
          println(f"RECALL ivfpq_refin x$n%-3d nprobe=$nprobe%-2d " +
            f"shortlist=$shortlist%-3d " +
            f"recall@$k=${hit.toDouble / truthN}%6.4f  (truthCos=$truthN)")
        }
      }
      // ---- parametric-OPQ rotation delta on CORRELATED vectors (r10) ----
      // The OPQ regime: 8 strong latent factors (the last 8 base coords)
      // each injected into one coordinate PER contiguous-split subspace
      // (coordinate i carries factor (i−1) mod 8) — so every subspace
      // sees 8 near-independent inflated coordinates (intrinsic dim 8,
      // 16 codes can't cover) while the dominant VARIANCE directions run
      // ACROSS subspaces. Rotating into the eigenbasis and DEALING the
      // top directions one-per-subspace (eigenvalue allocation)
      // concentrates each subspace's variance where its codebook can
      // spend codes. Both rows scored against exact L2 truth on the same
      // correlated vectors; rotation applied to corpus AND queries.
      // NOTE a neighbor-mixing corpus (i with i+1) measures the OPPOSITE
      // sign: contiguous pqSplit already owns that redundancy and
      // decorrelating it RAISES per-subspace intrinsic dimension
      // (measured 0.232 raw vs 0.130 rotated) — rotation is a tool for
      // cross-subspace structure, not a universal win; see SCALE.md.
      // x1 only — the delta, not a scale row. (`--opq` as the 3rd arg
      // runs ONLY this section.)
      if (n == 1) {
        val corr = v.select(col("id"), expr(
          "transform(sequence(1, 64), i -> element_at(v, CAST(i AS INT)) " +
            "+ 3.0D * element_at(v, CAST(57 + ((i - 1) % 8) AS INT)))")
          .as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val qCorr = corr.filter(col("id") % 50 === 0)
        val truthC = {
          val q2 = qCorr.select(col("id").as("vec_id"), col("v").as("va"))
          val c2 = corr.select(col("id").as("other_id"), col("v").as("vb"))
          q2.join(c2, col("vec_id") =!= col("other_id"))
            .withColumn("d", Similarity.sqDist(col("va"), col("vb")))
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy("vec_id")
                .orderBy(col("d").asc, col("other_id").asc)))
            .filter(col("rank") <= k).select("vec_id", "other_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        val truthCN = truthC.count()
        val cbC = Similarity.pqTrain(corr, m = 8, subDim = 8,
            numCodes = 16, iters = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cbC.count()
        val gotRaw = Similarity.pqAdcTopK(
            Similarity.pqEncode(corr, cbC, 8, 8), cbC, qCorr, 8, 8, k)
          .select("vec_id", "other_id")
        val hitRaw = gotRaw.join(truthC, Seq("vec_id", "other_id")).count()
        println(f"RECALL opq_corr_raw x$n%-2d full-scan  " +
          f"recall@$k=${hitRaw.toDouble / truthCN}%6.4f  (truthL2=$truthCN)")
        // driver-local orthogonal iteration + eigenvalue ALLOCATION —
        // the deflated topKEigen basis measured worse than raw (0.232 →
        // 0.177: trailing components degrade), and the unallocated PCA
        // basis worse still (→ 0.130: all variance lands in subspace 1);
        // balancing variance across subspaces is what turns the rotation
        // into a win (Ge et al.'s parametric OPQ, both halves)
        val (basis, lams) = Similarity.eigenBasisLocalWithValues(
          Similarity.covarianceUpper(corr, 64), dim = 64, k = 64)
        val rot = Similarity.opqAllocate(basis, lams, m = 8)
        // localCheckpoint, not persist: the 64-projection select on top
        // of the scaled-union lineage overflows Catalyst's sizeInBytes
        // product (BigInteger range) once pqTrain stacks its iteration
        // joins on it — truncate the plan, not just cache the data
        val rotated = corr.select(col("id"),
            Similarity.rotateExpr(col("v"), rot).as("v"))
          .localCheckpoint(true)
        val qRot = rotated.filter(col("id") % 50 === 0)
        val cbR = Similarity.pqTrain(rotated, m = 8, subDim = 8,
            numCodes = 16, iters = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cbR.count()
        val gotRot = Similarity.pqAdcTopK(
            Similarity.pqEncode(rotated, cbR, 8, 8), cbR, qRot, 8, 8, k)
          .select("vec_id", "other_id")
        val hitRot = gotRot.join(truthC, Seq("vec_id", "other_id")).count()
        println(f"RECALL opq_corr_rot x$n%-2d full-scan  " +
          f"recall@$k=${hitRot.toDouble / truthCN}%6.4f")

        // non-parametric alternation (Ge et al. §alternating): the
        // rotation follows the MEASURED quantization error through
        // Procrustes steps, so it must keep the factor-corpus win here
        // and — the part the parametric rotation cannot do — recover
        // ≥ raw PQ on the neighbor-local corpus below
        def npRow(tag: String, corpus: org.apache.spark.sql.DataFrame,
                  truthT: org.apache.spark.sql.DataFrame, truthTN: Long,
                  init: Option[Seq[Seq[Double]]] = None): Unit = {
          val altIters = sys.env.get("GRAFT_OPQ_ALT").map(_.toInt)
            .getOrElse(3)
          val (rotNp, cbNp) = Similarity.opqTrainNP(corpus, dim = 64,
            m = 8, subDim = 8, numCodes = 16, pqIters = 2,
            altIters = altIters, initRot = init)
          val rotNpd = corpus.select(col("id"),
              Similarity.rotateExpr(col("v"), rotNp).as("v"))
            .localCheckpoint(true)
          val qNp = rotNpd.filter(col("id") % 50 === 0)
          val gotNp = Similarity.pqAdcTopK(
              Similarity.pqEncode(rotNpd, cbNp, 8, 8), cbNp, qNp, 8, 8, k)
            .select("vec_id", "other_id")
          val hitNp = gotNp.join(truthT, Seq("vec_id", "other_id")).count()
          println(f"RECALL $tag%-12s x$n%-2d full-scan  " +
            f"recall@$k=${hitNp.toDouble / truthTN}%6.4f")
          cbNp.unpersist(); rotNpd.unpersist(false)
        }
        npRow("opq_corr_np", corr, truthC, truthCN)
        // Ge et al.'s recommended hybrid: the parametric solution as the
        // alternation's starting point (identity init converges to a
        // local optimum on strong cross-subspace structure)
        npRow("opq_corr_nppar", corr, truthC, truthCN, Some(rot))
        cbR.unpersist(); rotated.unpersist(false); cbC.unpersist()
        truthC.unpersist(); corr.unpersist()

        // neighbor-local corpus (i mixed with i+1, i+8): contiguous
        // pqSplit already owns this redundancy, so the parametric
        // rotation HURTS here (r10: 0.232 raw → 0.130 rotated) — the
        // published answer is the non-parametric alternation
        val nbr = v.select(col("id"), expr(
          "transform(sequence(1, 64), i -> element_at(v, CAST(i AS INT)) " +
            "+ 0.8D * element_at(v, CAST(1 + (i % 64) AS INT)) " +
            "+ 0.8D * element_at(v, CAST(1 + ((i + 7) % 64) AS INT)))")
          .as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val qNbr = nbr.filter(col("id") % 50 === 0)
        val truthB = {
          val q2 = qNbr.select(col("id").as("vec_id"), col("v").as("va"))
          val c2 = nbr.select(col("id").as("other_id"), col("v").as("vb"))
          q2.join(c2, col("vec_id") =!= col("other_id"))
            .withColumn("d", Similarity.sqDist(col("va"), col("vb")))
            .withColumn("rank", org.apache.spark.sql.functions.row_number()
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy("vec_id")
                .orderBy(col("d").asc, col("other_id").asc)))
            .filter(col("rank") <= k).select("vec_id", "other_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        val truthBN = truthB.count()
        val cbB = Similarity.pqTrain(nbr, m = 8, subDim = 8,
            numCodes = 16, iters = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cbB.count()
        val gotBRaw = Similarity.pqAdcTopK(
            Similarity.pqEncode(nbr, cbB, 8, 8), cbB, qNbr, 8, 8, k)
          .select("vec_id", "other_id")
        val hitBRaw = gotBRaw.join(truthB, Seq("vec_id", "other_id")).count()
        println(f"RECALL opq_nbr_raw  x$n%-2d full-scan  " +
          f"recall@$k=${hitBRaw.toDouble / truthBN}%6.4f  (truthL2=$truthBN)")
        val (basisB, lamsB) = Similarity.eigenBasisLocalWithValues(
          Similarity.covarianceUpper(nbr, 64), dim = 64, k = 64)
        val rotB = Similarity.opqAllocate(basisB, lamsB, m = 8)
        val nbrRot = nbr.select(col("id"),
            Similarity.rotateExpr(col("v"), rotB).as("v"))
          .localCheckpoint(true)
        val cbBR = Similarity.pqTrain(nbrRot, m = 8, subDim = 8,
            numCodes = 16, iters = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cbBR.count()
        val gotBRot = Similarity.pqAdcTopK(
            Similarity.pqEncode(nbrRot, cbBR, 8, 8), cbBR,
            nbrRot.filter(col("id") % 50 === 0), 8, 8, k)
          .select("vec_id", "other_id")
        val hitBRot = gotBRot.join(truthB, Seq("vec_id", "other_id")).count()
        println(f"RECALL opq_nbr_rot  x$n%-2d full-scan  " +
          f"recall@$k=${hitBRot.toDouble / truthBN}%6.4f")
        npRow("opq_nbr_np", nbr, truthB, truthBN)
        npRow("opq_nbr_nppar", nbr, truthB, truthBN, Some(rotB))
        cbBR.unpersist(); nbrRot.unpersist(false); cbB.unpersist()
        truthB.unpersist(); nbr.unpersist()
      }
      rcb.unpersist(); centPq.unpersist(); cb.unpersist()
      truthL2.unpersist()
      cent.unpersist()
      truth.unpersist()

      // planted near-dup pairs: (id, id + 1e8) for id % 13 == 0
      val planted = v.filter(col("id") % 13 === 0 &&
          col("id") < 100000000L)
        .select(col("id").as("idA"), (col("id") + 100000000L).as("idB"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val plantedN = planted.count()

      // IVF-bucketed near-dup (cluster-then-verify): recall of planted
      // pairs per nassign — the cell-boundary-miss rate users tune with
      val cent2 = Similarity.buildIvf(v, numCells = 16, iters = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cent2.count()
      for (nassign <- Seq(1, 2, 4)) {
        val m = Similarity.ivfNearDupPairsManaged(v, cent2,
          threshold = 0.8, nassign = nassign)
        val pairs = m.df.select("idA", "idB")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairsN = pairs.count()
        val hit = pairs.join(planted, Seq("idA", "idB")).count()
        println(f"RECALL ivf_neardup x$n%-3d nassign=$nassign%-2d " +
          f"recall=${hit.toDouble / plantedN}%6.4f  " +
          f"(planted=$plantedN, pairsFound=$pairsN)")
        pairs.unpersist()
        m.close()
      }
      cent2.unpersist()

      for (planes <- Seq(4, 8, 16)) {
        val m = Similarity.rpLshNearDupPairsManaged(
          v, numPlanes = planes, threshold = 0.8, dim = Some(64))
        val pairs = m.df.select("idA", "idB")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairsN = pairs.count()
        val hit = pairs.join(planted, Seq("idA", "idB")).count()
        println(f"RECALL rplsh_pairs x$n%-3d planes=$planes%-2d " +
          f"recall=${hit.toDouble / plantedN}%6.4f  " +
          f"(planted=$plantedN, pairsFound=$pairsN)")
        pairs.unpersist()
        m.close()
      }
      planted.unpersist()
      v.unpersist()
    }
    spark.stop()
  }
}
