package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextStats}

/** Index lifecycle maintenance — the consumer of the drift/fragmentation
  * signals the index families RECORD but (before round 11) nothing read:
  * a long-lived 100 TB index otherwise degrades silently unless the
  * caller watches the reports by hand.
  *
  *  - IVF: [[Similarity.appendToIvfIndex]] returns a per-cell drift
  *    report (appended vectors' cosine to their FROZEN centroid).
  *    [[appendIvfRecorded]] persists it into the index's drift ledger;
  *    [[ivfDecision]] turns the ledger into a retrain/none decision;
  *    [[ivfRetrain]] re-fits centroids to the drifted corpus and
  *    publishes a NEW immutable version through the
  *    [[Restore.publishVersionedDir]] commit-marker path — serving
  *    resolves the marker, so readers never see a half-built index and
  *    the superseded version stays readable through the GC grace window.
  *  - BM25 / MinHash: appends accumulate batch partitions (postings/
  *    terms/meta, shingles/bands/meta). Serving stays correct at any
  *    batch count (partials sum), but every query pays a per-batch
  *    file-listing and semi-join constant — [[bm25Decision]] /
  *    [[minhashDecision]] trigger on committed-batch count and the
  *    compactors merge all committed batches into one `base` batch in a
  *    new published version, bit-identical serving (spec-pinned).
  *
  * Decisions are DATA (a [[Decision]] row, metric vs threshold), so a
  * scheduler can log/alert on them; `run = false` previews an execute.
  */
object Maintain {

  /** One maintenance decision: `action` ∈ none | retrain | compact.
    * `advisory` marks a decision with NO applicable executor: decisions
    * under an increment state root (a `_family` sentinel is present)
    * describe funnel sub-indexes owned by the increment's own commit
    * protocol — the versioned-warehouse compact/retrain executors do
    * not apply there, and rewriting a funnel sub-index's batch ids to
    * `base` would empty the minhash-committed ∩ sub-index-committed
    * intersection its serving reads rely on. Advisory decisions are for
    * alerting only; [[executeAll]] refuses to act on them.
    */
  case class Decision(index: String, action: String, metric: Long,
                      threshold: Long, detail: String,
                      advisory: Boolean = false)

  // ---- IVF: drift-triggered retrain --------------------------------------

  /** [[Similarity.appendToIvfIndex]] + RECORD: the batch's per-cell
    * drift report lands in the index's `drift` ledger under `batchId`.
    * BOTH halves are retry-idempotent per batch id (dynamic partition
    * replace): the vector append replaces its own (batch, cell)
    * partitions and the ledger its own batch partition — a retried
    * append never doubles vectors OR drift rows. Returns the report.
    */
  def appendIvfRecorded(spark: SparkSession, dir: String,
                        newVectors: DataFrame, batchId: String): DataFrame = {
    require(batchId.nonEmpty && batchId != "__HIVE_DEFAULT_PARTITION__",
      s"ivf drift ledger: invalid batch id '$batchId'")
    val drift = Similarity.appendToIvfIndex(spark, dir, newVectors, batchId)
    drift.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$dir/drift")
    drift
  }

  /** Retrain decision from the drift ledger: the n-weighted mean
    * appended-vector cosine (e4) across all recorded batches under
    * `minMeanCscoreE4` → retrain. An index with no ledger (never
    * appended, or freshly retrained) decides `none`. Bounded read: the
    * ledger holds one row per (batch, touched cell).
    */
  def ivfDecision(spark: SparkSession, dir: String,
                  minMeanCscoreE4: Long = 8500L): Decision = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/drift")))
      return Decision("ivf", "none", 10000L, minMeanCscoreE4,
        "no drift ledger (no appends since build/retrain)")
    // a ledger dir with no readable parquet (every recorded append was
    // empty) decides none instead of crashing schema inference
    val ledger =
      try spark.read.parquet(s"$dir/drift")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return Decision("ivf", "none", 10000L, minMeanCscoreE4,
            "drift ledger holds no committed files (empty appends only)")
      }
    val r = ledger
      .agg(sum(col("n_added")).as("n"),
        sum(col("n_added") * col("mean_cscore_e4")).as("s")).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L)
      return Decision("ivf", "none", 10000L, minMeanCscoreE4,
        "empty drift ledger")
    val mean = math.floor(r.getLong(1).toDouble / r.getLong(0) + 0.5).toLong
    Decision("ivf", if (mean < minMeanCscoreE4) "retrain" else "none",
      mean, minMeanCscoreE4,
      s"${r.getLong(0)} appended vectors, n-weighted mean cscore_e4 $mean")
  }

  /** Execute an IVF retrain: re-fit centroids ([[Similarity.buildIvf]])
    * to the FULL stored corpus (original + every appended batch, read
    * back from the current version's `assigned` table — no raw-vector
    * re-ingest) and publish the rebuilt index as a new immutable
    * version. The fresh version carries no drift ledger: the decision
    * resets to `none` until new appends record drift again.
    */
  def ivfRetrain(spark: SparkSession, warehouse: String, db: String,
                 token: String, numCells: Int = 0, iters: Int = 1)
      : org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"ivfRetrain: no current version of $db under $warehouse"))
    val vectors = spark.read.parquet(s"$cur/assigned")
      .select(col("other_id").as("id"), col("vb").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cent = Similarity.buildIvf(vectors, numCells, iters)
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        Similarity.writeIvfIndex(vectors, cent, vdir.toString)
      }
    } finally vectors.unpersist()
  }

  // ---- IVF-PQ: codebook-drift-triggered retrain --------------------------

  /** [[Similarity.appendToIvfPqIndex]] + RECORD — the [[appendIvfRecorded]]
    * discipline for the compressed index family. The per-cell report
    * carries BOTH drift axes (centroid cosine + codebook quantization
    * error); a retried append overwrites its own batch partitions in
    * both the assigned table and the ledger.
    */
  def appendIvfPqRecorded(spark: SparkSession, dir: String,
                          newVectors: DataFrame,
                          batchId: String): DataFrame = {
    require(batchId.nonEmpty && batchId != "__HIVE_DEFAULT_PARTITION__",
      s"ivfpq drift ledger: invalid batch id '$batchId'")
    val drift = Similarity.appendToIvfPqIndex(spark, dir, newVectors, batchId)
    drift.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$dir/drift")
    drift
  }

  /** Retrain decision for an IVF-PQ index, EITHER axis sufficient:
    *
    *  - codebook fit: n-weighted mean appended `qerr_e4` over the
    *    build-time corpus baseline ([[Similarity.readPqStats]]) by more
    *    than `maxQerrRatioE4` (e4 ratio; 15000 = appended error 1.5× the
    *    corpus the codebook was trained on). The axis a pure IVF
    *    decision cannot see: centroids can still cover a shifted batch
    *    whose ADC distances have all quietly degraded.
    *  - centroid fit: the [[ivfDecision]] criterion on the same ledger.
    *
    * A pre-stats index (no `stats` table) decides on the centroid axis
    * alone; no ledger → `none`.
    */
  def ivfPqDecision(spark: SparkSession, dir: String,
                    maxQerrRatioE4: Long = 15000L,
                    minMeanCscoreE4: Long = 8500L): Decision = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/drift")))
      return Decision("ivfpq", "none", 0L, maxQerrRatioE4,
        "no drift ledger (no appends since build/retrain)")
    val ledger = // the [[ivfDecision]] empty-ledger guard
      try spark.read.parquet(s"$dir/drift")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return Decision("ivfpq", "none", 0L, maxQerrRatioE4,
            "drift ledger holds no committed files (empty appends only)")
      }
    val r = ledger
      .agg(sum(col("n_added")).as("n"),
        sum(col("n_added") * col("mean_cscore_e4")).as("cs"),
        sum(col("n_added") * col("mean_qerr_e4")).as("qs")).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L)
      return Decision("ivfpq", "none", 0L, maxQerrRatioE4,
        "empty drift ledger")
    val n = r.getLong(0)
    val meanCs = math.floor(r.getLong(1).toDouble / n + 0.5).toLong
    val meanQ = math.floor(r.getLong(2).toDouble / n + 0.5).toLong
    Similarity.readPqStats(spark, dir) match {
      case Some((_, baseQ)) if baseQ > 0L =>
        val ratioE4 =
          math.floor(meanQ.toDouble * 10000.0 / baseQ + 0.5).toLong
        if (ratioE4 > maxQerrRatioE4)
          Decision("ivfpq", "retrain", ratioE4, maxQerrRatioE4,
            s"$n appended vectors, qerr ratio_e4 $ratioE4 vs base " +
              s"mean_qerr_e4 $baseQ (codebook no longer fits)")
        else if (meanCs < minMeanCscoreE4)
          Decision("ivfpq", "retrain", meanCs, minMeanCscoreE4,
            s"$n appended vectors, centroid drift: mean cscore_e4 $meanCs")
        else Decision("ivfpq", "none", ratioE4, maxQerrRatioE4,
          s"$n appended vectors, qerr ratio_e4 $ratioE4, " +
            s"mean cscore_e4 $meanCs")
      case _ =>
        if (meanCs < minMeanCscoreE4)
          Decision("ivfpq", "retrain", meanCs, minMeanCscoreE4,
            s"$n appended vectors, centroid drift: mean cscore_e4 $meanCs" +
              " (pre-stats index: codebook axis unavailable)")
        else Decision("ivfpq", "none", meanCs, minMeanCscoreE4,
          s"$n appended vectors, mean cscore_e4 $meanCs " +
            "(pre-stats index: codebook axis unavailable)")
    }
  }

  /** Execute an IVF-PQ retrain: re-fit BOTH the coarse quantizer
    * ([[Similarity.buildIvf]]) and the PQ codebook
    * ([[Similarity.pqTrain]] — on residuals for a residual-format index,
    * against the NEW centroids) to the full stored corpus, re-encode
    * everything, and publish as a new immutable version (fresh `stats`
    * baseline, no drift ledger — the decision resets). m/subDim and the
    * stored format carry over from the current version's codebook.
    */
  def ivfPqRetrain(spark: SparkSession, warehouse: String, db: String,
                   token: String, numCodes: Int, pqIters: Int = 3,
                   numCells: Int = 0, ivfIters: Int = 1)
      : org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"ivfPqRetrain: no current version of $db under $warehouse"))
    val (m, subDim) =
      Similarity.pqDims(spark.read.parquet(s"$cur/codebook"))
    val residual =
      Similarity.readPqFormat(spark, cur.toString) == "residual"
    val vectors = spark.read.parquet(s"$cur/assigned")
      .select(col("id"), col("vb").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cent = Similarity.buildIvf(vectors, numCells, ivfIters)
      // residual train space = a corpus×centroid assignment cross —
      // persisted for pqTrain's whole seed + Lloyd loop (the
      // writeIvfPqIndex residual-path discipline: unpersisted, every
      // iteration re-runs the assignment)
      val trainSpace =
        (if (!residual) vectors
         else Similarity.ivfAssign(vectors,
             broadcast(cent.select(col("id").as("cid"), col("v").as("cv"))))
           .join(broadcast(cent.select(col("id").as("cid"),
             col("v").as("cv"))), Seq("cid"))
           .select(col("other_id").as("id"),
             zip_with(col("vb"), col("cv"), (x, y) => x - y).as("v"))
           .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        val cb = Similarity.pqTrain(trainSpace, m, subDim, numCodes,
          pqIters)
        Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
          Similarity.writeIvfPqIndex(vectors, cent, cb, vdir.toString,
            m, subDim, residual = residual)
        }
      } finally if (residual) trainSpace.unpersist()
    } finally vectors.unpersist()
  }

  // ---- BM25: batch compaction --------------------------------------------

  private def committedBatches(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/meta").select("batch_id").distinct()

  /** Compaction decision: committed batch count over `maxBatches` →
    * compact (serving is correct at ANY count; the trigger is the
    * per-query per-batch listing/semi-join constant).
    */
  def bm25Decision(spark: SparkSession, dir: String,
                   maxBatches: Int = 16): Decision = {
    val n = committedBatches(spark, dir).count()
    Decision("bm25", if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** Merge every COMMITTED batch into one `base` batch in a freshly
    * published version. Postings rows pass through verbatim (ids are
    * disjoint across batches by the append contract); the terms
    * partials re-aggregate from them, but the META partials SUM from
    * the committed batches' existing meta — NOT from postings: a doc
    * whose text normalizes to zero tokens has no postings row yet
    * counts in the writer's `n_part`, so a postings-derived `n` would
    * shrink and silently shift avgdl and every term's IDF. Summing the
    * committed partials keeps serving bit-identical (spec-pinned with
    * a zero-token doc in the fixture). Meta lands last — the
    * commit-marker-within-the-dir discipline of the original writer.
    */
  def bm25Compact(spark: SparkSession, warehouse: String, db: String,
                  token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"bm25Compact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val postings = spark.read.parquet(s"$cur/postings")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "dl", "term", "tf")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        def writer(df: DataFrame) =
          df.withColumn("batch_id", lit("base"))
            .write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "static")
        writer(postings).parquet(s"$vdir/postings")
        writer(postings.groupBy("term")
          .agg(count(lit(1)).as("df_part"))).parquet(s"$vdir/terms")
        // meta IS the commit marker, so every meta row is committed —
        // sum the partials directly (no semi join needed). Retraction
        // tombstones ([[retract]]) BAKE IN here: the compacted n/dlsum
        // subtract the retracted submissions and the fresh version
        // carries no `retracted` table — compaction is where the bm25
        // family's physical erasure completes.
        val rfs = new org.apache.hadoop.fs.Path(cur.toString)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val (rN, rDl) =
          if (!rfs.exists(
              new org.apache.hadoop.fs.Path(s"$cur/retracted"))) (0L, 0L)
          else {
            val r = spark.read.parquet(s"$cur/retracted")
              .groupBy("id").agg(max("dl").as("dl"))
              .agg(count(lit(1)).as("rn"),
                coalesce(sum("dl"), lit(0L)).as("rdl")).head()
            (r.getLong(0), r.getLong(1))
          }
        writer(spark.read.parquet(s"$cur/meta")
          .agg((coalesce(sum(col("n_part")), lit(0L)) - lit(rN))
              .as("n_part"),
            (coalesce(sum(col("dlsum_part")), lit(0L)) - lit(rDl))
              .as("dlsum_part"))).parquet(s"$vdir/meta")
      }
    } finally postings.unpersist()
  }

  // ---- MinHash: batch compaction -----------------------------------------

  /** Same trigger as [[bm25Decision]] over the minhash meta partitions. */
  def minhashDecision(spark: SparkSession, dir: String,
                      maxBatches: Int = 16): Decision = {
    val n = committedBatches(spark, dir).count()
    Decision("minhash", if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** Merge committed minhash batches into one `base` batch in a new
    * published version: shingles and band rows pass through verbatim;
    * the meta re-states the (bands, rows_per_band) the committed
    * batches pinned (they are required identical on read). Bit-identical
    * serving, spec-pinned.
    */
  def minhashCompact(spark: SparkSession, warehouse: String, db: String,
                     token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"minhashCompact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val metaRows = spark.read.parquet(s"$cur/meta")
      .select("bands", "rows_per_band").distinct().collect()
    require(metaRows.length == 1,
      s"minhashCompact: inconsistent banding across batches at $cur")
    val (bands, rowsPerBand) = (metaRows(0).getInt(0), metaRows(0).getInt(1))
    val shingles = spark.read.parquet(s"$cur/shingles")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "shd")
    val bandRows = spark.read.parquet(s"$cur/bands")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "band", "bh")
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      def writer(df: DataFrame) =
        df.withColumn("batch_id", lit("base"))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "static")
      writer(shingles).parquet(s"$vdir/shingles")
      writer(bandRows).parquet(s"$vdir/bands")
      writer(spark.range(1)
        .select(lit(bands).as("bands"),
          lit(rowsPerBand).as("rows_per_band"))).parquet(s"$vdir/meta")
    }
  }

  // ---- pHash: batch compaction -------------------------------------------

  /** Same trigger as [[bm25Decision]] over the pHash meta partitions. */
  def phashDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision = {
    val n = committedBatches(spark, dir).count()
    Decision("phash", if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** Merge committed pHash batches into one `base` batch in a new
    * published version: signature rows pass through verbatim (ids are
    * disjoint across batches by the append contract); the meta
    * re-states the n_bands the committed batches pinned. Bit-identical
    * serving, spec-pinned ([[graft.operators.Multimodal.phashNearDupAgainstIndex]]
    * derives bands from signatures, so there is nothing else to merge).
    */
  def phashCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"phashCompact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val nBands =
      graft.operators.Multimodal.readPhashMeta(spark, cur.toString)
    val sigs = spark.read.parquet(s"$cur/sigs")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "phash")
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      def writer(df: DataFrame) =
        df.withColumn("batch_id", lit("base"))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "static")
      writer(sigs).parquet(s"$vdir/sigs")
      writer(spark.range(1).select(lit(nBands).as("n_bands")))
        .parquet(s"$vdir/meta")
    }
  }

  // ---- audio fingerprints: batch compaction -------------------------------

  /** Same trigger as [[phashDecision]] over the audio-index meta
    * partitions.
    */
  def audioDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision = {
    val n = committedBatches(spark, dir).count()
    Decision("audio", if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** Merge committed audio-fingerprint batches into one `base` batch in
    * a new published version: fp and size rows pass through verbatim
    * (ids are disjoint across batches by the append contract); the meta
    * re-states the fingerprinting the committed batches pinned.
    * Bit-identical serving, spec-pinned.
    */
  def audioCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"audioCompact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val (wf, k, st, q) =
      graft.operators.Multimodal.readAudioMeta(spark, cur.toString)
    val fps = spark.read.parquet(s"$cur/fps")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "fp")
    val sizes = spark.read.parquet(s"$cur/sizes")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "nfp")
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      def writer(df: DataFrame) =
        df.withColumn("batch_id", lit("base"))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "static")
      writer(fps).parquet(s"$vdir/fps")
      writer(sizes).parquet(s"$vdir/sizes")
      writer(spark.range(1)
          .select(lit(wf).as("window_frames"), lit(k).as("k"),
            lit(st).as("stride"), lit(q).as("quant_e4")))
        .parquet(s"$vdir/meta")
    }
  }

  // ---- video keyframes: batch compaction ----------------------------------

  /** Same trigger as [[phashDecision]] over the video-index meta
    * partitions.
    */
  def videoDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision = {
    val n = committedBatches(spark, dir).count()
    Decision("video", if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** Merge committed video-keyframe batches into one `base` batch in a
    * new published version: frame and size rows pass through verbatim
    * (ids are disjoint across batches by the append contract); the meta
    * re-states the n_bands the committed batches pinned. Bit-identical
    * serving, spec-pinned ([[graft.operators.Multimodal
    * .videoNearDupAgainstIndex]] derives bands from signatures, so
    * there is nothing else to merge).
    */
  def videoCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"videoCompact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val nBands =
      graft.operators.Multimodal.readVideoMeta(spark, cur.toString)
    val frames = spark.read.parquet(s"$cur/frames")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "frame_idx", "phash")
    val sizes = spark.read.parquet(s"$cur/sizes")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "nf")
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      def writer(df: DataFrame) =
        df.withColumn("batch_id", lit("base"))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "static")
      writer(frames).parquet(s"$vdir/frames")
      writer(sizes).parquet(s"$vdir/sizes")
      writer(spark.range(1).select(lit(nBands).as("n_bands")))
        .parquet(s"$vdir/meta")
    }
  }

  // ---- semantic (embedding) index: compaction + centroid retrain --------

  /** Two axes, the kNN-graph discipline: RETRAIN when appended mass
    * exceeds `maxAppendFracE4` of the base (appended vectors were
    * assigned against centroids sampled before they existed — past a
    * fraction the cell structure no longer reflects the corpus);
    * COMPACT when committed batch count exceeds `maxBatches` (serving
    * is correct at any count; the trigger is the per-query listing
    * constant). Retrain dominates when both trip.
    */
  def semDecision(spark: SparkSession, dir: String, maxBatches: Int = 16,
                  maxAppendFracE4: Long = 2500): Decision = {
    // an index created EMPTY has an assigned dir with no readable
    // parquet — decide none instead of crashing schema inference (the
    // ivfDecision empty-ledger precedent)
    val assigned0 =
      try spark.read.parquet(s"$dir/assigned")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return Decision("sem", "none", 0L, maxAppendFracE4,
            "empty assigned table (index created with no vectors)")
      }
    val assigned = assigned0
      .join(broadcast(committedBatches(spark, dir)), Seq("batch_id"),
        "left_semi")
    // "base" = the largest committed batch (the bootstrap increment or
    // the last compaction/retrain result — increments bootstrap under
    // their own batch id, so the name "base" is not guaranteed);
    // appended mass = everything since. Bounded: one row per batch.
    val perBatch = assigned.groupBy("batch_id")
      .agg(countDistinct(col("id")).as("n")).collect()
      .map(_.getLong(1)).sorted.reverse
    val base = perBatch.headOption.getOrElse(0L)
    val appended = perBatch.drop(1).sum
    // an EMPTY index (created, nothing appended) must decide none, not
    // loop retrain-forever in the operational poll
    val frac = if (base == 0) { if (appended == 0) 0L else 10000L }
               else math.round(appended * 10000.0 / base)
    val nBatches = committedBatches(spark, dir).count()
    if (frac > maxAppendFracE4)
      Decision("sem", "retrain", frac, maxAppendFracE4,
        s"appended $appended vs base $base (${frac}e-4)")
    else if (nBatches > maxBatches)
      Decision("sem", "compact", nBatches, maxBatches,
        s"$nBatches committed batches")
    else Decision("sem", "none", math.max(frac, nBatches),
      maxAppendFracE4, s"frac ${frac}e-4, $nBatches batches")
  }

  /** Merge committed sem batches into one `base` batch in a new
    * published version: assigned rows pass through verbatim (ids are
    * disjoint by the append contract), centroids copy unchanged (the
    * frozen rule), meta re-states the committed parameters.
    * Bit-identical serving, spec-pinned.
    */
  def semCompact(spark: SparkSession, warehouse: String, db: String,
                 token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"semCompact: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val (ce, na, dim) =
      graft.operators.Curation.readSemMeta(spark, cur.toString)
    val assigned = spark.read.parquet(s"$cur/assigned")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "v", "cid")
    val cents = spark.read.parquet(s"$cur/centroids")
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      def writer(df: DataFrame) =
        df.withColumn("batch_id", lit("base"))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "static")
      cents.write.mode("overwrite").parquet(s"$vdir/centroids")
      writer(assigned).parquet(s"$vdir/assigned")
      writer(spark.range(1)
          .select(lit(ce).as("centroid_every"), lit(na).as("nassign"),
            lit(dim).as("dim")))
        .parquet(s"$vdir/meta")
    }
  }

  /** Re-draw the centroid set from the ACCUMULATED committed vectors
    * (the same replayable [[graft.operators.Curation.semCentroidSample]]
    * md5 rule — an id's membership never changes, so the new set is the
    * old one plus appended ids that pass the rule) and re-assign the
    * whole corpus against it in a fresh `base` — exactly a fresh
    * [[graft.operators.Curation.writeSemIndex]] over the committed
    * union, spec-pinned.
    */
  def semRetrain(spark: SparkSession, warehouse: String, db: String,
                 token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"semRetrain: no current version of $db under $warehouse"))
    val committed = committedBatches(spark, cur.toString)
    val (ce, na, _) =
      graft.operators.Curation.readSemMeta(spark, cur.toString)
    val vectors = spark.read.parquet(s"$cur/assigned")
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .select("id", "v").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = graft.operators.Curation.semCentroidSample(vectors, ce)
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        graft.operators.Curation.writeSemIndex(vectors, cents,
          vdir.toString, ce, na)
      }
    } finally vectors.unpersist()
  }

  // ---- one sweep over every family present --------------------------------

  /** Inspect which index families live under `root` (an increment
    * stateDir, a warehouse db dir, or any directory holding family
    * subdirs by their conventional names) and return each one's
    * maintenance decision — the single entry point an operational loop
    * polls after every increment. Unknown/absent families are simply
    * skipped; thresholds are each family's defaults.
    */
  def decideAll(spark: SparkSession, root: String,
                maxBatches: Int = 16): Seq[Decision] = {
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def has(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$root/$sub"))
    // a `_family` sentinel marks an increment state root: its
    // sub-indexes are owned by the funnel's commit protocol, so every
    // decision under it is ADVISORY (see [[Decision.advisory]]) — the
    // applicable action for an advisory compact is the WHOLE-STATE
    // [[graft.pipeline.Increment.compactStateTo]] (all families fold
    // consistently; per-family executors would desync the marker)
    val funnel = graft.pipeline.Increment.stateFamily(spark, root).isDefined
    val mb = maxBatches
    val ds = Seq(
      // funnel sub-dir layouts (increment state roots)
      (has("minhash/meta"),
        () => minhashDecision(spark, s"$root/minhash", mb)),
      (has("phash/meta"), () => phashDecision(spark, s"$root/phash", mb)),
      (has("audio/meta"), () => audioDecision(spark, s"$root/audio", mb)),
      (has("video/meta"), () => videoDecision(spark, s"$root/video", mb)),
      (has("sem/meta"), () => semDecision(spark, s"$root/sem", mb)),
      // root layouts (versioned warehouse dbs — the executable shape)
      (has("postings"), () => bm25Decision(spark, root, mb)),
      (has("drift"), () => ivfDecision(spark, root)),
      (has("vectors_batches"), () => knnDecision(spark, root, mb)),
      (has("shingles") && has("bands") && has("meta"),
        () => minhashDecision(spark, root, mb)),
      (has("sigs") && has("meta"), () => phashDecision(spark, root, mb)),
      (has("fps") && has("meta"), () => audioDecision(spark, root, mb)),
      (has("frames") && has("meta"), () => videoDecision(spark, root, mb)),
      // sem at root shares centroids/assigned with IVF-PQ — the
      // codebook absence is the discriminator (plain IVF has no meta)
      (has("centroids") && has("assigned") && has("meta") &&
        !has("codebook"), () => semDecision(spark, root, mb)))
      .collect { case (true, d) => d() }
    if (funnel) ds.map(_.copy(advisory = true)) else ds
  }

  /** One execution attempt per db: the decision that drove it, the
    * published version dir when an action ran, and a note otherwise.
    */
  case class Execution(db: String, decision: Decision,
                       version: Option[String], note: String)

  /** The composed maintenance sweep an operational loop runs after
    * every append burst: for each warehouse db, [[decideAll]] on its
    * CURRENT version, then dispatch the (at most one) actionable
    * decision to its family executor, publishing a fresh version
    * through the commit-marker swap. Crash-safe by re-decision: every
    * executor is a versioned publish (a torn publish never flips the
    * pointer), so a rerun with a FRESH token re-decides against the
    * now-current state — completed dbs decide `none` and are skipped,
    * interrupted ones re-execute; orphaned version dirs fall to
    * [[Restore.gcUnreferenced]]. Advisory decisions (funnel sub-states)
    * and unresolved dbs are reported, never acted on. A db whose
    * current version somehow carries MORE than one actionable family
    * is refused loudly: each executor publishes only its own family's
    * tables, so acting would drop the sibling family from the new
    * version.
    */
  def executeAll(spark: SparkSession, warehouse: String, dbs: Seq[String],
                 token: String, maxBatches: Int = 16): Seq[Execution] = {
    require(dbs.distinct.size == dbs.size,
      s"executeAll: duplicate dbs in ${dbs.mkString(", ")}")
    dbs.flatMap { db =>
      Restore.resolveVersioned(spark, warehouse, db) match {
        case None =>
          Seq(Execution(db, Decision("unknown", "none", 0, 0,
            "never published"), None, "no current version — skipped"))
        case Some(cur) =>
          val ds = decideAll(spark, cur.toString, maxBatches)
          val actionable = ds.filter(d => !d.advisory && d.action != "none")
          require(actionable.size <= 1,
            s"executeAll: $db current version carries " +
              s"${actionable.size} actionable families " +
              s"(${actionable.map(d => s"${d.index}:${d.action}").mkString(", ")}) — " +
              "one publish per family; split the db before sweeping")
          if (ds.isEmpty)
            Seq(Execution(db, Decision("unknown", "none", 0, 0,
              "no recognized index layout"), None, "nothing to decide"))
          else ds.map { d =>
            if (d.advisory)
              Execution(db, d, None, "advisory — funnel sub-state")
            else if (d.action == "none")
              Execution(db, d, None, "no action needed")
            else {
              val vdir = (d.index, d.action) match {
                case ("ivf", "retrain") =>
                  ivfRetrain(spark, warehouse, db, token)
                case ("bm25", "compact") =>
                  bm25Compact(spark, warehouse, db, token)
                case ("minhash", "compact") =>
                  minhashCompact(spark, warehouse, db, token)
                case ("phash", "compact") =>
                  phashCompact(spark, warehouse, db, token)
                case ("audio", "compact") =>
                  audioCompact(spark, warehouse, db, token)
                case ("video", "compact") =>
                  videoCompact(spark, warehouse, db, token)
                case ("sem", "compact") =>
                  semCompact(spark, warehouse, db, token)
                case ("sem", "retrain") =>
                  semRetrain(spark, warehouse, db, token)
                case ("knn", "compact") =>
                  knnCompact(spark, warehouse, db, token)
                case ("knn", "retrain") =>
                  knnRetrain(spark, warehouse, db, token)
                case other => throw new IllegalStateException(
                  s"executeAll: no executor for $other")
              }
              Execution(db, d, Some(vdir.toString), "executed")
            }
          }
      }
    }
  }

  // ---- retraction over the standalone index families ---------------------

  /** Right-to-be-forgotten over a STANDALONE index directory (a
    * warehouse db's current version, or any dir holding one family's
    * root layout) — the [[graft.pipeline.Increment.retract]] twin for
    * content indexed OUTSIDE an increment state: BM25 postings, kNN
    * graph vectors/edges/entry ring, IVF / IVF-PQ cell partitions, and
    * a root-layout semantic index. Detects the family from the layout
    * (the [[decideAll]] discriminators) and sweeps what is present;
    * returns the families touched.
    *
    * Discipline (shared with the increment sweep): only partitions
    * actually holding victims rewrite (dynamic overwrite; emptied
    * partitions are replaced by zero-row schema-ful parquet); commit
    * markers are untouched so batch visibility never changes; the whole
    * call is idempotent and crash-rerunnable (rerun with the same ids
    * to completion).
    *
    * Family specifics:
    *  - **BM25**: victims' postings rows purge physically and the
    *    affected batches' `terms` partitions RECOMPUTE from the cleaned
    *    postings (df must shrink or retracted terms keep depressing
    *    idf). `n`/`dlsum` live in the meta COMMIT MARKER partitions, so
    *    they are never rewritten — instead a `retracted` tombstone
    *    table (id, dl, batch_id — appended BEFORE the purge so a rerun
    *    still knows the victim's length) lets
    *    [[graft.operators.TextStats.bm25AgainstIndex]] subtract the
    *    victims from n/avgdl. Ids with no postings rows are vacuous
    *    (zero content in the index) and are skipped. A retracted id MAY
    *    be resubmitted later: its new batch counts it again and the one
    *    tombstone keeps compensating for the one historical submission.
    *  - **kNN graph**: batch partitions (`vectors_batches`,
    *    `edges_batches` — either endpoint) purge physically; the FLAT
    *    base tables (vectors/edges/entries) cannot be partition-pruned,
    *    so base members land in the `retracted` tombstone list that
    *    [[graft.operators.KnnGraph]] base reads exclude — appended
    *    batches are NOT tombstone-filtered, so a retracted id readmits
    *    fresh via [[graft.operators.KnnGraph.appendToKnnIndex]].
    *    Physical erasure of base rows completes at the next
    *    [[knnCompact]]/[[knnRetrain]] publish (which reads through the
    *    tombstones and starts a clean version).
    *  - **IVF / IVF-PQ**: victims' rows purge from the affected
    *    (batch_id, cid) partitions. Centroids/codebook/stats/drift are
    *    kmeans aggregates over many vectors — statistical models, not
    *    copies of any document's data — and stay.
    *  - **semantic (root layout)**: assigned rows purge; centroid rows
    *    whose `cid` IS a victim doc id store that doc's full vector and
    *    are dropped (run [[semRetrain]] after to restore routing
    *    quality — the [[graft.pipeline.Increment.retract]] note).
    *  - **minhash / pHash / audio / video (root layouts)**: the
    *    compacted warehouse shapes — victims' shingle/band/signature/
    *    fingerprint/frame/size rows purge from their batch partitions
    *    (pure physical removal; serving derives everything per doc, so
    *    no stats compensation is needed). The increment-state SUB-DIR
    *    twins of these families are swept by
    *    [[graft.pipeline.Increment.retract]].
    */
  def retract(spark: SparkSession, dir: String,
              ids: DataFrame): Seq[String] = {
    import spark.implicits._
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def has(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
    val idsN = ids.select(col(ids.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint(eager = true)
    val touched = scala.collection.mutable.ArrayBuffer.empty[String]

    if (has("postings")) {
      // tombstones FIRST (id, dl, batch_id) — restricted to ids that
      // actually hold postings rows; a rerun after the purge appends
      // nothing new and the read side dedups by id anyway
      val tomb = spark.read.parquet(s"$dir/postings")
        .join(broadcast(idsN), Seq("id"), "left_semi")
        .groupBy("id").agg(max("dl").as("dl"),
          min("batch_id").as("batch_id"))
        .localCheckpoint(eager = true)
      if (tomb.head(1).nonEmpty) {
        tomb.write.mode("append").parquet(s"$dir/retracted")
        purgeRows(spark, f, s"$dir/postings", idsN, Seq("batch_id"),
          Seq("id"))
        touched += "bm25"
      }
      // terms: recompute the affected batches' df partials from the
      // CLEANED postings — driven by TOMBSTONE batches, OUTSIDE the
      // fresh-victims guard, so a rerun after a crash that landed
      // between the postings purge and this recompute (when the victims
      // are already gone from postings) still completes the torn
      // recompute. Idempotent: recomputing an already-clean batch
      // rewrites identical rows.
      if (has("retracted") && has("terms")) {
        val batches = spark.read.parquet(s"$dir/retracted")
          .select("batch_id").distinct().as[String].collect().toSeq
          .filter(_.nonEmpty)
        if (batches.nonEmpty) {
          val fresh = spark.read.parquet(s"$dir/postings")
            .filter(col("batch_id").isInCollection(batches))
            .groupBy("batch_id", "term")
            .agg(count(lit(1)).as("df_part"))
            .localCheckpoint(eager = true)
          fresh.write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(s"$dir/terms")
          val still = fresh.select("batch_id").distinct()
            .as[String].collect().toSet
          for (b <- batches if !still.contains(b))
            fresh.drop("batch_id").limit(0)
              .write.mode("overwrite").parquet(s"$dir/terms/batch_id=$b")
        }
      }
    }

    if (has("vectors") && has("edges") && has("entries")) {
      val baseHit = spark.read.parquet(s"$dir/vectors")
        .join(broadcast(idsN), Seq("id"), "left_semi")
        .select("id").distinct().localCheckpoint(eager = true)
      if (baseHit.head(1).nonEmpty)
        baseHit.write.mode("append").parquet(s"$dir/retracted")
      purgeRows(spark, f, s"$dir/vectors_batches", idsN, Seq("batch_id"),
        Seq("id"))
      purgeRows(spark, f, s"$dir/edges_batches", idsN, Seq("batch_id"),
        Seq("id", "nbr"))
      touched += "knn"
    }

    // root-layout batch-partitioned doc-row families (the compacted
    // warehouse shapes): one purge per table, hit col = the doc id
    if (has("shingles") && has("bands")) {
      purgeRows(spark, f, s"$dir/shingles", idsN, Seq("batch_id"),
        Seq("id"))
      purgeRows(spark, f, s"$dir/bands", idsN, Seq("batch_id"), Seq("id"))
      touched += "minhash"
    }
    if (has("sigs") && has("meta")) {
      purgeRows(spark, f, s"$dir/sigs", idsN, Seq("batch_id"), Seq("id"))
      touched += "phash"
    }
    if (has("fps") && has("sizes")) {
      purgeRows(spark, f, s"$dir/fps", idsN, Seq("batch_id"), Seq("id"))
      purgeRows(spark, f, s"$dir/sizes", idsN, Seq("batch_id"), Seq("id"))
      touched += "audio"
    }
    if (has("frames") && has("sizes")) {
      purgeRows(spark, f, s"$dir/frames", idsN, Seq("batch_id"),
        Seq("id"))
      purgeRows(spark, f, s"$dir/sizes", idsN, Seq("batch_id"), Seq("id"))
      touched += "video"
    }

    if (has("centroids") && has("assigned")) {
      if (has("meta") && !has("codebook")) {
        // root-layout semantic index: the Increment.retract sem block
        purgeRows(spark, f, s"$dir/assigned", idsN, Seq("batch_id"),
          Seq("id"))
        val cents = spark.read.parquet(s"$dir/centroids")
        if (cents.join(broadcast(idsN.select(col("id").as("cid"))),
            Seq("cid"), "left_semi").head(1).nonEmpty) {
          val kept = cents.join(
              broadcast(idsN.select(col("id").as("cid"))),
              Seq("cid"), "left_anti")
            .localCheckpoint(eager = true)
          kept.write.mode("overwrite").parquet(s"$dir/centroids")
        }
        touched += "sem"
      } else {
        purgeRows(spark, f, s"$dir/assigned", idsN,
          Seq("batch_id", "cid"),
          Seq(if (has("codebook")) "id" else "other_id"))
        touched += (if (has("codebook")) "ivfpq" else "ivf")
      }
    }
    touched.toSeq
  }

  /** Drop victim rows from one partitioned index table IN PLACE —
    * the [[graft.pipeline.Increment]] retraction discipline generalized
    * to multi-level partitioning and multiple victim columns: only the
    * partitions holding a victim (in ANY of `hitCols`) rewrite, and
    * partitions the purge empties are replaced with zero-row schema-ful
    * parquet (a bare dir delete would break schema inference).
    */
  private def purgeRows(spark: SparkSession,
                        f: org.apache.hadoop.fs.FileSystem, path: String,
                        ids: DataFrame, partCols: Seq[String],
                        hitCols: Seq[String]): Unit = {
    if (!f.exists(new org.apache.hadoop.fs.Path(path))) return
    val tbl = spark.read.parquet(path)
    val idKey = ids.columns.head
    val hits = hitCols.map(c =>
        tbl.join(broadcast(ids.select(col(idKey).as(c))), Seq(c),
          "left_semi"))
      .reduce(_ unionByName _)
    val affected = hits.select(partCols.map(col): _*).distinct()
      .localCheckpoint(eager = true)
    if (affected.head(1).isEmpty) return
    val keep0 = tbl.join(broadcast(affected), partCols, "left_semi")
    val keep = hitCols.foldLeft(keep0)((d, c) =>
      d.join(broadcast(ids.select(col(idKey).as(c))), Seq(c), "left_anti"))
      .localCheckpoint(eager = true)
    keep.write.mode("overwrite").partitionBy(partCols: _*)
      .option("partitionOverwriteMode", "dynamic").parquet(path)
    val still = keep.select(partCols.map(col): _*).distinct()
    val emptied = affected.join(still, partCols, "left_anti").collect()
    for (r <- emptied) {
      val sub = partCols.map(pc => s"$pc=${r.get(r.fieldIndex(pc))}")
        .mkString("/")
      keep.drop(partCols: _*).limit(0)
        .write.mode("overwrite").parquet(s"$path/$sub")
    }
  }

  // ---- kNN graph: append-staleness retrain + degree compaction ----------

  /** Committed graph-append batches: a batch's `vectors_batches`
    * partition is its own commit marker ([[graft.operators.KnnGraph
    * .appendToKnnIndex]] writes it LAST) — no separate ledger to record,
    * so the graph family has no `Recorded` append wrapper: the staleness
    * metric (appended mass) is derivable from the committed batches
    * themselves.
    */
  private def knnBatches(spark: SparkSession, dir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors_batches")))
      spark.read.parquet(s"$dir/vectors_batches")
        .select("batch_id", "id")
    else spark.emptyDataFrame.withColumn("batch_id", lit(""))
      .withColumn("id", lit(0L)).limit(0)
  }

  /** Graph maintenance decision, two independent axes:
    *  - RETRAIN when appended mass exceeds `maxAppendFracE4` of the base
    *    corpus: appended nodes' lists were built by walking a graph that
    *    knew nothing of each other's batches, so past a fraction the
    *    neighbor quality decays toward the insert path's recall rather
    *    than NN-Descent's (the staleness axis — the IVF drift analog,
    *    measured structurally instead of via centroid cosine);
    *  - COMPACT when committed batch count exceeds `maxBatches`: serving
    *    is correct at any count (batch-union reads), the trigger is the
    *    per-query listing constant plus reverse-augment degree growth.
    * Retrain dominates when both trip (it subsumes compaction).
    */
  def knnDecision(spark: SparkSession, dir: String, maxBatches: Int = 16,
                  maxAppendFracE4: Long = 2500): Decision = {
    val b = knnBatches(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nBatches = b.select("batch_id").distinct().count()
      if (nBatches == 0)
        Decision("knn", "none", 0, maxBatches, "no appended batches")
      else {
        val appended = b.count()
        val baseN = spark.read.parquet(s"$dir/meta")
          .select(col("n")).head().getLong(0)
        val frac = math.floor(appended * 10000.0 / math.max(1L, baseN))
          .toLong
        if (frac > maxAppendFracE4)
          Decision("knn", "retrain", frac, maxAppendFracE4,
            s"$appended appended over $baseN base (${frac}e-4)")
        else if (nBatches > maxBatches)
          Decision("knn", "compact", nBatches, maxBatches,
            s"$nBatches committed batches")
        else Decision("knn", "none", nBatches, maxBatches,
          s"$nBatches committed batches, ${frac}e-4 appended")
      }
    } finally b.unpersist()
  }

  /** Merge the batch-union graph into one flat index in a fresh
    * published version WITHOUT re-running NN-Descent: every node's edge
    * rows (base + new-node lists + reverse augments) re-cap to the
    * stored k by (score desc, nbr asc) — deterministic from the stored
    * rows; vectors union flat; the entry ring re-ranks over the merged
    * corpus so appended nodes can become entries; meta restates k with
    * the merged n (the staleness fraction resets).
    */
  def knnCompact(spark: SparkSession, warehouse: String, db: String,
                 token: String): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"knnCompact: no current version of $db under $warehouse"))
    val k = spark.read.parquet(s"$cur/meta").select(col("k"))
      .head().getInt(0)
    val maxEntries = spark.read.parquet(s"$cur/entries").count().toInt
    val vectors = graft.operators.KnnGraph
      .readKnnVectors(spark, cur.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val edges = graft.operators.KnnGraph.readKnnEdges(spark, cur.toString)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")
            .orderBy(col("score_e4").desc, col("nbr").asc)).cast("long"))
        .filter(col("rnk") <= k)
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        edges.write.mode("overwrite").parquet(s"$vdir/edges")
        vectors.write.mode("overwrite").parquet(s"$vdir/vectors")
        graft.core.Ops.globalRank(vectors.select("id"),
            Seq(md5(col("id").cast("string")), col("id")), "r")
          .filter(col("r") <= maxEntries)
          .write.mode("overwrite").parquet(s"$vdir/entries")
        spark.range(1)
          .select(lit(k).as("k"), lit(vectors.count()).as("n"))
          .write.mode("overwrite").parquet(s"$vdir/meta")
      }
    } finally vectors.unpersist()
  }

  /** Execute a graph retrain: full NN-Descent over the merged corpus
    * (base + appended batches, read back from the index — no raw
    * re-ingest), published as a new immutable version with the stored k
    * and entry-ring size. The fresh version has no batches: the
    * decision resets to `none`.
    */
  def knnRetrain(spark: SparkSession, warehouse: String, db: String,
                 token: String, iters: Int = 2,
                 warmCells: Int = 0): org.apache.hadoop.fs.Path = {
    val cur = Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"knnRetrain: no current version of $db under $warehouse"))
    val k = spark.read.parquet(s"$cur/meta").select(col("k"))
      .head().getInt(0)
    val maxEntries = spark.read.parquet(s"$cur/entries").count().toInt
    val vectors = graft.operators.KnnGraph
      .readKnnVectors(spark, cur.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      graft.operators.KnnGraph.writeKnnIndex(vectors, vdir.toString, k,
        iters, warmCells, maxEntries)
    } finally vectors.unpersist()
  }

  /** The operational sweep for INCREMENT STATE roots — the executable
    * counterpart of [[decideAll]]'s advisory decisions under a
    * `_family` sentinel. Every direct child of `root` that is an
    * increment state is measured by its committed batch count (the
    * marker family's meta partitions); states over `maxBatches`
    * compact WHOLE — every family folded consistently via
    * [[graft.pipeline.Increment.compactStateTo]] — into
    * `destRoot/<name>_<token>`. Crash/rerun discipline: a dest whose
    * marker committed is skipped ("already compacted"); a torn dest
    * (no marker) re-compacts idempotently; reruns with the same token
    * converge. The caller swaps each ingest pointer to the returned
    * dest and decommissions the old root — compaction never mutates
    * the source (increments may keep landing there until the swap).
    */
  def compactStates(spark: SparkSession, root: String, destRoot: String,
                    token: String,
                    maxBatches: Int = 16): Seq[Execution] = {
    require(token.nonEmpty && !token.contains("/"),
      s"compactStates: invalid token '$token'")
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val kids = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    kids.toSeq.flatMap { p =>
      val name = p.getName
      graft.pipeline.Increment.stateFamily(spark, p.toString).map { fam =>
        val metaPath = new org.apache.hadoop.fs.Path(
          s"$p/$fam/meta")
        if (!f.exists(metaPath))
          Execution(name, Decision(fam, "none", 0, maxBatches,
            "no committed marker — nothing to compact"), None,
            "uncommitted state — skipped")
        else {
          val batches = spark.read.parquet(metaPath.toString)
            .select("batch_id").distinct().count()
          if (batches <= maxBatches)
            Execution(name, Decision(fam, "none", batches, maxBatches,
              "within batch budget"), None, "no action needed")
          else {
            val dest = s"$destRoot/${name}_$token"
            val d = Decision(fam, "compact", batches, maxBatches,
              s"$batches committed batches > $maxBatches")
            if (f.exists(new org.apache.hadoop.fs.Path(
                s"$dest/$fam/meta")))
              Execution(name, d, Some(dest),
                "already compacted — rerun skip")
            else {
              graft.pipeline.Increment.compactStateTo(spark, p.toString,
                dest)
              Execution(name, d, Some(dest), "executed")
            }
          }
        }
      }
    }
  }
}
