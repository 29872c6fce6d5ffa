package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BatchTables
import graft.operators.{Curation, Similarity}

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
  *  - BM25 and the meta-marker families: appends accumulate batch
  *    partitions under the [[graft.core.BatchTables]] contract. Serving
  *    stays correct at any batch count, but every query pays a
  *    per-batch file-listing and semi-join constant, so each family
  *    decides `compact` on its committed-batch count and its compactor
  *    folds every committed batch into one `base` batch in a new
  *    published version, bit-identical serving (spec-pinned).
  *
  * The five meta-marker families (minhash, pHash, audio, video, sem)
  * are ONE table, [[MarkerFamilies]]: each entry names its batch tables
  * and restates its pinned meta. Their decisions, compactions,
  * [[decideAll]] layout detection, [[executeAll]] dispatch and
  * [[retract]] sweeps all run over that table, and
  * [[graft.pipeline.Increment]] derives its state layouts from it.
  * BM25 (summed meta partials), IVF/IVF-PQ (drift ledgers) and the kNN
  * graph (`vectors_batches` is its marker) keep their own executors.
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

  /** The current version of a warehouse db, or a loud failure. */
  private def current(spark: SparkSession, warehouse: String, db: String,
                      caller: String): Path =
    Restore.resolveVersioned(spark, warehouse, db)
      .getOrElse(throw new IllegalStateException(
        s"$caller: no current version of $db under $warehouse"))

  // ---- the meta-marker families -------------------------------------------

  /** One meta-marker index family: `name` is its index name and its
    * sub-directory under an increment state root; `tables` are its
    * batch_id-partitioned data tables (compaction folds them,
    * retraction purges them by `id`); `restate` reads the one meta row
    * every committed batch pins, as the fold re-writes it; `decide` is
    * its maintenance decision; `frozen` are its unpartitioned tables
    * (the sem centroids: copied verbatim by compaction, and a centroid
    * whose `cid` is a retracted doc is dropped).
    */
  private[pipeline] case class MarkerFamily(
      name: String, tables: Seq[String],
      restate: (SparkSession, String) => DataFrame,
      decide: (SparkSession, String, Int) => Decision,
      frozen: Seq[String] = Nil)

  /** The batch-count decision: compact over `maxBatches` committed
    * batches (serving is correct at ANY count; the trigger is the
    * per-query per-batch listing/semi-join constant).
    */
  private def countDecision(index: String)(spark: SparkSession, dir: String,
                                           maxBatches: Int): Decision = {
    val n = BatchTables.committed(spark, dir).count()
    Decision(index, if (n > maxBatches) "compact" else "none", n,
      maxBatches, s"$n committed batches")
  }

  /** The pinned meta row, restated as a one-row frame. */
  private def pinnedRow(what: String)(spark: SparkSession,
                                      dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/meta").drop("batch_id").schema
    spark.createDataFrame(java.util.List.of[Row](BatchTables.pinnedMeta(
      spark, dir, schema.fieldNames.toSeq, what)), schema)
  }

  private def family(name: String, tables: String*): MarkerFamily =
    MarkerFamily(name, tables, pinnedRow(s"$name index"),
      countDecision(name))

  /** Every meta-marker family, in the legacy (pre-sentinel) increment
    * marker-discovery order. sem restates its meta by the
    * [[Curation.readSemMeta]] rule: an index created empty pins dim 0,
    * which gives way to the first real batch's dim.
    */
  private[pipeline] val MarkerFamilies: Seq[MarkerFamily] = Seq(
    family("minhash", "bands", "shingles"),
    family("phash", "sigs"),
    family("audio", "fps", "sizes"),
    family("video", "frames", "sizes"),
    MarkerFamily("sem", Seq("assigned"),
      (spark, dir) => {
        val (ce, na, dim) = Curation.readSemMeta(spark, dir)
        Curation.semMetaRow(spark, ce, na, dim)
      },
      semDecision(_, _, _), frozen = Seq("centroids")))

  private val byName = MarkerFamilies.map(f => f.name -> f).toMap

  /** A root layout (a warehouse db, or any dir holding one family's
    * tables) holds `fam` when its batch tables, unpartitioned tables
    * and meta are all present. A root sem index shares centroids,
    * assigned and meta with IVF-PQ, so an IVF-PQ codebook rules it out
    * (plain IVF has no meta).
    */
  private def atRoot(fam: MarkerFamily, has: String => Boolean): Boolean =
    (fam.tables ++ fam.frozen :+ "meta").forall(has) && !has("codebook")

  /** Merge every committed batch of `fam` into one `base` batch in a
    * freshly published version: data rows pass through verbatim (ids
    * are disjoint across batches by the append contract), frozen tables
    * copy unchanged, and the meta — written last — restates what the
    * committed batches pinned. Bit-identical serving, spec-pinned (the
    * near-dup joins derive bands from the stored signatures, so there
    * is nothing else to merge).
    */
  private def compact(fam: MarkerFamily, spark: SparkSession,
                      warehouse: String, db: String,
                      token: String): Path = {
    val cur = current(spark, warehouse, db, s"${fam.name}Compact").toString
    val committed = BatchTables.committed(spark, cur)
    val meta = fam.restate(spark, cur).withColumn("batch_id", lit("base"))
    Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
      for (t <- fam.frozen)
        BatchTables.copyTree(spark, s"$cur/$t", s"$vdir/$t")
      BatchTables.fold(spark, cur, vdir.toString, fam.tables, committed,
        meta)
    }
  }

  def minhashDecision(spark: SparkSession, dir: String,
                      maxBatches: Int = 16): Decision =
    byName("minhash").decide(spark, dir, maxBatches)

  def minhashCompact(spark: SparkSession, warehouse: String, db: String,
                     token: String): Path =
    compact(byName("minhash"), spark, warehouse, db, token)

  def phashDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision =
    byName("phash").decide(spark, dir, maxBatches)

  def phashCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): Path =
    compact(byName("phash"), spark, warehouse, db, token)

  def audioDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision =
    byName("audio").decide(spark, dir, maxBatches)

  def audioCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): Path =
    compact(byName("audio"), spark, warehouse, db, token)

  def videoDecision(spark: SparkSession, dir: String,
                    maxBatches: Int = 16): Decision =
    byName("video").decide(spark, dir, maxBatches)

  def videoCompact(spark: SparkSession, warehouse: String, db: String,
                   token: String): Path =
    compact(byName("video"), spark, warehouse, db, token)

  def semCompact(spark: SparkSession, warehouse: String, db: String,
                 token: String): Path =
    compact(byName("sem"), spark, warehouse, db, token)

  // ---- IVF: drift-triggered retrain --------------------------------------

  /** An append plus its RECORD: the batch's per-cell drift report lands
    * in the index's `drift` ledger under `batchId`. BOTH halves are
    * retry-idempotent per batch id (dynamic partition replace): the
    * vector append replaces its own (batch, cell) partitions and the
    * ledger its own batch partition — a retried append never doubles
    * vectors OR drift rows. Returns the report.
    */
  private def recorded(what: String, dir: String, batchId: String)(
      append: => DataFrame): DataFrame = {
    BatchTables.requireBatchId(batchId, s"$what drift ledger")
    val drift = append
    BatchTables.write(drift, s"$dir/drift", batchId)
    drift
  }

  /** [[Similarity.appendToIvfIndex]], recorded ([[recorded]]). */
  def appendIvfRecorded(spark: SparkSession, dir: String,
                        newVectors: DataFrame, batchId: String): DataFrame =
    recorded("ivf", dir, batchId)(
      Similarity.appendToIvfIndex(spark, dir, newVectors, batchId))

  /** The drift ledger's total appended count and the given n-weighted
    * sums, or why there is nothing to decide on: no ledger (never
    * appended, or freshly retrained), a ledger dir with no readable
    * parquet, or no appended vectors. Bounded read: the ledger holds
    * one row per (batch, touched cell).
    */
  private def driftTotals(spark: SparkSession, dir: String,
                          sums: Column*): Either[String, Row] = {
    if (!BatchTables.exists(spark, s"$dir/drift"))
      return Left("no drift ledger (no appends since build/retrain)")
    val ledger =
      try spark.read.parquet(s"$dir/drift")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return Left("drift ledger holds no committed files " +
            "(empty appends only)")
      }
    val r = ledger.agg(sum(col("n_added")), sums: _*).head()
    if (r.isNullAt(0) || r.getLong(0) == 0L) Left("empty drift ledger")
    else Right(r)
  }

  /** Retrain decision from the drift ledger: the n-weighted mean
    * appended-vector cosine (e4) across all recorded batches under
    * `minMeanCscoreE4` → retrain. Nothing to decide on → `none`.
    */
  def ivfDecision(spark: SparkSession, dir: String,
                  minMeanCscoreE4: Long = 8500L): Decision =
    driftTotals(spark, dir,
        sum(col("n_added") * col("mean_cscore_e4"))) match {
      case Left(why) =>
        Decision("ivf", "none", 10000L, minMeanCscoreE4, why)
      case Right(r) =>
        val mean =
          math.floor(r.getLong(1).toDouble / r.getLong(0) + 0.5).toLong
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
      : Path = {
    val cur = current(spark, warehouse, db, "ivfRetrain")
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

  /** [[Similarity.appendToIvfPqIndex]], recorded ([[recorded]]): the
    * per-cell report carries BOTH drift axes (centroid cosine +
    * codebook quantization error).
    */
  def appendIvfPqRecorded(spark: SparkSession, dir: String,
                          newVectors: DataFrame,
                          batchId: String): DataFrame =
    recorded("ivfpq", dir, batchId)(
      Similarity.appendToIvfPqIndex(spark, dir, newVectors, batchId))

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
    * alone; nothing to decide on → `none`.
    */
  def ivfPqDecision(spark: SparkSession, dir: String,
                    maxQerrRatioE4: Long = 15000L,
                    minMeanCscoreE4: Long = 8500L): Decision = {
    val r = driftTotals(spark, dir,
        sum(col("n_added") * col("mean_cscore_e4")),
        sum(col("n_added") * col("mean_qerr_e4"))) match {
      case Left(why) =>
        return Decision("ivfpq", "none", 0L, maxQerrRatioE4, why)
      case Right(r) => r
    }
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
      : Path = {
    val cur = current(spark, warehouse, db, "ivfPqRetrain")
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

  /** The meta-marker families' batch-count decision over the BM25 meta
    * partitions.
    */
  def bm25Decision(spark: SparkSession, dir: String,
                   maxBatches: Int = 16): Decision =
    countDecision("bm25")(spark, dir, maxBatches)

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
                  token: String): Path = {
    val cur = current(spark, warehouse, db, "bm25Compact")
    val postings = BatchTables.readCommitted(spark, s"$cur/postings",
        BatchTables.committed(spark, cur.toString))
      .select("id", "dl", "term", "tf")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        def write(df: DataFrame, table: String): Unit =
          BatchTables.write(df, s"$vdir/$table", "base", overwrite = true)
        write(postings, "postings")
        write(postings.groupBy("term").agg(count(lit(1)).as("df_part")),
          "terms")
        // meta IS the commit marker, so every meta row is committed —
        // sum the partials directly (no semi join needed). Retraction
        // tombstones ([[retract]]) BAKE IN here: the compacted n/dlsum
        // subtract the retracted submissions and the fresh version
        // carries no `retracted` table — compaction is where the bm25
        // family's physical erasure completes.
        val (rN, rDl) =
          if (!BatchTables.exists(spark, s"$cur/retracted")) (0L, 0L)
          else {
            val r = spark.read.parquet(s"$cur/retracted")
              .groupBy("id").agg(max("dl").as("dl"))
              .agg(count(lit(1)).as("rn"),
                coalesce(sum("dl"), lit(0L)).as("rdl")).head()
            (r.getLong(0), r.getLong(1))
          }
        write(spark.read.parquet(s"$cur/meta")
          .agg((coalesce(sum(col("n_part")), lit(0L)) - lit(rN))
              .as("n_part"),
            (coalesce(sum(col("dlsum_part")), lit(0L)) - lit(rDl))
              .as("dlsum_part")), "meta")
      }
    } finally postings.unpersist()
  }

  // ---- semantic (embedding) index: centroid retrain ----------------------

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
    // an index created EMPTY before its writer left a zero-row file has
    // an assigned dir with no readable parquet — decide none instead of
    // crashing schema inference (the drift-ledger precedent)
    val assigned =
      try spark.read.parquet(s"$dir/assigned")
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return Decision("sem", "none", 0L, maxAppendFracE4,
            "empty assigned table (index created with no vectors)")
      }
    // one row per committed batch (one read of the committed set): its
    // distinct assigned ids, 0 for a batch that assigned none. "base" =
    // the largest (the bootstrap increment or the last compaction/
    // retrain result — increments bootstrap under their own batch id,
    // so the name "base" is not guaranteed); appended mass = the rest.
    val perBatch = BatchTables.committed(spark, dir)
      .join(assigned.groupBy("batch_id")
        .agg(countDistinct(col("id")).as("n")), Seq("batch_id"),
        "left_outer")
      .select(coalesce(col("n"), lit(0L))).collect()
      .map(_.getLong(0)).sorted.reverse
    val base = perBatch.headOption.getOrElse(0L)
    val appended = perBatch.drop(1).sum
    // an EMPTY index (created, nothing appended) must decide none, not
    // loop retrain-forever in the operational poll
    val frac = if (base == 0) { if (appended == 0) 0L else 10000L }
               else math.round(appended * 10000.0 / base)
    val nBatches = perBatch.length.toLong
    if (frac > maxAppendFracE4)
      Decision("sem", "retrain", frac, maxAppendFracE4,
        s"appended $appended vs base $base (${frac}e-4)")
    else if (nBatches > maxBatches)
      Decision("sem", "compact", nBatches, maxBatches,
        s"$nBatches committed batches")
    else Decision("sem", "none", math.max(frac, nBatches),
      maxAppendFracE4, s"frac ${frac}e-4, $nBatches batches")
  }

  /** Re-draw the centroid set from the ACCUMULATED committed vectors
    * (the same replayable [[Curation.semCentroidSample]]
    * md5 rule — an id's membership never changes, so the new set is the
    * old one plus appended ids that pass the rule) and re-assign the
    * whole corpus against it in a fresh `base` — exactly a fresh
    * [[Curation.writeSemIndex]] over the committed
    * union, spec-pinned.
    */
  def semRetrain(spark: SparkSession, warehouse: String, db: String,
                 token: String): Path = {
    val cur = current(spark, warehouse, db, "semRetrain")
    val (ce, na, _) = Curation.readSemMeta(spark, cur.toString)
    val vectors = BatchTables.readCommitted(spark, s"$cur/assigned",
        BatchTables.committed(spark, cur.toString))
      .select("id", "v").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Curation.semCentroidSample(vectors, ce)
      Restore.publishVersionedDir(spark, warehouse, db, token) { vdir =>
        Curation.writeSemIndex(vectors, cents,
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
    def has(sub: String) = BatchTables.exists(spark, s"$root/$sub")
    // a `_family` sentinel marks an increment state root: its
    // sub-indexes are owned by the funnel's commit protocol, so every
    // decision under it is ADVISORY (see [[Decision.advisory]]) — the
    // applicable action for an advisory compact is the WHOLE-STATE
    // [[graft.pipeline.Increment.compactStateTo]] (all families fold
    // consistently; per-family executors would desync the marker)
    val funnel = graft.pipeline.Increment.stateFamily(spark, root).isDefined
    val mb = maxBatches
    val ds =
      // funnel sub-dir layouts (increment state roots)
      MarkerFamilies.filter(fam => has(s"${fam.name}/meta"))
        .map(fam => fam.decide(spark, s"$root/${fam.name}", mb)) ++
      // root layouts (versioned warehouse dbs — the executable shape)
      Seq((has("postings"), () => bm25Decision(spark, root, mb)),
        (has("drift"), () => ivfDecision(spark, root)),
        (has("vectors_batches"), () => knnDecision(spark, root, mb)))
        .collect { case (true, d) => d() } ++
      MarkerFamilies.filter(atRoot(_, has)).map(_.decide(spark, root, mb))
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
                case ("sem", "retrain") =>
                  semRetrain(spark, warehouse, db, token)
                case ("knn", "compact") =>
                  knnCompact(spark, warehouse, db, token)
                case ("knn", "retrain") =>
                  knnRetrain(spark, warehouse, db, token)
                case (index, "compact") if byName.contains(index) =>
                  compact(byName(index), spark, warehouse, db, token)
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
    def has(sub: String) = BatchTables.exists(spark, s"$dir/$sub")
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
        BatchTables.purge(spark, s"$dir/postings", idsN)
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
        def inBatches(t: DataFrame) =
          t.filter(col("batch_id").isInCollection(batches))
        if (batches.nonEmpty)
          BatchTables.rewritePartitions(spark, s"$dir/terms")(inBatches,
            _ => inBatches(spark.read.parquet(s"$dir/postings"))
              .groupBy("batch_id", "term")
              .agg(count(lit(1)).as("df_part")))
      }
    }

    if (has("vectors") && has("edges") && has("entries")) {
      val baseHit = spark.read.parquet(s"$dir/vectors")
        .join(broadcast(idsN), Seq("id"), "left_semi")
        .select("id").distinct().localCheckpoint(eager = true)
      if (baseHit.head(1).nonEmpty)
        baseHit.write.mode("append").parquet(s"$dir/retracted")
      BatchTables.purge(spark, s"$dir/vectors_batches", idsN)
      BatchTables.purge(spark, s"$dir/edges_batches", idsN,
        Seq("id", "nbr"))
      touched += "knn"
    }

    // the meta-marker families' root layouts (the compacted warehouse
    // shapes): one purge per batch table, hit col = the doc id
    for (fam <- MarkerFamilies if atRoot(fam, has)) {
      for (t <- fam.tables) BatchTables.purge(spark, s"$dir/$t", idsN)
      for (t <- fam.frozen) retractCentroids(spark, s"$dir/$t", idsN)
      touched += fam.name
    }
    if (has("centroids") && has("assigned") &&
        !atRoot(byName("sem"), has)) {
      BatchTables.purge(spark, s"$dir/assigned", idsN,
        Seq(if (has("codebook")) "id" else "other_id"),
        Seq("batch_id", "cid"))
      touched += (if (has("codebook")) "ivfpq" else "ivf")
    }
    touched.toSeq
  }

  /** Drop the centroid rows (table at `path`) whose `cid` is one of
    * `ids`: a centroid stores its doc's full vector, so a deletion
    * request covers that copy too. Dropping one narrows candidate
    * routing (stored vectors in its cell pair only through their OTHER
    * cells) until a [[semRetrain]] re-draws the set from the
    * post-retraction corpus; no retracted content serves meanwhile.
    */
  private[pipeline] def retractCentroids(spark: SparkSession, path: String,
                                         ids: DataFrame): Unit = {
    if (!BatchTables.exists(spark, path)) return
    val cents = spark.read.parquet(path)
    val victims = broadcast(ids.select(col(ids.columns.head).as("cid")))
    if (cents.join(victims, Seq("cid"), "left_semi").head(1).nonEmpty)
      cents.join(victims, Seq("cid"), "left_anti")
        .localCheckpoint(eager = true)
        .write.mode("overwrite").parquet(path)
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
    if (BatchTables.exists(spark, s"$dir/vectors_batches"))
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

  /** The stored k, the entry-ring size and the (persisted) merged
    * vectors of a graph version — what both graph executors start from.
    */
  private def knnStored(spark: SparkSession,
                        cur: Path): (Int, Int, DataFrame) =
    (spark.read.parquet(s"$cur/meta").select(col("k")).head().getInt(0),
      spark.read.parquet(s"$cur/entries").count().toInt,
      graft.operators.KnnGraph.readKnnVectors(spark, cur.toString)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Merge the batch-union graph into one flat index in a fresh
    * published version WITHOUT re-running NN-Descent: every node's edge
    * rows (base + new-node lists + reverse augments) re-cap to the
    * stored k by (score desc, nbr asc) — deterministic from the stored
    * rows; vectors union flat; the entry ring re-ranks over the merged
    * corpus so appended nodes can become entries; meta restates k with
    * the merged n (the staleness fraction resets).
    */
  def knnCompact(spark: SparkSession, warehouse: String, db: String,
                 token: String): Path = {
    val cur = current(spark, warehouse, db, "knnCompact")
    val (k, maxEntries, vectors) = knnStored(spark, cur)
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
                 warmCells: Int = 0): Path = {
    val cur = current(spark, warehouse, db, "knnRetrain")
    val (k, maxEntries, vectors) = knnStored(spark, cur)
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
    val f = BatchTables.fs(spark, root)
    val kids = f.listStatus(new Path(root))
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    kids.toSeq.flatMap { p =>
      val name = p.getName
      graft.pipeline.Increment.stateFamily(spark, p.toString).map { fam =>
        if (!f.exists(new Path(s"$p/$fam/meta")))
          Execution(name, Decision(fam, "none", 0, maxBatches,
            "no committed marker — nothing to compact"), None,
            "uncommitted state — skipped")
        else {
          val batches = BatchTables.committed(spark, s"$p/$fam").count()
          if (batches <= maxBatches)
            Execution(name, Decision(fam, "none", batches, maxBatches,
              "within batch budget"), None, "no action needed")
          else {
            val dest = s"$destRoot/${name}_$token"
            val d = Decision(fam, "compact", batches, maxBatches,
              s"$batches committed batches > $maxBatches")
            if (f.exists(new Path(s"$dest/$fam/meta")))
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
