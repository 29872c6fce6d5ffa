package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Curation, Dedup, TextStats}

/** Configuration for [[Curate.run]] — each knob is one stage's dial.
  * `keepLangs` uses the synthetic marker profiles of `TextStats
  * .LangProfiles` (alpha/beta/gamma); the default keeps all three (the
  * filter still runs, so plans are audited in their production shape).
  */
case class CurateConfig(
    // C4 ingest cleaning (Raffel et al. 2020): line-level terminal-punct/
    // min-words/javascript filter + lorem-ipsum/brace/min-sentences page
    // gate, BEFORE the statistical gates score anything
    c4Clean: Boolean = false,
    minQualityE4: Long = 4000,
    keepLangs: Set[String] = Set("alpha", "beta", "gamma"),
    gopherRules: Option[graft.operators.TextStats.GopherConfig] = None,
    // optional Gopher REPETITION-rule gate (the Table A1 duplication
    // measures — dup lines/paragraphs, top/dup n-gram char fractions);
    // its own stage: the n-gram measures shuffle, unlike the per-row
    // quality rules above
    repetitionRules: Option[graft.operators.TextStats.RepetitionConfig] =
      None,
    // drop docs whose SELF-trained bigram cross-entropy exceeds the bound
    // (outlier gibberish scores high; None = stage off). The model trains
    // on the quality-filtered corpus itself — the CCNet shape would pass
    // a reference-corpus model instead via lmGrams.
    maxSelfXentE4: Option[Long] = None,
    lmVocabSize: Long = 1000L,
    // drop docs whose cross-entropy under an EXTERNAL ARPA/KenLM
    // reference model exceeds the bound — the literal CCNet deployment
    // (model ships as a file, the pool is only SCORED); active only when
    // Curate.run is given arpaModel. Differs from maxSelfXentE4's
    // self-train: a reference model judges against external fluency, so
    // a uniformly-gibberish pool cannot grade itself sane.
    maxArpaE4: Option[Long] = None,
    // CCNet-style perplexity bucketing (Wenzek et al. 2020): self-train a
    // Kneser–Ney bigram LM on the pool, tercile-split scores per
    // PREDICTED language, keep docs whose bucket is in the set (the
    // canonical CCNet keep is head+middle). None = stage off. Differs
    // from maxSelfXentE4's absolute bound: buckets adapt per language —
    // a language whose scores run high keeps its own best third, instead
    // of losing everything to one corpus-wide threshold.
    pplBucketsKeep: Option[Set[String]] = None,
    dedupLinesWithinDocs: Boolean = false,
    // cross-document substring dedup: drop token spans covered by
    // duplicate w-token windows, keeping each passage's canonical
    // (earliest) occurrence. None = stage off. NOTE: survivors carry the
    // NORMALIZED token stream as text (the Curation.removeDuplicateSpans
    // contract) — run it before stages that only need tokens.
    dedupWindowsW: Option[Int] = None,
    // EXACT any-length substring dedup (Suffix.removeDuplicateSpansExact,
    // Lee et al. ExactSubstr): drop every occurrence of any >= minLen-
    // token substring that repeats anywhere in the pool, with
    // token-exact boundaries — the precise instrument behind the
    // windowed screen above (same normalized-token-stream output
    // contract). None = stage off.
    exactSubstrMinLen: Option[Int] = None,
    exactSubstrCap: Int = 512,
    // > 0: run the exact-substring stage through the SHARDED form
    // (Suffix.removeDuplicateSpansExactSharded — per-shard suffix
    // passes + cross-shard screen, output identical to the global
    // form, spec-pinned) with this many content-defined shards. 0 =
    // the single-stream form. The 100 TB funnel runs sharded.
    exactSubstrShards: Int = 0,
    // DSIR selection stage dials (active only when Curate.run is given a
    // dsirTarget frame): keep-fraction of the pool in e4 (5000 = half),
    // Gumbel seed, noise temperature (0 = pure top-k by weight)
    dsirKeepFracE4: Long = 5000L,
    dsirSeed: Long = 0L,
    dsirTemperatureE4: Long = 10000L,
    // fastText-style quality-classifier gate threshold (e6 P(keep));
    // active only when Curate.run is given a classifierModel
    minClassifierPE6: Long = 500000L,
    nearDupThresholdE4: Long = 8000,
    // SemDeDup (Abbas et al. 2023) stage: embedding-cosine near-dup →
    // connected components → keep min-id canonical, over hash-trick
    // embeddings of the raw text (Curation.semDedupVictims). None =
    // stage off; value = cosine threshold in e4 (9500 = 0.95, the
    // paper's regime). Runs AFTER MinHash near-dup: lexical dedup first
    // (cheaper, higher precision), semantic dedup on what survives.
    semDedupThresholdE4: Option[Long] = None,
    semDedupDim: Int = 64,
    semDedupCentroidEvery: Int = 25,
    semDedupNassign: Int = 2,
    decontamGramN: Int = 8,
    chunkTokens: Int = 64,
    chunkOverlap: Int = 8,
    packBudget: Int = 256,
    // pack with best-fit-decreasing ([[Curation.packSequencesBestFit]])
    // instead of the greedy contiguous cut — lower padding at the cost
    // of giving up doc-contiguous pack order (PACK sweeps in SCALE.md)
    packBestFit: Boolean = false,
    // emit the per-doc rejection LEDGER (CurateResult.ledger): one
    // verdict row per input doc — the audit frame a production curation
    // run owes its corpus accounting, and the batch twin of
    // CurateStream's GateVerdict stream (spec-pinned ≡ on shared
    // stages). Off by default: each dropping stage then pays one extra
    // bounded anti-join + materialization for its dropped-id frame.
    emitLedger: Boolean = false,
    // stage-checkpointed RESUMABLE funnel (round 14): when set, every
    // stage's admitted frame (and ledger piece) publishes through the
    // Restore.publishVersionedDir commit-marker path under this
    // warehouse dir — a crash at stage 9 of 12 then resumes from the
    // last committed stage instead of re-running a 100 TB pool from
    // ingest. The parquet barrier replaces the localCheckpoint barrier
    // (same optimizer-blowup protection, durable instead of
    // executor-resident). None = in-memory barriers (exactly the
    // pre-round-14 behavior).
    stageCheckpointDir: Option[String] = None,
    // with stageCheckpointDir set: skip every stage whose commit marker
    // (and, under emitLedger, whose ledger piece's marker) already
    // resolves, reading the committed frame instead — funnel counts and
    // ledger are IDENTICAL to the uninterrupted run (spec-pinned).
    // A non-resume rerun into a dir holding committed stages fails
    // loudly in publishVersionedDir (immutable version tokens): pass
    // resume = true or a fresh runToken/dir.
    resume: Boolean = false,
    // version token for this run's stage publishes (publishVersionedDir
    // tokens are immutable-unique per stage db)
    runToken: String = "0",
    // language gate driven by an EXTERNAL char-n-gram artifact
    // ([[graft.operators.TextStats.parseLangId]]) instead of the
    // synthetic marker profiles; keepLangs must name the model's
    // languages. None (default) keeps the fixture profiles and the
    // exact legacy plan.
    langIdModel: Option[graft.operators.TextStats.LangIdModel] = None,
    // materialize the admitted doc frame into
    // [[CurateResult.admittedDocs]] (one extra bounded localCheckpoint
    // of the survivor pool) — the state-rebuild consumers' dial; off by
    // default so the plain funnel pays nothing
    keepAdmitted: Boolean = false)

/** `chunks` — the packed, sharded training chunks (doc_id, chunk_id,
  * chunk_text, n_tokens, shard, pack); `stageCounts` — rows surviving each
  * stage in order, the curation funnel a pipeline report shows;
  * `stageSeconds` — wall time attributed to each stage (count-to-count:
  * each stage's lazy plan executes at its funnel count, so the delta
  * between consecutive counts IS the stage's materialization cost — the
  * per-stage rows of SCALE.md's composed-pipeline sweeps); `ledger` (when
  * `cfg.emitLedger`) — one verdict row PER INPUT DOC: (id, admitted,
  * reason, dup_of), the [[graft.streaming.CurateStream.GateVerdict]]
  * schema. `reason` ∈ the stream's vocabulary for shared stages (c4,
  * quality, classifier, arpa, exact_dup, near_dup, admitted) plus the
  * batch-only stages (lm, ppl, dsir, sem_dup, decontaminated); `dup_of`
  * is the kept canonical for the dup reasons (content-hash keeper /
  * component label), else the doc's own id. Funnel counts are derivable
  * from the ledger (spec-pinned), so it subsumes `stageCounts` for
  * audit purposes.
  */
case class CurateResult(chunks: DataFrame, stageCounts: Seq[(String, Long)],
                        stageSeconds: Seq[(String, Double)] = Seq.empty,
                        ledger: Option[DataFrame] = None,
                        // when `cfg.keepAdmitted`: the admitted DOC
                        // frame (idCol, textCol) with each survivor's
                        // FINAL text (post line/window/exact-substr
                        // rewrites) — what a state rebuild must hash
                        // and index ([[Recurate.run]]'s input; a
                        // ledger-id join against the INPUT text would
                        // resurrect rewritten spans)
                        admittedDocs: Option[DataFrame] = None)

/** The end-to-end curation pipeline — the individual operators composed
  * the way a real 100 TB pretraining-data run composes them:
  *
  *   ingest → quality/language filter → exact dedup → MinHash near-dup
  *   (pairs → components → keep min-id representative) → benchmark
  *   decontamination → chunk → pack/shard
  *
  * Composition is where persist bugs hide, so the discipline is explicit:
  * every frame consumed by MORE than one downstream stage is persisted
  * before its first action and unpersisted as soon as its last consumer
  * has materialized; operator-internal persists (the MinHash signature
  * tables) are handed back via `Managed` and closed here. Each stage
  * count is one bounded action on a persisted frame — the counts ARE the
  * funnel report, not extra work.
  *
  * Scale shape of the composed job: every stage is either a per-row map,
  * a hash-partitioned aggregate, or a bucketed equi join — CurateSpec
  * audits the final executed plans for cartesian products and
  * single-partition exchanges (none), the same net PlanContractSpec casts
  * over the probe corpus (SCALE.md, "Round-5 full-corpus plan audit").
  */
object Curate {

  /** MD5 over every stage-relevant [[CurateConfig]] field plus the
    * presence of the optional model inputs — the identity of a
    * stage-checkpoint store. Excludes only `resume`/`runToken` (run
    * mechanics, not semantics); sets serialize sorted.
    */
  private[pipeline] def configFingerprint(cfg: CurateConfig,
      hasDsir: Boolean, hasClassifier: Boolean, hasArpa: Boolean): String = {
    val repr = Seq(
      cfg.c4Clean, cfg.minQualityE4,
      cfg.keepLangs.toSeq.sorted.mkString("+"),
      cfg.gopherRules, cfg.repetitionRules, cfg.maxSelfXentE4,
      cfg.lmVocabSize, cfg.maxArpaE4,
      cfg.pplBucketsKeep.map(_.toSeq.sorted.mkString("+")),
      cfg.dedupLinesWithinDocs, cfg.dedupWindowsW, cfg.exactSubstrMinLen,
      cfg.exactSubstrCap, cfg.exactSubstrShards, cfg.dsirKeepFracE4,
      cfg.dsirSeed, cfg.dsirTemperatureE4, cfg.minClassifierPE6,
      cfg.nearDupThresholdE4, cfg.semDedupThresholdE4, cfg.semDedupDim,
      cfg.semDedupCentroidEvery, cfg.semDedupNassign, cfg.decontamGramN,
      cfg.chunkTokens, cfg.chunkOverlap, cfg.packBudget, cfg.packBestFit,
      cfg.emitLedger, hasDsir, hasClassifier, hasArpa).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(repr.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Publish a run's funnel report — one (run_id, stage, ord, rows,
    * seconds) row per stage — through the commit-marker path
    * (VERDICT r14 #7): each run is its own versioned db
    * (`funnel_<runId>`), so a torn write is invisible and a retried
    * export replaces its version. Repeated runs build the funnel-rate
    * time series a maintenance decision reads ([[readStageMetrics]]
    * unions every committed run).
    */
  def exportStageMetrics(spark: org.apache.spark.sql.SparkSession,
                         result: CurateResult, dir: String,
                         runId: String): org.apache.hadoop.fs.Path = {
    import spark.implicits._
    val secs = result.stageSeconds.toMap
    val rows = result.stageCounts.zipWithIndex.map { case ((st, n), i) =>
      (runId, st, i, n, math.floor(
        secs.getOrElse(st, 0.0) * 1000 + 0.5).toLong)
    }.toDF("run_id", "stage", "ord", "rows", "millis")
    val db = s"funnel_$runId"
    // version token = first free slot: a crash-orphaned dir (exists but
    // never committed) is reclaimed (the ck.save discipline); a COMMITTED
    // earlier export gets a fresh version and the marker advances —
    // re-export of a run replaces its rows without mutating a published
    // version dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    var t = 0
    var done = false
    while (!done) {
      val vd = new org.apache.hadoop.fs.Path(dir, s"${db}__v$t")
      if (!fs.exists(vd)) done = true
      else if (!Restore.resolveVersioned(spark, dir, db).contains(vd)) {
        fs.delete(vd, true); done = true
      } else t += 1
    }
    Restore.publishVersionedDir(spark, dir, db, t.toString) { vdir =>
      rows.coalesce(1).write.mode("overwrite").parquet(vdir.toString)
    }
  }

  /** Every committed run's funnel rows — the time series. */
  def readStageMetrics(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    import spark.implicits._
    // catalog lists the VERSION dirs (funnel_<runId>__v<token>); strip
    // back to logical dbs and resolve each through its commit marker.
    // Bounded: one name per exported run version.
    val runs = Restore.catalog(spark, dir)
      .filter(col("db").startsWith("funnel_"))
      .as[String].collect().toSeq
      .map(_.replaceAll("__v.*$", "")).distinct
    val resolved = runs.flatMap(db =>
      Restore.resolveVersioned(spark, dir, db).map(_.toString))
    if (resolved.isEmpty)
      Seq.empty[(String, String, Int, Long, Long)]
        .toDF("run_id", "stage", "ord", "rows", "millis")
    else resolved.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Per-stage funnel bookkeeping shared by [[funnel]] and [[run]]'s
    * tail: the row count and count-to-count wall time of each stage, and
    * the stage-checkpoint store (cfg.stageCheckpointDir).
    */
  private[pipeline] final class StageLog(sess: SparkSession,
                                         cfg: CurateConfig) {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    private var tPrev = System.nanoTime()
    def stage(name: String, c: => Long): Unit = {
      val v = c
      val now = System.nanoTime()
      counts += ((name, v)); times += ((name, (now - tPrev) / 1e9))
      tPrev = now
    }
    // ---- stage-checkpoint store (cfg.stageCheckpointDir) ----------------
    // every stage frame (db `stage_<name>`) and ledger piece (db
    // `ledger_<name>`) publishes through the commit-marker path; a
    // resumed run reads committed dbs instead of recomputing. Stage
    // closures are BY-NAME so a resolved stage never constructs its
    // operators (several construct EAGERLY: connected components,
    // percentile cuts, suffix descents).
    object ck {
      private val whOpt = cfg.stageCheckpointDir
      def on: Boolean = whOpt.nonEmpty
      private def resolvedPath(db: String) =
        whOpt.flatMap(wh => Restore.resolveVersioned(sess, wh, db))
      def resolved(db: String): Boolean =
        cfg.resume && resolvedPath(db).isDefined
      def read(db: String): DataFrame =
        sess.read.parquet(resolvedPath(db).get.toString)
      def save(db: String, df: DataFrame): DataFrame = {
        val wh = whOpt.get
        // clear a crash-orphaned version dir: the marker commits LAST,
        // so a dir it never pointed at is provably uncommitted
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(sess.sparkContext.hadoopConfiguration)
        val vd = new org.apache.hadoop.fs.Path(wh,
          s"${db}__v${cfg.runToken}")
        if (fs.exists(vd) && !resolvedPath(db).contains(vd))
          fs.delete(vd, true)
        val p = Restore.publishVersionedDir(sess, wh, db, cfg.runToken) {
          vdir => df.write.mode("overwrite").parquet(vdir.toString) }
        sess.read.parquet(p.toString)
      }
      // the stage barrier: parquet-committed when checkpointing is on,
      // the eager localCheckpoint otherwise (same optimizer-blowup
      // protection either way)
      def barrier(name: String)(make: => DataFrame): DataFrame =
        if (!on) make.localCheckpoint(true)
        else if (resolved(s"stage_$name")) read(s"stage_$name")
        else save(s"stage_$name", make)
      // legacy-persist sites: identical to the pre-checkpoint behavior
      // when checkpointing is off (no extra materialization)
      def barrierOpt(name: String)(make: => DataFrame): DataFrame =
        if (!on) make
        else if (resolved(s"stage_$name")) read(s"stage_$name")
        else save(s"stage_$name", make)
      // a stage whose operators construct EAGERLY is skippable iff its
      // frame and (under emitLedger) its piece both resolved
      def canSkip(name: String, pieceName: Option[String]): Boolean =
        on && resolved(s"stage_$name") &&
          (!cfg.emitLedger ||
            pieceName.forall(p => resolved(s"ledger_$p")))
    }
  }

  /** What [[funnel]] hands back: `survivors` — the PERSISTED admitted
    * frame (idCol, textCol) carrying each doc's FINAL text (post
    * C4/line/window/exact-substr rewrites; the caller unpersists it);
    * `log` — the stage counts and seconds through `decontaminated`;
    * `ledgerPieces` — under `cfg.emitLedger`, the materialized rejection
    * pieces (empty otherwise).
    */
  private[pipeline] case class Funnel(survivors: DataFrame, log: StageLog,
                                      ledgerPieces: Seq[DataFrame])

  /** The full curation run: the gate [[funnel]], then the count-based
    * chunk → pack/shard report tail and the ledger assembly.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
          benchmark: DataFrame, benchTextCol: String,
          cfg: CurateConfig = CurateConfig(),
          // target-domain exemplar docs (same textCol) for the optional
          // DSIR selection stage; None = stage off
          dsirTarget: Option[DataFrame] = None,
          // trained quality-classifier model (Classifier.train on labeled
          // exemplars — the GPT-3/LLaMA CommonCrawl-filter shape) for the
          // optional classifier gate; None = stage off
          classifierModel: Option[graft.operators.Classifier.Model] = None,
          // external ARPA/KenLM reference model (TextStats.parseArpa on
          // the model file) for the optional maxArpaE4 gate; None =
          // stage off
          arpaModel: Option[graft.operators.TextStats.ArpaModel] = None)
      : CurateResult = {
    val f = funnel(docs, idCol, textCol, benchmark, benchTextCol, cfg,
      dsirTarget, classifierModel, arpaModel)
    import f.log.{ck, stage}
    val clean = f.survivors

    // ---- chunk → pack/shard --------------------------------------------
    // pack order key: (doc, chunk) folded into one monotonic long — docs
    // stay contiguous inside a shard, chunks stay in document order
    val packed = ck.barrierOpt("chunks") {
      val chunks = Curation.chunkByTokens(clean, idCol, textCol,
          cfg.chunkTokens, cfg.chunkOverlap)
        .withColumn("__ck", col(idCol) * lit(1000000L) + col("chunk_id"))
      (if (cfg.packBestFit)
          Curation.packSequencesBestFit(chunks, "__ck", col("n_tokens"),
            Curation.shardAssign(col(idCol)), cfg.packBudget)
        else
          Curation.packSequences(chunks, "__ck", col("n_tokens"),
            Curation.shardAssign(col(idCol)), cfg.packBudget))
        .drop("__ck", "toks")
    }.persist(StorageLevel.MEMORY_AND_DISK)
    stage("chunks", packed.count())
    val ledger =
      if (!cfg.emitLedger) None
      else {
        val admitted = clean
          .select(col(idCol).cast("long").as("id"), lit(true).as("admitted"),
            lit("admitted").as("reason"), col(idCol).cast("long").as("dup_of"))
        Some((f.ledgerPieces :+ admitted).reduce(_ unionByName _)
          .localCheckpoint(true))
      }
    val admittedDocs =
      if (!cfg.keepAdmitted) None
      else Some(clean.select(col(idCol), col(textCol))
        .localCheckpoint(eager = true))
    clean.unpersist()

    CurateResult(packed, f.log.counts.toSeq, f.log.times.toSeq, ledger,
      admittedDocs)
  }

  /** The gate funnel of [[run]], ingest through benchmark
    * decontamination — everything a consumer of the admitted docs needs
    * and nothing only the report tail reads ([[TrainData.buildShards]]
    * tokenizes `survivors` directly). Parameters as in [[run]].
    */
  private[pipeline] def funnel(docs: DataFrame, idCol: String,
      textCol: String, benchmark: DataFrame, benchTextCol: String,
      cfg: CurateConfig,
      dsirTarget: Option[DataFrame],
      classifierModel: Option[graft.operators.Classifier.Model],
      arpaModel: Option[graft.operators.TextStats.ArpaModel]): Funnel = {
    val sess = docs.sparkSession
    val log = new StageLog(sess, cfg)
    import log.{ck, stage}
    // config fingerprint guard (ADVICE r14): resolved stages are only
    // honored when the store was committed under the SAME stage-relevant
    // config — a resume with changed thresholds or a different stage set
    // would silently read stale frames into wrong counts/ledger. Fresh
    // runs (re)define the fingerprint BEFORE any stage publishes, so a
    // crash mid-run still leaves it for the resume to check.
    if (ck.on) Restore.guardConfigFingerprint(sess,
      cfg.stageCheckpointDir.get,
      configFingerprint(cfg, dsirTarget.nonEmpty, classifierModel.nonEmpty,
        arpaModel.nonEmpty),
      cfg.resume)
    // ---- rejection-ledger capture (cfg.emitLedger) ----------------------
    // each piece is a bounded id frame materialized EAGERLY (or
    // parquet-committed under the checkpoint store), while the stage
    // frames it reads are persisted/checkpointed (the quality stage
    // checkpoints its survivors below before cutting its piece — its
    // inputs are otherwise lazy) — a lazy piece would recompute its
    // whole upstream stage after unpersist
    val led = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def piece(name: String)(make: => DataFrame): DataFrame =
      if (!ck.on) make.localCheckpoint(true)
      else if (ck.resolved(s"ledger_$name")) ck.read(s"ledger_$name")
      else ck.save(s"ledger_$name", make)
    def rejectAnti(prev: DataFrame, next: DataFrame, reason: String): Unit =
      if (cfg.emitLedger) led += piece(reason)(prev
        .select(col(idCol).cast("long").as("id"))
        .join(next.select(col(idCol).cast("long").as("id")),
          Seq("id"), "left_anti")
        .select(col("id"), lit(false).as("admitted"),
          lit(reason).as("reason"), col("id").as("dup_of")))
    def rejectDup(name: String)(p: => DataFrame): Unit =
      if (cfg.emitLedger) led += piece(name)(p)

    // ---- optional C4 ingest cleaning (per-row map + filter) ------------
    // before anything scores: the statistical gates should judge the
    // cleaned lines, not cookie banners and code fragments
    var input = graft.core.Ops.widen(docs).select(col(idCol), col(textCol))
    if (cfg.c4Clean) {
      val pre = input
      input = ck.barrier("c4_clean")(Curation.c4Clean(input, idCol, textCol)
        .filter(col("keep"))
        .select(col(idCol), col("cleaned_text").as(textCol)))
      stage("c4_clean", input.count())
      rejectAnti(pre, input, "c4")
    }

    // ---- ingest + per-doc stats (one pass: words computed once) --------
    cfg.langIdModel.foreach(m => require(
      cfg.keepLangs.subsetOf(m.langs.toSet),
      s"curate: keepLangs ${cfg.keepLangs} not all in the langid " +
        s"model's languages ${m.langs}"))
    val scored = TextStats.langGateCols(
      input.withColumn("__w", Dedup.normalizeWords(col(textCol))),
      col(textCol), col("__w"), cfg.langIdModel)
    var filtered = scored
      .withColumn("__q", TextStats.qualityScore(col(textCol), col("__w")))
      .filter(col("__q") >= cfg.minQualityE4 &&
        col("__lang").isInCollection(cfg.keepLangs))
      .select(col(idCol), col(textCol), col("__w"))
    // optional Gopher-rule gate — same pass, reusing the words array
    for (g <- cfg.gopherRules)
      filtered = filtered.filter(
        TextStats.gopherFlags(col(textCol), col("__w"), g).getField("pass"))
    filtered = filtered.select(col(idCol), col(textCol))
    // the quality piece's inputs are BOTH lazy here (input is
    // checkpointed only when c4Clean ran; filtered never before
    // exact_dedup), so the anti-join would run the full quality/gopher
    // plan an extra time — checkpoint the survivors once and let the
    // same frame feed the piece and every downstream stage
    if (cfg.emitLedger || ck.on) filtered = ck.barrier("quality")(filtered)
    rejectAnti(input, filtered, "quality")

    // ---- optional Gopher repetition gate (n-gram duplication rules) ----
    for (rc <- cfg.repetitionRules) {
      val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
      filtered = ck.barrier("repetition") {
        val keep = TextStats.repetitionSignals(base, idCol, textCol, rc)
          .filter(col("rep_pass")).select(col(idCol))
        base.join(keep, Seq(idCol))
      }
      stage("repetition", filtered.count())
      rejectAnti(base, filtered, "repetition")
      base.unpersist()
    }

    // optional LM-perplexity gate: self-train on the quality survivors,
    // keep docs at or under the cross-entropy bound. The survivor frame
    // feeds score + join (persisted for the stage); the train/score
    // bigram explode itself happens ONCE inside selfCrossEntropyManaged
    // (its pinned frame closes when the gate count materializes).
    // Every optional gate below references its input MULTIPLE times
    // (model build + score join + keep join): composing them chains
    // those self-references, and because Catalyst's tree transforms copy
    // subtrees, the ANALYSIS-time plan grows as the product of the
    // fan-outs — measured: all five optional stages on together ran the
    // 8 GiB driver out of heap INSIDE the optimizer, before the first
    // job (SCALE.md round-7 funnel note). Each gate therefore ends with
    // an eager `localCheckpoint`: the stage materializes exactly where
    // its funnel count runs anyway, and downstream plans start from the
    // checkpointed RDD instead of re-embedding the whole upstream tree.
    // (Checkpoint blocks are reclaimed by the ContextCleaner when the
    // frame goes out of scope — the persist/unpersist pairing below
    // remains only for the always-on stages with shallow lineage.)
    // ---- optional quality-classifier gate (fastText shape) -------------
    // model trained OUTSIDE the pipeline on labeled exemplars
    // (Classifier.train); scoring the survivors is one broadcast join +
    // one hash aggregate. Same localCheckpoint discipline as the gates
    // below (score + keep join reference the input twice).
    for (m <- classifierModel) {
      val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
      filtered = ck.barrier("classifier_gate") {
        val keep = graft.operators.Classifier.score(base, idCol, textCol, m)
          .filter(col("p_e6") >= cfg.minClassifierPE6)
          .select(col(idCol))
        base.join(keep, Seq(idCol))
      }
      stage("classifier_gate", filtered.count())
      rejectAnti(base, filtered, "classifier")
      base.unpersist()
    }

    for (bound <- cfg.maxSelfXentE4) {
      val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
      val xentM = TextStats.selfCrossEntropyManaged(base, idCol, textCol,
        cfg.lmVocabSize)
      filtered = ck.barrier("lm_gate") {
        val keep = xentM.df
          .filter(col("xent_e4") <= bound)
          .select(col(idCol))
        base.join(keep, Seq(idCol))
      }
      stage("lm_gate", filtered.count())
      rejectAnti(base, filtered, "lm")
      xentM.close()
      base.unpersist()
    }

    // ---- optional external-ARPA reference-perplexity gate ---------------
    // after the self-train gate (independent judges: self-train kills
    // pool-relative outliers, the reference model kills externally
    // disfluent text): score under the FILE-shipped model of ANY order n
    // (bigram CCNet collapse or the full 5-gram KenLM file), one corpus
    // explode + (2n−1) model-table joins, no training inside the funnel
    for (bound <- cfg.maxArpaE4; m <- arpaModel) {
      val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
      filtered = ck.barrier("arpa_gate") {
        val tabs = TextStats.arpaTablesN(docs.sparkSession, m)
        val keep = TextStats.arpaCrossEntropyN(base, idCol, textCol, tabs,
            m.unkLp)
          .filter(col("arpa_e4") <= bound)
          .select(col(idCol))
        base.join(keep, Seq(idCol))
      }
      stage("arpa_gate", filtered.count())
      rejectAnti(base, filtered, "arpa")
      base.unpersist()
    }

    // ---- optional CCNet perplexity buckets (per-language terciles) -----
    // after the absolute-bound LM gate (they answer different questions:
    // the gate kills outlier gibberish, the buckets rank what survives),
    // before DSIR (selection should see the bucket-trimmed pool). The KN
    // scoring pays one corpus explode (selfKnCrossEntropyManaged); the
    // bucket thresholds are two bounded shuffles (perplexityBucketsManaged
    // persists the scored frame its two consumers share); language
    // re-prediction is a per-row map over the persisted pool.
    for (keepBuckets <- cfg.pplBucketsKeep) {
      // the KN train and the tercile cuts run EAGERLY at construction —
      // a resumed stage must not construct them at all
      if (ck.canSkip("ppl_buckets", Some("ppl"))) {
        val prev = filtered
        filtered = ck.read("stage_ppl_buckets")
        stage("ppl_buckets", filtered.count())
        rejectAnti(prev, filtered, "ppl")
      } else {
        val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
        val knM = TextStats.selfKnCrossEntropyManaged(base, idCol, textCol,
          cfg.lmVocabSize)
        val langs = TextStats.langGateCols(
            base.withColumn("__w", Dedup.normalizeWords(col(textCol))),
            col(textCol), col("__w"), cfg.langIdModel)
          .select(col(idCol), col("__lang"))
        // docs with < 2 normalized words carry a coalesced score of 0, not
        // a measured one — exclude them from the tercile cuts and label
        // them `unscored` (kept only if keepBuckets lists "unscored")
        val bM = Curation.perplexityBucketsManaged(
          knM.df.join(langs, Seq(idCol)), "__lang", "kn_e4",
          unscoredWhen = Some(col("n_bigrams") === lit(0L)))
        val keep = bM.df.filter(col("bucket").isInCollection(keepBuckets))
          .select(col(idCol))
        filtered = ck.barrier("ppl_buckets")(base.join(keep, Seq(idCol)))
        stage("ppl_buckets", filtered.count())
        rejectAnti(base, filtered, "ppl")
        bM.close(); knM.close(); base.unpersist()
      }
    }

    // ---- optional DSIR selection toward a target domain ----------------
    // after the quality gates (don't spend LM scoring on junk), before
    // the dedup family (selection shrinks the pool the expensive near-dup
    // stage sees). Keep-count is a fraction of the post-gate pool; the
    // selection itself is the deterministic Gumbel-top-k operator.
    for (target <- dsirTarget) {
      if (ck.canSkip("dsir_select", Some("dsir"))) {
        val prev = filtered
        filtered = ck.read("stage_dsir_select")
        stage("dsir_select", filtered.count())
        rejectAnti(prev, filtered, "dsir")
      } else {
        val base = filtered.persist(StorageLevel.MEMORY_AND_DISK)
        val n = base.count() // bounded action on the persisted pool
        val k = math.max(1L,
          math.ceil(n * cfg.dsirKeepFracE4 / 10000.0).toLong).toInt
        val wM = TextStats.importanceWeightsSelfRawManaged(base, idCol,
          textCol, TextStats.bigramCounts(target, textCol), cfg.lmVocabSize)
        val picked = TextStats.importanceResample(wM.df, idCol, k,
          cfg.dsirSeed, cfg.dsirTemperatureE4).select(col(idCol))
        filtered = ck.barrier("dsir_select")(base.join(picked, Seq(idCol)))
        stage("dsir_select", filtered.count())
        rejectAnti(base, filtered, "dsir")
        wM.close(); base.unpersist()
      }
    }

    // ---- optional intra-doc repetition cleanup (line granularity) ------
    if (cfg.dedupLinesWithinDocs)
      filtered = Curation.dedupLines(filtered, idCol, textCol)
        .select(col(idCol), col("cleaned_text").as(textCol))

    // ---- optional cross-doc substring dedup (window granularity) -------
    // between line dedup (within-doc) and exact dedup (whole-doc): the
    // repeated-passage regime both neighbors miss. Doc count is the
    // funnel row (no doc disappears here — the count shows pool size at
    // the stage; deleted-token totals come from duplicateWindows when a
    // report needs them).
    for (w <- cfg.dedupWindowsW) {
      // by-name barrier: the span removal runs eagerly at call time, so
      // a resolved stage never invokes it
      val cleaned = ck.barrier("window_dedup")(
        Curation.removeDuplicateSpans(filtered, idCol, textCol, w))
      stage("window_dedup", cleaned.count())
      filtered = cleaned
        .select(col(idCol), col("cleaned_text").as(textCol))
    }

    for (minLen <- cfg.exactSubstrMinLen) {
      val cleaned = ck.barrier("exact_substr")(
        if (cfg.exactSubstrShards > 0)
          graft.operators.Suffix.removeDuplicateSpansExactSharded(
            filtered, idCol, textCol, minLen, cfg.exactSubstrCap,
            cfg.exactSubstrShards)
        else graft.operators.Suffix.removeDuplicateSpansExact(
          filtered, idCol, textCol, minLen, cfg.exactSubstrCap))
      stage("exact_substr", cleaned.count())
      filtered = cleaned
        .select(col(idCol), col("cleaned_text").as(textCol))
    }

    // ---- exact dedup: content-hash groups, min id survives -------------
    val hashed = filtered.withColumn("__h", md5(col(textCol)))
    val keptH = graft.core.Ops
      .latestPerGroup(hashed, Seq("__h"), Seq(col(idCol).asc))
      .persist(StorageLevel.MEMORY_AND_DISK) // two consumers: pair gen + anti join
    val kept = ck.barrierOpt("exact_dedup")(keptH.drop("__h"))
    stage("exact_dedup", kept.count())
    // dup_of = the content group's kept (min-id) doc
    rejectDup("exact_dup")(hashed.select(col(idCol), col("__h"))
      .join(keptH.select(col("__h"),
        col(idCol).cast("long").as("dup_of")), Seq("__h"))
      .filter(col(idCol) =!= col("dup_of"))
      .select(col(idCol).cast("long").as("id"), lit(false).as("admitted"),
        lit("exact_dup").as("reason"), col("dup_of")))

    // ---- MinHash near-dup: pairs → components → drop non-representatives
    var deduped =
      if (ck.canSkip("near_dup", Some("near_dup"))) {
        // the component iteration runs eagerly at construction — a
        // resumed stage must not construct it at all
        val d = ck.read("stage_near_dup")
          .persist(StorageLevel.MEMORY_AND_DISK)
        stage("near_dup", d.count())
        if (cfg.emitLedger) led += ck.read("ledger_near_dup")
        keptH.unpersist()
        d
      } else {
        val (pairsM, bandRows) =
          Dedup.minhashNearDupPairsBanded(kept, idCol, textCol)
        val edges = pairsM.df
          .filter(col("jacc_e4") >= cfg.nearDupThresholdE4)
        val compM = Dedup.connectedComponentsManaged(edges)
        // label = min id of the component → every non-label member is a
        // victim
        val victims = compM.df.filter(col("id") =!= col("label"))
          .select(col("id").as(idCol))
        val d = ck.barrierOpt("near_dup")(
            kept.join(victims, Seq(idCol), "left_anti"))
          .persist(StorageLevel.MEMORY_AND_DISK) // contamination + join-back
        stage("near_dup", d.count())
        // band-bucket skew metric (VERDICT r17 #7): hottest LSH bucket
        // of the pool, off the pairs job's already-persisted bands —
        // a mass-duplicated boilerplate band is visible in the funnel
        // report before it skews a corpus-scale shuffle
        stage("band_bucket_max", Dedup.bandBucketStats(bandRows)
          .select(col("max_bucket")).head().getLong(0))
        // dup_of = the component label (min id) the victim collapsed into
        rejectDup("near_dup")(compM.df.filter(col("id") =!= col("label"))
          .select(col("id").cast("long").as("id"),
            lit(false).as("admitted"), lit("near_dup").as("reason"),
            col("label").cast("long").as("dup_of")))
        compM.close(); pairsM.close(); keptH.unpersist()
        d
      }

    // ---- optional SemDeDup: semantic near-dup over hash embeddings -----
    // after lexical near-dup (its survivors are this stage's pool),
    // before decontamination (don't n-gram-scan docs about to drop)
    for (th <- cfg.semDedupThresholdE4) {
      if (ck.canSkip("sem_dedup", Some("sem_dup"))) {
        val base = deduped
        val semKept = ck.read("stage_sem_dedup")
          .persist(StorageLevel.MEMORY_AND_DISK)
        stage("sem_dedup", semKept.count())
        if (cfg.emitLedger) led += ck.read("ledger_sem_dup")
        base.unpersist()
        deduped = semKept
      } else {
        val base = deduped
        val vM = Curation.semDedupVictimsManaged(base, idCol, textCol,
          cfg.semDedupDim, th, cfg.semDedupCentroidEvery,
          cfg.semDedupNassign)
        val semKept = ck.barrierOpt("sem_dedup")(base
            .join(vM.df.select(col(idCol)), Seq(idCol), "left_anti"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        stage("sem_dedup", semKept.count())
        rejectDup("sem_dup")(vM.df
          .select(col(idCol).cast("long").as("id"),
            lit(false).as("admitted"), lit("sem_dup").as("reason"),
            col("kept_id").cast("long").as("dup_of")))
        vM.close(); base.unpersist()
        deduped = semKept
      }
    }

    // ---- benchmark decontamination -------------------------------------
    val flags = Curation.contaminationFlags(deduped, idCol, textCol,
      benchmark, benchTextCol, cfg.decontamGramN)
    val clean = ck.barrierOpt("decontaminated")(deduped
        .join(flags.filter(!col("contaminated")).select(col(idCol)),
          Seq(idCol)))
      .persist(StorageLevel.MEMORY_AND_DISK) // consumers: count + caller
    stage("decontaminated", clean.count())
    rejectDup("decontaminated")(flags.filter(col("contaminated"))
      .select(col(idCol).cast("long").as("id"), lit(false).as("admitted"),
        lit("decontaminated").as("reason"),
        col(idCol).cast("long").as("dup_of")))
    deduped.unpersist()

    Funnel(clean, log, led.toSeq)
  }
}
