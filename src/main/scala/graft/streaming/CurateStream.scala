package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextStats}

/** The streaming counterpart of `pipeline/Curate.run`'s GATE stages —
  * quality/language filter → exact dedup → MinHash near-dup — over an
  * unbounded (id, text) stream, emitting one [[CurateStream.GateVerdict]]
  * PER INPUT DOCUMENT: the admit/reject decision, the stage that decided,
  * and the duplicate-lineage pointer. A ledger, not just a survivor
  * stream — incremental ingest must account for every document (the
  * downstream writer joins admitted ids against its payload store;
  * stream-stream joins after stateful operators are not a thing, so the
  * gate never tries to carry payloads through).
  *
  * Stage shapes, all shuffle-keyed and state-bounded:
  *  - quality/lang: stateless per-row column exprs (the batch operators
  *    verbatim — one definition, both engines);
  *  - exact dedup: [[StatefulDedup.firstPerKeyTagged]] on the content
  *    hash — one Long of state per distinct content;
  *  - near-dup: [[MinHashStream.bandVotes]] → `admittedAppend` — band-key
  *    sharded state with per-bucket caps, the q27 signature.
  *
  * Chain semantics for near-dups follow [[BandGate]] (transitive chains
  * collapse; `dup_of` is a parent pointer). Quality-rejected and
  * exact-dup docs never reach the near-dup state — the stream analog of
  * the batch funnel ordering.
  */
object CurateStream {

  /** `reason`: "c4" | "quality" | "repetition" | "classifier" | "ppl" |
    * "arpa" | "decontaminated" | "exact_dup" | "near_dup" | "admitted".
    * `dup_of` = lineage
    * parent for the dup reasons, else the doc's own id.
    */
  case class GateVerdict(id: Long, admitted: Boolean, reason: String,
                         dup_of: Long)

  /** Batch-trained perplexity serving gate: a frozen collected KN model
    * ([[graft.operators.TextStats.collectKnModel]]) plus per-language max
    * scores (typically `Curation.bucketThresholds`' __t2 ceil'd to e4 —
    * the CCNet "keep head+middle" cut). Percentile thresholds need the
    * whole population, so the batch run LEARNS them and the stream
    * APPLIES them statelessly — the train-offline/serve-online split.
    * Languages absent from the map pass unjudged.
    *
    * Docs with < 2 normalized words have NO bigrams: their score is a
    * defaulted 0, not evidence of fluency, so they are judged by
    * `admitUnscored` instead of the score compare — mirroring the batch
    * stage's `unscored` bucket (default: rejected, the batch
    * keep-head+middle default).
    */
  case class PplGate(model: graft.operators.TextStats.KnModel,
                     maxByLang: Map[String, Long],
                     admitUnscored: Boolean = false)

  /** External-ARPA reference gate: the stream half of the batch
    * `arpa_gate` stage (`Curate`'s `maxArpaE4`) — the model ships as a
    * FILE ([[graft.operators.TextStats.parseArpa]]), the stream only
    * scores.
    */
  case class ArpaGate(model: graft.operators.TextStats.ArpaModel,
                      maxE4: Long)

  /** Benchmark-decontamination gate: the stream half of the batch
    * funnel's terminal `decontaminated` stage. The eval set ships as
    * its COLLECTED distinct word n-grams (eval sets are bounded — the
    * funnel broadcasts the same table; [[DecontamGate.fromBenchmark]]
    * builds it), and each doc tests gram membership per row, join-free.
    * The gram set travels as a BROADCAST variable consulted from a
    * typed map (ADVICE r16) — never a plan literal, so a million-gram
    * benchmark costs one executor-side hash set, not a logical plan /
    * codegen blowup re-evaluated per micro-batch. The driver still
    * collects the distinct grams once at stream start; that is the same
    * bounded-eval-set assumption the batch funnel's broadcast join
    * makes, and it is the caller's contract.
    *
    * DELIBERATE ordering divergence (spec-pinned): the batch funnel
    * decontaminates AFTER dedup, so a contaminated doc can serve as a
    * dedup canonical before being dropped; the stream gates it BEFORE
    * the dedup states — eval content must never become a standing
    * canonical that keeps rejecting honest near-twins forever. The two
    * forms differ exactly when a contaminated doc would have shadowed
    * a later twin.
    */
  case class DecontamGate(grams: Seq[String], n: Int = 8) {
    require(n >= 1, s"DecontamGate: n ($n) must be positive")
  }

  object DecontamGate {
    /** Collect the benchmark's distinct n-grams (the funnel's broadcast
      * side, materialized once at stream start).
      */
    /** Grams are built through [[graft.operators.Dedup
      * .normalizeWordsLocal]] — the SAME JVM code path the gate's
      * executor-side membership test normalizes docs with (ADVICE r17:
      * the Spark `lower()` expression falls back to default-locale
      * lowercasing for non-ASCII, so a gram set built with it could
      * diverge from the Locale.ROOT doc side under non-English JVM
      * locales, flipping verdicts). One helper on both sides makes the
      * gate locale-invariant by construction; parity with the batch
      * funnel's Spark-expression normalization holds except under the
      * Turkish/Lithuanian default-locale special cases (see the helper's
      * note).
      */
    def fromBenchmark(benchmark: org.apache.spark.sql.DataFrame,
                      textCol: String, n: Int = 8): DecontamGate = {
      val enc = org.apache.spark.sql.Encoders.STRING
      DecontamGate(
        graft.core.Ops.widen(benchmark)
          .select(col(textCol).cast("string")).as[String](enc)
          .mapPartitions { it =>
            it.flatMap { t =>
              val ws = graft.operators.Dedup.normalizeWordsLocal(t)
              if (ws.length < n) Iterator.empty
              else (0 to ws.length - n).iterator
                .map(i => ws.slice(i, i + n).mkString(" "))
            }
          }(enc)
          .distinct().collect().toSeq, n)
    }
  }

  case class GateConfig(minQualityE4: Long = 4000,
                        keepLangs: Set[String] = Set("alpha", "beta", "gamma"),
                        // stateless Gopher repetition gate via the
                        // executor-side replica (TextStats
                        // .repetitionLocal — spec-pinned ≡ the batch
                        // repetitionSignals), mirroring the batch
                        // funnel's repetitionRules stage
                        repetition: Option[graft.operators.TextStats.RepetitionConfig] = None,
                        // C4 ingest cleaning (page gate + line cleaning,
                        // the batch c4Clean semantics) before anything
                        // else sees the text
                        c4Clean: Boolean = false,
                        // per-row Gopher quality rules — folded into
                        // the quality verdict (one "quality" reason,
                        // the batch funnel's fold)
                        gopherRules: Option[
                          graft.operators.TextStats.GopherConfig] = None,
                        // stateless classifier gate via Classifier
                        // .scoreExpr (exact batch-score parity)
                        classifier: Option[graft.operators.Classifier.Model] = None,
                        minClassifierPE6: Long = 500000L,
                        // stateless perplexity gate via knScoreExpr
                        // (exact batch-score parity; see PplGate)
                        ppl: Option[PplGate] = None,
                        // external ARPA/KenLM reference gate: score under
                        // the file-shipped model (arpaScoreExpr — bit-
                        // identical to the batch arpa_gate) and reject
                        // docs over the bound; zero-bigram docs judged by
                        // the same score-0 coalesce BOTH sides share, so
                        // batch/stream parity is exact
                        arpa: Option[ArpaGate] = None,
                        // benchmark decontamination via the collected
                        // eval-gram set (see [[DecontamGate]] — incl.
                        // the deliberate before-dedup ordering)
                        decontam: Option[DecontamGate] = None,
                        bands: Int = 4, rowsPerBand: Int = 3,
                        thresholdE4: Long = 8000, maxPerBucket: Int = 1024,
                        // language gate from an EXTERNAL char-n-gram
                        // artifact (the batch funnel's langIdModel; the
                        // per-row collected form keeps the stream
                        // join-free)
                        langIdModel: Option[graft.operators.TextStats.LangIdModel] = None)

  def gate(docs: DataFrame, idCol: String, textCol: String,
           cfg: GateConfig = GateConfig()): Dataset[GateVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._

    // ---- optional stateless C4 stage: page gate + line cleaning --------
    // downstream stages (including the dedup states) see the CLEANED
    // text — the batch funnel's ordering
    val ingest = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val (base, c4Rejects) =
      if (!cfg.c4Clean) (ingest, None)
      else {
        val c = ingest
          .withColumn("__clean", array_join(
            graft.operators.Curation.c4KeptLines(col("text")), "\n"))
          .withColumn("__c4ok", graft.operators.Curation.c4PageKeep(
            col("text"), col("__clean")))
        (c.filter(col("__c4ok"))
          .select(col("id"), col("__clean").as("text")),
          Some(c.filter(!col("__c4ok")).select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false, reason = "c4",
              dup_of = id))))
      }

    // ---- stateless quality/language stage (batch exprs verbatim) -------
    cfg.langIdModel.foreach(m => require(
      cfg.keepLangs.subsetOf(m.langs.toSet),
      s"gate: keepLangs ${cfg.keepLangs} not all in the langid " +
        s"model's languages ${m.langs}"))
    val scored = TextStats.langGateCols(
      base.withColumn("__w", Dedup.normalizeWords(col("text"))),
      col("text"), col("__w"), cfg.langIdModel)
    // optional Gopher-rule gate folds into the quality verdict exactly
    // like the batch funnel (one "quality" reason, words computed once)
    val gopherPass = cfg.gopherRules
      .map(g => TextStats.gopherFlags(col("text"), col("__w"), g)
        .getField("pass"))
      .getOrElse(lit(true))
    val flagged = scored
      .withColumn("__q", TextStats.qualityScore(col("text"), col("__w")))
      .withColumn("__pass", col("__q") >= cfg.minQualityE4 &&
        col("__lang").isInCollection(cfg.keepLangs) && gopherPass)

    val qualityRejects = flagged.filter(!col("__pass"))
      .select(col("id"))
      .as[Long]
      .map(id => GateVerdict(id, admitted = false, reason = "quality",
        dup_of = id))

    // ---- optional stateless classifier gate ----------------------------
    // __lang rides along for the perplexity gate below (its thresholds
    // are per predicted language)
    val afterQuality0 = flagged.filter(col("__pass"))
      .select(col("id"), col("text"), col("__lang"))

    // ---- optional stateless Gopher repetition gate ---------------------
    // per-doc measures need per-doc gram maps — a typed map over the
    // local replica (the per-doc-analysis seam; no Catalyst expression
    // computes a per-row argmax over gram counts), batch-parity pinned
    val (afterQuality, repRejects) = cfg.repetition match {
      case None => (afterQuality0, None)
      case Some(rc) =>
        val s = afterQuality0.as[(Long, String, String)]
          .mapPartitions(_.map { case (id, text, lang) =>
            (id, text, lang,
              graft.operators.TextStats.repetitionLocal(text, rc).pass)
          })
          .toDF("id", "text", "__lang", "__rok")
        (s.filter(col("__rok"))
          .select(col("id"), col("text"), col("__lang")),
          Some(s.filter(!col("__rok")).select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false,
              reason = "repetition", dup_of = id))))
    }
    val (afterClassifier, classifierRejects) = cfg.classifier match {
      case None => (afterQuality, None)
      case Some(m) =>
        val s = afterQuality.withColumn("__p",
          graft.operators.Classifier.scoreExpr(col("text"), m))
        (s.filter(col("__p") >= cfg.minClassifierPE6)
          .select(col("id"), col("text"), col("__lang")),
          Some(s.filter(col("__p") < cfg.minClassifierPE6)
            .select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false,
              reason = "classifier", dup_of = id))))
    }

    // ---- optional stateless perplexity gate (batch-learned cuts) -------
    // the stream half of the batch ppl_buckets stage: score each doc
    // under the FROZEN model (knScoreExpr — bit-identical to the batch
    // operator) and compare against its language's trained max
    val (survivors, pplRejects) = cfg.ppl match {
      case None => (afterClassifier.select(col("id"), col("text")), None)
      case Some(pg) =>
        val maxLit = typedLit(pg.maxByLang)
        val nBigrams = size(graft.operators.Curation.wordNgrams(
          Dedup.normalizeWords(col("text")), 2))
        val s = afterClassifier
          .withColumn("__kn", TextStats.knScoreExpr(col("text"), pg.model))
          .withColumn("__max", element_at(maxLit, col("__lang")))
          .withColumn("__ok",
            when(nBigrams === 0, lit(pg.admitUnscored))
              .otherwise(col("__max").isNull || col("__kn") <= col("__max")))
        (s.filter(col("__ok")).select(col("id"), col("text")),
          Some(s.filter(!col("__ok")).select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false, reason = "ppl",
              dup_of = id))))
    }

    // ---- optional stateless external-ARPA reference gate ---------------
    // after ppl (mirrors the batch funnel's lm_gate → arpa_gate order)
    val (postArpa, arpaRejects) = cfg.arpa match {
      case None => (survivors, None)
      case Some(ag) =>
        val s = survivors.withColumn("__arpa",
          TextStats.arpaScoreExpr(col("text"), ag.model))
        (s.filter(col("__arpa") <= ag.maxE4).select(col("id"), col("text")),
          Some(s.filter(col("__arpa") > ag.maxE4).select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false, reason = "arpa",
              dup_of = id))))
    }

    // ---- optional stateless decontamination gate ------------------------
    // BEFORE the dedup states, deliberately (see [[DecontamGate]])
    val (postDecon, deconRejects) = cfg.decontam match {
      case None => (postArpa, None)
      case Some(dg) =>
        // broadcast-set membership from a typed map — the local replica
        // of arrays_overlap(wordNgrams(normalizeWords(text), n), grams)
        // (normalization via Dedup.normalizeWordsLocal — the SAME JVM
        // helper DecontamGate.fromBenchmark builds the gram set with,
        // so both gate sides are locale-invariant together; same
        // empty-below-n windowing as Curation.wordNgrams), spec-pinned
        val bGrams = spark.sparkContext.broadcast(dg.grams.toSet)
        val n = dg.n
        val s = postArpa.select(col("id"), col("text"))
          .as[(Long, String)]
          .mapPartitions { it =>
            val grams = bGrams.value
            it.map { case (id, text) =>
              val ws = graft.operators.Dedup.normalizeWordsLocal(text)
              val contam = ws.length >= n && grams.nonEmpty &&
                (0 to ws.length - n).exists(i =>
                  grams.contains(ws.slice(i, i + n).mkString(" ")))
              (id, text, contam)
            }
          }.toDF("id", "text", "__contam")
        (s.filter(!col("__contam")).select(col("id"), col("text")),
          Some(s.filter(col("__contam")).select(col("id")).as[Long]
            .map(id => GateVerdict(id, admitted = false,
              reason = "decontaminated", dup_of = id))))
    }

    // ---- exact dedup on the content hash -------------------------------
    val tagged = StatefulDedup.firstPerKeyTagged(
      postDecon
        .select(md5(col("text")).as("h"),
          struct(col("id"), col("text")).as("doc"))
        .as[(String, (Long, String))],
      (v: (Long, String)) => v._1)

    val exactRejects = tagged.filter(!_._3)
      .map(t => GateVerdict(t._2._1, admitted = false, reason = "exact_dup",
        dup_of = t._4))

    // ---- MinHash near-dup gate over exact-dedup survivors --------------
    val verdicts = BandGate.ledger(MinHashStream.admittedAppend(
      MinHashStream.bandVotes(
        tagged.filter(_._3)
          .map(t => MinHashStream.Doc(t._2._1, t._2._2)),
        cfg.bands, cfg.rowsPerBand, cfg.thresholdE4, cfg.maxPerBucket)),
      "near_dup")

    val always = qualityRejects.unionByName(exactRejects)
      .unionByName(verdicts)
    val withC4 = c4Rejects.fold(always)(always.unionByName(_))
    val withRep = repRejects.fold(withC4)(withC4.unionByName(_))
    val withCls = classifierRejects.fold(withRep)(withRep.unionByName(_))
    val withPpl = pplRejects.fold(withCls)(withCls.unionByName(_))
    val withArpa = arpaRejects.fold(withPpl)(withPpl.unionByName(_))
    deconRejects.fold(withArpa)(withArpa.unionByName(_))
  }
}
