package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline north star:
  * language ID (n-gram/marker heuristic), quality scoring, token counting,
  * and document fingerprinting (winnowing over rolling 8-gram hashes).
  * All pure per-row Column expressions — no shuffle, full codegen.
  */
object TextStats {

  /** Marker-word profiles for the language-ID heuristic. Deterministic and
    * oracle-mirrorable; on real corpora the profiles would be per-language
    * character n-grams — the operator shape (count marker hits per profile,
    * argmax with alphabetic tiebreak) is the same.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "alpha" -> Seq("table", "row", "scan", "key"),
    "beta" -> Seq("join", "merge", "window", "batch"),
    "gamma" -> Seq("stream", "filter", "sort", "query"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** Count of tokens from `words` that appear in the marker set. */
  private def markerHits(words: Column, markers: Seq[String]): Column = {
    val set = array(markers.map(lit): _*)
    size(filter(words, x => array_contains(set, x)))
  }

  /** Per-profile marker-hit count over a words array column. The legacy
    * single-arg form reads a column named `w` (probe shorthand).
    */
  def profileScore(words: Column, markers: Seq[String]): Column =
    markerHits(words, markers)

  def profileScore(markers: Seq[String]): Column =
    markerHits(col("w"), markers)

  /** Predicted language: argmax score, ties break to the alphabetically
    * first profile (the CASE chain order).
    */
  def langPredict: Column = {
    val Seq((a, _), (b, _), (c, _)) = LangProfiles
    expr(s"""CASE WHEN s_$a >= s_$b AND s_$a >= s_$c THEN '$a'
             WHEN s_$b >= s_$c THEN '$b' ELSE '$c' END""")
  }

  def langPredictDuckSql: String = {
    val Seq((a, _), (b, _), (c, _)) = LangProfiles
    s"""CASE WHEN s_$a >= s_$b AND s_$a >= s_$c THEN '$a'
        WHEN s_$b >= s_$c THEN '$b' ELSE '$c' END"""
  }

  // ---- external language-ID model artifact --------------------------------

  /** A char-n-gram language-ID model loaded from a file — the
    * Cavnar–Trenkle n-gram-profile method (the public langid lineage
    * fastText descends from) with the repo's artifact discipline:
    * per language, a weighted list of its most characteristic
    * `order`-char grams; a doc scores `sum(weight)` over every gram
    * OCCURRENCE in its normalized text and predicts the argmax
    * (alphabetical tie-break, the [[langPredict]] rule).
    */
  case class LangIdModel(order: Int,
                         profiles: Seq[(String, Seq[(String, Long)])]) {
    def langs: Seq[String] = profiles.map(_._1)
    require(order >= 1, s"LangIdModel: order ($order) must be >= 1")
    require(profiles.nonEmpty && langs.distinct.size == langs.size,
      "LangIdModel: language names must be non-empty and distinct")
    profiles.foreach { case (l, grams) =>
      require(grams.nonEmpty, s"LangIdModel: profile '$l' is empty")
      grams.foreach { case (g, w) =>
        require(g.length == order,
          s"LangIdModel: profile '$l' gram '$g' is not $order chars")
        require(w > 0, s"LangIdModel: profile '$l' gram '$g' weight $w")
      }
    }
  }

  /** Parse a language-ID profile artifact — the [[parseArpa]] pattern
    * applied to langid: sections `\langid\` (header, declares
    * `order N`), `\profile NAME\` per language, one `gram weight` line
    * per entry (spaces inside a gram are written as `_`, the
    * Cavnar–Trenkle convention — char grams straddle word boundaries),
    * `\end\`. STRICT by design: malformed lines, duplicate grams within
    * a profile, wrong-length grams, or a missing order declaration all
    * throw — a langid model is a small shipped artifact, not
    * provider-quirked bulk data, so there is no lenient mode.
    * Driver-side parse with the localize cap, like every model
    * artifact.
    */
  def parseLangId(text: String, maxBytes: Long = 16L << 20): LangIdModel = {
    require(text.length <= maxBytes,
      s"parseLangId: model text ${text.length} B exceeds $maxBytes B")
    val profiles = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long)]]
    var order = 0
    var current: String = null
    var inBody = false
    val profHdr = "\\\\profile ([A-Za-z0-9_-]+)\\\\".r
    val orderDecl = "order\\s+(\\d+)".r
    for (raw <- text.linesIterator; line = raw.trim if line.nonEmpty) {
      line match {
        case "\\langid\\" => inBody = true
        case "\\end\\" => inBody = false; current = null
        case _ if !inBody => () // pre/post-amble tolerated
        case orderDecl(n) if current == null => order = n.toInt
        case profHdr(name) =>
          require(!profiles.contains(name),
            s"parseLangId: duplicate profile section '$name'")
          require(order >= 1,
            "parseLangId: 'order N' must precede the first profile")
          current = name
          profiles(name) =
            scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        case l =>
          require(current != null,
            s"parseLangId: gram line '$l' outside a profile section")
          val cut = l.lastIndexOf(' ')
          require(cut > 0, s"parseLangId: malformed gram line '$l'")
          val gram = l.substring(0, cut).replace('_', ' ')
          val w =
            try l.substring(cut + 1).toLong
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"requirement failed: parseLangId: non-numeric weight " +
                    s"in '$l'")
            }
          require(!profiles(current).exists(_._1 == gram),
            s"parseLangId: duplicate gram '$gram' in profile '$current'")
          profiles(current) += ((gram, w))
      }
    }
    LangIdModel(order, profiles.toSeq.map { case (k, v) => (k, v.toSeq) })
  }

  /** The char-`order`-gram array of a text column under the langid
    * normalization (lower, non-alphanumerics to single spaces, trim) —
    * shared by BOTH serving forms and replayable in SQL, so a model
    * gram matches exactly the grams this emits.
    */
  def langIdGrams(text: Column, order: Int): Column = {
    val t = trim(regexp_replace(lower(coalesce(text, lit(""))),
      "[^a-z0-9]+", " "))
    // sequence(1, 0) is DESCENDING in Spark — guard short texts
    when(length(t) < order, expr("CAST(array() AS array<string>)"))
      .otherwise(transform(
        sequence(lit(1), length(t) - lit(order - 1)),
        i => t.substr(i, lit(order))))
  }

  /** The model as a (lang, gram, weight) frame — the JOIN serving form's
    * build side (broadcast: a langid model is vocabulary-bounded).
    */
  def langIdTable(spark: org.apache.spark.sql.SparkSession,
                  model: LangIdModel): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    model.profiles.flatMap { case (l, grams) =>
      grams.map { case (g, w) => (l, g, w) }
    }.toDF("lang", "gram", "weight")
  }

  /** Per-language scores + prediction via ONE broadcast join — the
    * corpus-scale serving form: explode grams, join the model table,
    * partial-agg the weight sums. Output: (idCol, s_<lang>... ,
    * lang_ext) with every doc present (zero scores for gram-less docs).
    */
  def langIdScores(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, model: LangIdModel)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val grams = graft.core.Ops.widen(docs)
      .select(col(idCol),
        explode(langIdGrams(col(textCol), model.order)).as("gram"))
    val scored = grams
      .join(broadcast(langIdTable(spark, model)), Seq("gram"))
      .groupBy(col(idCol)).pivot("lang", model.langs.sorted)
      .agg(coalesce(sum("weight"), lit(0L)))
    val out = docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol) +: model.langs.sorted.map(l =>
        coalesce(col(l), lit(0L)).as(s"s_$l")): _*)
    out.withColumn("lang_ext", langIdArgmax(model.langs))
  }

  /** Per-row serving form: the COLLECTED model as literal maps inside
    * one expression — the stream-gate shape (no join, usable in a
    * streaming select), spec-pinned identical to [[langIdScores]].
    * Bounded by the model size under the localize discipline.
    */
  def langIdScoreCols(textCol: Column, model: LangIdModel)
      : Seq[(String, Column)] = {
    val grams = langIdGrams(textCol, model.order)
    model.profiles.map { case (l, entries) =>
      val m = map(entries.flatMap { case (g, w) =>
        Seq(lit(g), lit(w)) }: _*)
      val score = aggregate(grams, lit(0L),
        (acc, g) => acc + coalesce(element_at(m, g), lit(0L)))
      (s"s_$l", score)
    }
  }

  /** Argmax over `s_<lang>` columns with the alphabetical tie-break —
    * [[langPredict]] generalized to any language set: sort
    * (-score, lang) structs ascending and take the head's lang.
    */
  def langIdArgmax(langs: Seq[String]): Column =
    element_at(array_sort(array(langs.sorted.map(l =>
      struct((-col(s"s_$l")).as("ns"), lit(l).as("l"))): _*)), 1)
      .getField("l")

  /** Stack the language columns every gate consumes (`s_<lang>`… +
    * `__lang`): the fixture marker profiles by default, or an EXTERNAL
    * char-n-gram artifact ([[LangIdModel]]) when supplied — per-row
    * expressions only (no join), so the swap is identical in the batch
    * funnel, the increment, and the streaming gate. `wordsCol` must
    * already hold [[graft.operators.Dedup.normalizeWords]] of the text
    * (the fixture path scores it; the artifact path re-normalizes the
    * raw text for char grams). With `model = None` the emitted plan is
    * exactly the legacy expression stack.
    */
  def langGateCols(df: org.apache.spark.sql.DataFrame, textCol: Column,
                   wordsCol: Column, model: Option[LangIdModel])
      : org.apache.spark.sql.DataFrame = model match {
    case None =>
      LangProfiles.foldLeft(df) { case (d, (name, markers)) =>
        d.withColumn(s"s_$name",
          profileScore(wordsCol, markers).cast("long"))
      }.withColumn("__lang", langPredict)
    case Some(m) =>
      langIdScoreCols(textCol, m).foldLeft(df) { case (d, (n, c)) =>
        d.withColumn(n, c)
      }.withColumn("__lang", langIdArgmax(m.langs))
  }

  val StopWords: Seq[String] = Seq("the", "a")

  /** Composite quality score: length saturation + low-punctuation + stopword
    * presence, emitted as scale-4 fixed-point BIGINT (score·10⁴ in
    * [0, 10000]) — representation-stable across engines, where
    * DECIMAL-from-double is not.
    */
  def qualityScore(text: Column, words: Column): Column = {
    val nWords = size(words)
    val nChars = length(text)
    val punct = nChars - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    val punctRatio = punct * lit(1.0) / greatest(nChars, lit(1))
    val stopRatio =
      markerHits(words, StopWords) * lit(1.0) / greatest(nWords, lit(1))
    graft.core.Ops.fixedPoint(lit(0.5) * least(lit(1.0), nWords / lit(50.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) + lit(0.2) * stopRatio, 4)
  }

  /** Thresholds for [[gopherFlags]] — the Gopher-paper quality-rule set
    * (Rae et al. 2021 §A1.1, public), bounds in scale-4 fixed point so
    * the gate compares integers.
    */
  case class GopherConfig(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLenE4: Long = 30000L, maxMeanLenE4: Long = 100000L,
      maxSymbolRatioE4: Long = 1000L, maxBulletFracE4: Long = 9000L,
      maxEllipsisFracE4: Long = 3000L, minAlphaFracE4: Long = 8000L,
      minStopHits: Long = 2L)

  /** The Gopher quality-rule bundle as ONE struct column — the standard
    * pretraining gate set beside the composite [[qualityScore]]: word
    * count bounds, mean word length, symbol-to-word ratio (# and …),
    * bullet-started / ellipsis-ended line fractions, alphabetic-word
    * fraction, stopword floor. `text` is the raw text (line structure
    * intact); `words` the normalized array (stopword hits only). All
    * measures exit as scale-4 fixed-point BIGINTs over integer counts —
    * exact, engine-stable; `pass` is the conjunction. Pure per-row column
    * work: no shuffle, whole-stage codegen, corpus-linear.
    */
  def gopherFlags(text: Column, words: Column,
                  cfg: GopherConfig = GopherConfig()): Column = {
    val toks = when(length(trim(text)) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))
    val n = size(toks).cast("long")
    def fracE4(num: Column, den: Column): Column =
      when(den > 0, graft.core.Ops.fixedPoint(num * lit(1.0) / den, 4))
        .otherwise(lit(0L))
    val sumLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val meanLenE4 = fracE4(sumLen, n)
    val alphaFracE4 = fracE4(
      size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long"), n)
    val hashes = (length(text) -
      length(regexp_replace(text, "#", ""))).cast("long")
    val ellipses = size(call_function("regexp_extract_all", text,
      lit("\\.\\.\\."), lit(0))).cast("long")
    val symbolRatioE4 = fracE4(hashes + ellipses, n)
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast("long")
    val bulletFracE4 = fracE4(
      size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ") ||
        l.startsWith("•"))).cast("long"), nLines)
    val ellipsisFracE4 = fracE4(
      size(filter(lines, l => l.endsWith("..."))).cast("long"), nLines)
    val stopHits = markerHits(words, StopWords).cast("long")
    struct(
      n.as("n_words"),
      meanLenE4.as("mean_len_e4"),
      alphaFracE4.as("alpha_frac_e4"),
      symbolRatioE4.as("symbol_ratio_e4"),
      bulletFracE4.as("bullet_frac_e4"),
      ellipsisFracE4.as("ellipsis_frac_e4"),
      stopHits.as("stop_hits"),
      (n >= cfg.minWords && n <= cfg.maxWords &&
        meanLenE4 >= cfg.minMeanLenE4 && meanLenE4 <= cfg.maxMeanLenE4 &&
        symbolRatioE4 <= cfg.maxSymbolRatioE4 &&
        bulletFracE4 <= cfg.maxBulletFracE4 &&
        ellipsisFracE4 <= cfg.maxEllipsisFracE4 &&
        alphaFracE4 >= cfg.minAlphaFracE4 &&
        stopHits >= cfg.minStopHits).as("pass"))
  }

  /** Train a count-based bigram LM: (gram, c) over space-joined word
    * bigrams — the model table of the CCNet/KenLM-style perplexity
    * filter, vocabulary-squared-bounded (far below corpus size after the
    * one hash shuffle). Train on a trusted reference corpus and score
    * candidates, or on the corpus itself (self-perplexity flags
    * repetitive/degenerate outliers).
    */
  def bigramCounts(docs: org.apache.spark.sql.DataFrame,
                   textCol: String): org.apache.spark.sql.DataFrame =
    graft.core.Ops.widen(docs)
      .select(explode(Curation.wordNgrams(
        graft.operators.Dedup.normalizeWords(col(textCol)), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"))

  /** Per-document cross-entropy under an add-one-smoothed bigram LM:
    * mean over the doc's bigrams of −ln((c(w1,w2)+1)/(ctx(w1)+V)), where
    * ctx(w1) = Σ_w2 c(w1,w2) is derived from the model table and `V` is
    * the smoothing vocabulary size (model metadata — a bounded count the
    * trainer records; passing it keeps the plan free of 1-row scalar
    * crosses). Unseen grams cost −ln(1/(ctx+V)); docs with < 2 words
    * score 0 with n_bigrams 0 and are NOT dropped.
    *
    * Determinism: each bigram's log-cost is rounded to an e6 BIGINT
    * BEFORE the per-doc sum — float sums are partition-order-dependent,
    * integer sums are exact — and the mean exits as e4. Shuffle shape:
    * the corpus-sized side moves once (the gram join; the model and
    * context tables are vocabulary-bounded — AQE broadcasts them when
    * small), then one hash aggregate on the doc id.
    */
  def lmCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     grams: org.apache.spark.sql.DataFrame,
                     vocabSize: Long): org.apache.spark.sql.DataFrame =
    scoreBigrams(docs, idCol, docBigrams(docs, idCol, textCol), grams,
      vocabSize)

  /** Self-perplexity — train AND score on the SAME docs in one corpus
    * pass. [[bigramCounts]]-then-[[lmCrossEntropy]] explodes the corpus
    * into bigrams twice (once per call); at scale the explode (word
    * normalization + n-gram assembly over every document) is the dominant
    * CPU cost, paid per consumer. Here the exploded (id, gram) frame is
    * built ONCE and persisted; the model table and the per-doc scores
    * both derive from it. Numerically identical to the two-call form
    * (same smoothing, same e6-before-sum rounding). The model's
    * vocabulary-bounded aggregate and the per-doc score share the
    * persisted frame via [[graft.core.Managed]] — consume the result,
    * then `close()`; the plain variant keeps the pin (one-shot jobs).
    */
  def selfCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String,
                       vocabSize: Long): org.apache.spark.sql.DataFrame =
    selfCrossEntropyManaged(docs, idCol, textCol, vocabSize).df

  def selfCrossEntropyManaged(docs: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              vocabSize: Long): graft.core.Managed = {
    val bg = docBigrams(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = bg.groupBy("gram").agg(count(lit(1)).as("c"))
    graft.core.Managed(scoreBigrams(docs, idCol, bg, grams, vocabSize),
      Seq(bg))
  }

  /** DSIR-shape importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every candidate
    * doc under a TARGET-domain bigram LM and a RAW-corpus bigram LM; the
    * per-doc log importance ratio is `log p_t(x) − log p_r(x) =
    * n_bigrams · (xent_raw − xent_target)` — docs that look more like
    * the target than the raw background get positive weight. Exposed in
    * the engine's fixed-point terms: `logw_e4 = n_bigrams · (xr_e4 −
    * xt_e4)` (nats × 1e4), derived from the SAME per-doc means the q91
    * pipeline pins, so the whole path stays integer-exact and
    * oracle-mirrorable.
    *
    * One corpus pass: the exploded (id, gram) frame is built once and
    * persisted (the [[selfCrossEntropyManaged]] lesson — the explode is
    * the dominant CPU cost and must not be paid per model), then scored
    * against both vocabulary-bounded model tables. Returns
    * (idCol, n_bigrams, xt_e4, xr_e4, logw_e4); `close()` the Managed
    * after consuming.
    */
  def importanceWeightsManaged(docs: org.apache.spark.sql.DataFrame,
                               idCol: String, textCol: String,
                               targetGrams: org.apache.spark.sql.DataFrame,
                               rawGrams: org.apache.spark.sql.DataFrame,
                               vocabSize: Long): graft.core.Managed = {
    val bg = docBigrams(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Managed(
      weightsFromBg(docs, idCol, bg, targetGrams, rawGrams, vocabSize),
      Seq(bg))
  }

  /** [[importanceWeightsManaged]] with the RAW model trained on `docs`
    * themselves, derived from the same shared bigram frame — the common
    * "select from this pool toward that target" shape pays ONE explode
    * total (scored corpus = raw-model corpus; the [[selfCrossEntropy]]
    * argument applied to the two-model form).
    */
  def importanceWeightsSelfRawManaged(docs: org.apache.spark.sql.DataFrame,
                                      idCol: String, textCol: String,
                                      targetGrams: org.apache.spark.sql.DataFrame,
                                      vocabSize: Long): graft.core.Managed = {
    val bg = docBigrams(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = bg.groupBy("gram").agg(count(lit(1)).as("c"))
    graft.core.Managed(
      weightsFromBg(docs, idCol, bg, targetGrams, raw, vocabSize),
      Seq(bg))
  }

  /** The "select from this pool toward that in-pool slice" DSIR shape —
    * target model trained on the `targetPred` slice of `docs`, raw model
    * on all of `docs`, every doc scored — from ONE corpus explode total.
    * The exploded frame carries the slice flag, so BOTH vocabulary-
    * bounded models fall out of a single aggregate
    * (`count(*)` = raw count, conditional sum = target count) instead of
    * the three separate explodes the compose-it-yourself form pays
    * (target bigramCounts + raw bigramCounts + the scoring frame).
    * Numerically identical to [[importanceWeightsManaged]] fed
    * `bigramCounts(docs.filter(targetPred))` / `bigramCounts(docs)`: a
    * gram with target count 0 and one absent from the target table both
    * smooth to the same add-one term. `close()` the Managed after
    * consuming.
    */
  def importanceWeightsSliceManaged(docs: org.apache.spark.sql.DataFrame,
                                    idCol: String, textCol: String,
                                    targetPred: org.apache.spark.sql.Column,
                                    vocabSize: Long): graft.core.Managed = {
    val bg = graft.core.Ops.widen(docs)
      .select(col(idCol), targetPred.cast("boolean").as("__in_target"),
        explode(Curation.wordNgrams(
          graft.operators.Dedup.normalizeWords(col(textCol)), 2)).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val models = bg.groupBy("gram").agg(
      sum(when(col("__in_target"), lit(1L)).otherwise(lit(0L))).as("__tc"),
      count(lit(1)).as("__rc"))
    graft.core.Managed(
      weightsFromModels(docs, idCol, bg.select(col(idCol), col("gram")),
        models, vocabSize),
      Seq(bg))
  }

  /** Plain variant of [[importanceWeightsSliceManaged]] — keeps the pin
    * (one-shot jobs / probes; the [[selfCrossEntropy]] convention).
    */
  def importanceWeightsSlice(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String,
                             targetPred: org.apache.spark.sql.Column,
                             vocabSize: Long): org.apache.spark.sql.DataFrame =
    importanceWeightsSliceManaged(docs, idCol, textCol, targetPred,
      vocabSize).df

  /** ONE pass over the corpus-sized bigram frame scoring BOTH models.
    * The two model tables pre-merge into ONE `(gram, __tc, __rc)` table
    * (vocabulary-bounded full-outer join of two vocabulary-bounded
    * frames) and the two per-context tables into ONE `(w1, __tctx,
    * __rctx)` aggregate of it — so the corpus-sized bg frame is joined
    * exactly TWICE, not four times. The four-chained-left-join form this
    * replaces relied on AQE choosing broadcast for each model/context
    * table independently; at production vocabulary sizes those degrade
    * to four sort-merge shuffles of the exploded corpus, while the
    * merged form caps the worst case at two. Per-term rounding is
    * identical to [[scoreBigrams]] term for term (a gram absent from a
    * model carries NULL/0 count — both smooth to the same add-one term),
    * so this is numerically the two-call form with half the corpus-side
    * joins.
    */
  private def weightsFromBg(docs: org.apache.spark.sql.DataFrame,
                            idCol: String,
                            bg: org.apache.spark.sql.DataFrame,
                            targetGrams: org.apache.spark.sql.DataFrame,
                            rawGrams: org.apache.spark.sql.DataFrame,
                            vocabSize: Long): org.apache.spark.sql.DataFrame =
    weightsFromModels(docs, idCol, bg,
      targetGrams.select(col("gram"), col("c").as("__tc"))
        .join(rawGrams.select(col("gram"), col("c").as("__rc")),
          Seq("gram"), "full_outer"),
      vocabSize)

  /** Scoring body over a pre-merged `(gram, __tc, __rc)` model table —
    * see [[weightsFromBg]] for the join-count argument. `__tc`/`__rc`
    * may be NULL for grams one model never saw; the smoothing coalesces
    * them to 0 exactly as the unmerged left joins did.
    */
  private def weightsFromModels(docs: org.apache.spark.sql.DataFrame,
                                idCol: String,
                                bg: org.apache.spark.sql.DataFrame,
                                models: org.apache.spark.sql.DataFrame,
                                vocabSize: Long): org.apache.spark.sql.DataFrame = {
    val ctx = models
      .select(split(col("gram"), " ").getItem(0).as("w1"),
        coalesce(col("__tc"), lit(0L)).as("__tc0"),
        coalesce(col("__rc"), lit(0L)).as("__rc0"))
      .groupBy("w1")
      .agg(sum(col("__tc0")).as("__tctx"), sum(col("__rc0")).as("__rctx"))
    def le6(c: org.apache.spark.sql.Column, ctx: org.apache.spark.sql.Column) =
      floor(-log((coalesce(c, lit(0L)) + lit(1.0)) /
        (coalesce(ctx, lit(0L)) + lit(vocabSize.toDouble)))
        * lit(1e6) + lit(0.5)).cast("long")
    val scored = bg
      .join(models, Seq("gram"), "left_outer")
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .join(ctx, Seq("w1"), "left_outer")
      .withColumn("__tle6", le6(col("__tc"), col("__tctx")))
      .withColumn("__rle6", le6(col("__rc"), col("__rctx")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__tle6")).as("__ts"), sum(col("__rle6")).as("__rs"))
      .withColumn("xt_e4", floor(
        col("__ts") / (col("n_bigrams") * lit(100.0)) + lit(0.5)).cast("long"))
      .withColumn("xr_e4", floor(
        col("__rs") / (col("n_bigrams") * lit(100.0)) + lit(0.5)).cast("long"))
    docs.select(col(idCol))
      .join(scored.select(col(idCol), col("n_bigrams"), col("xt_e4"),
        col("xr_e4")), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("xt_e4"), lit(0L)).as("xt_e4"),
        coalesce(col("xr_e4"), lit(0L)).as("xr_e4"))
      .withColumn("logw_e4",
        col("n_bigrams") * (col("xr_e4") - col("xt_e4")))
  }

  /** Plain variant of [[importanceWeightsManaged]] — keeps the pin
    * (one-shot jobs / probes; the [[selfCrossEntropy]] convention).
    */
  def importanceWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String,
                        targetGrams: org.apache.spark.sql.DataFrame,
                        rawGrams: org.apache.spark.sql.DataFrame,
                        vocabSize: Long): org.apache.spark.sql.DataFrame =
    importanceWeightsManaged(docs, idCol, textCol, targetGrams, rawGrams,
      vocabSize).df

  /** Gumbel-top-k importance RESAMPLING over [[importanceWeightsManaged]]
    * output — sampling without replacement proportional to the importance
    * weights (the Gumbel-max trick: argtop-k of log w + Gumbel noise).
    * The noise is DETERMINISTIC pseudo-randomness — u from the doc id's
    * md5 (salted by `seed`), g = −ln(−ln(u)) — so a selection is
    * reproducible across runs, engines and partitionings, the property
    * that rules out `rand()` for dataset curation (the
    * [[Curation.hashSampleKeep]] argument, applied to weighted
    * sampling). `temperature` in e4 units scales the noise against the
    * weights (0 = pure deterministic top-k by weight).
    *
    * Scale shape: per-row noise arithmetic + a global top-k that plans
    * TakeOrderedAndProject (per-partition heads + driver merge of k
    * rows — no single-partition shuffle). Ties broken by id.
    */
  def importanceResample(weights: org.apache.spark.sql.DataFrame,
                         idCol: String, k: Int, seed: Long = 0L,
                         temperatureE4: Long = 10000L): org.apache.spark.sql.DataFrame = {
    val u = (expr(s"conv(substr(md5(concat(CAST($idCol AS STRING), " +
      s"'/$seed')), 1, 8), 16, 10)").cast("double") + lit(0.5)) /
      lit(4294967296.0)
    weights
      .withColumn("gumbel_e4",
        floor(-log(-log(u)) * lit(1e4) + lit(0.5)).cast("long"))
      .withColumn("score_e4",
        col("logw_e4") +
          floor(col("gumbel_e4") * lit(temperatureE4) / lit(10000.0))
            .cast("long"))
      .orderBy(col("score_e4").desc, col(idCol))
      .limit(k)
  }

  /** The exploded (id, gram) frame both LM entry points score over. */
  private def docBigrams(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String): org.apache.spark.sql.DataFrame =
    graft.core.Ops.widen(docs)
      .select(col(idCol), explode(Curation.wordNgrams(
        graft.operators.Dedup.normalizeWords(col(textCol)), 2)).as("gram"))

  /** The shared scoring body of [[lmCrossEntropy]] and
    * [[selfCrossEntropy]] — one implementation so the trained-model and
    * self-train paths cannot drift.
    */
  private def scoreBigrams(docs: org.apache.spark.sql.DataFrame,
                           idCol: String,
                           bg: org.apache.spark.sql.DataFrame,
                           grams: org.apache.spark.sql.DataFrame,
                           vocabSize: Long): org.apache.spark.sql.DataFrame = {
    val ctx = grams
      .select(split(col("gram"), " ").getItem(0).as("w1"), col("c"))
      .groupBy("w1").agg(sum(col("c")).as("ctx"))
    val scored = bg
      .join(grams, Seq("gram"), "left_outer")
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .join(ctx, Seq("w1"), "left_outer")
      .withColumn("le6", floor(-log(
        (coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (coalesce(col("ctx"), lit(0L)) + lit(vocabSize.toDouble)))
        * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("le6")).as("s"))
      .withColumn("xent_e4",
        floor(col("s") / (col("n_bigrams") * lit(100.0)) + lit(0.5))
          .cast("long"))
    docs.select(col(idCol))
      .join(scored.select(col(idCol), col("n_bigrams"), col("xent_e4")),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("xent_e4"), lit(0L)).as("xent_e4"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy (Kneser & Ney 1995;
    * Chen & Goodman 1999) — the smoothing the CCNet/KenLM perplexity
    * filter actually ships, upgraded from [[lmCrossEntropy]]'s add-one:
    *
    *   P(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1,·)·Pc(w2)) / ctx(w1)
    *   Pc(w2)   = (N1+(·,w2) + 1) / (T + V)        (smoothed continuation)
    *   unseen w1 → P = Pc(w2)
    *
    * where N1+(w1,·)/N1+(·,w2) are the left/right distinct-neighbor
    * counts, T the distinct-bigram-type count and V the smoothing
    * vocabulary — continuation probability ranks words by how many
    * CONTEXTS they follow, not raw frequency (the insight that makes KN
    * beat add-one on "San Francisco"-style collocations). `T` is model
    * metadata like `vocabSize` (a bounded count the trainer records —
    * keeps the plan free of 1-row scalar crosses on the corpus side);
    * D = 0.75 (binary-exact) by default.
    *
    * Same determinism discipline as [[lmCrossEntropy]]: per-bigram cost
    * e6-rounded BEFORE the doc sum, mean exits e4; same shuffle shape —
    * the corpus-sized frame moves once (gram join; the three model-derived
    * tables are vocabulary-bounded), then one hash aggregate on the doc id.
    */
  def knCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     grams: org.apache.spark.sql.DataFrame,
                     vocabSize: Long, bigramTypes: Long,
                     discount: Double = 0.75): org.apache.spark.sql.DataFrame =
    scoreKnBigrams(docs, idCol, docBigrams(docs, idCol, textCol), grams,
      vocabSize, bigramTypes, discount)

  /** Self-train KN — the [[selfCrossEntropyManaged]] shape: ONE persisted
    * corpus explode feeds the model aggregate and the scoring pass. The
    * distinct-type count `T` is read eagerly from the vocabulary-bounded
    * model table (a bounded driver action that also populates the shared
    * persisted frame); `close()` the Managed after consuming.
    */
  def selfKnCrossEntropyManaged(docs: org.apache.spark.sql.DataFrame,
                                idCol: String, textCol: String,
                                vocabSize: Long, discount: Double = 0.75)
      : graft.core.Managed = {
    val bg = docBigrams(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = bg.groupBy("gram").agg(count(lit(1)).as("c"))
    val types = grams.count()
    graft.core.Managed(
      scoreKnBigrams(docs, idCol, bg, grams, vocabSize, types, discount),
      Seq(bg))
  }

  def selfKnCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, vocabSize: Long,
                         discount: Double = 0.75): org.apache.spark.sql.DataFrame =
    selfKnCrossEntropyManaged(docs, idCol, textCol, vocabSize, discount).df

  /** The KN scoring body — mirrors [[scoreBigrams]]'s join/aggregate
    * shape with the three KN model tables (counts, per-w1 context +
    * right-neighbor types, per-w2 left-neighbor types).
    */
  private def scoreKnBigrams(docs: org.apache.spark.sql.DataFrame,
                             idCol: String,
                             bg: org.apache.spark.sql.DataFrame,
                             grams: org.apache.spark.sql.DataFrame,
                             vocabSize: Long, bigramTypes: Long,
                             discount: Double): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"knCrossEntropy: discount ($discount) must be in (0, 1)")
    val g = grams.select(col("gram"), col("c"),
      split(col("gram"), " ").getItem(0).as("w1"),
      split(col("gram"), " ").getItem(1).as("w2"))
    // grams is one row per distinct bigram, so count(*) per side IS N1+
    val ctx = g.groupBy("w1")
      .agg(sum(col("c")).as("__ctx"), count(lit(1)).as("__n1r"))
    val cont = g.groupBy("w2").agg(count(lit(1)).as("__n1l"))
    val scored = bg
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(grams.select("gram", "c"), Seq("gram"), "left_outer")
      .join(ctx, Seq("w1"), "left_outer")
      .join(cont, Seq("w2"), "left_outer")
      .withColumn("__pc",
        (coalesce(col("__n1l"), lit(0L)) + lit(1.0)) /
          lit((bigramTypes + vocabSize).toDouble))
      .withColumn("__p",
        when(col("__ctx").isNull, col("__pc"))
          .otherwise(
            (greatest(coalesce(col("c"), lit(0L)) - lit(discount), lit(0.0))
              + lit(discount) * col("__n1r") * col("__pc")) / col("__ctx")))
      .withColumn("le6",
        floor(-log(col("__p")) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("le6")).as("s"))
      .withColumn("kn_e4",
        floor(col("s") / (col("n_bigrams") * lit(100.0)) + lit(0.5))
          .cast("long"))
    docs.select(col(idCol))
      .join(scored.select(col(idCol), col("n_bigrams"), col("kn_e4")),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_e4"), lit(0L)).as("kn_e4"))
  }

  /** Dolma-style per-document ATTRIBUTES table: every stateless quality
    * signal the curation gates consume, computed in ONE scan — the
    * "attributes file" a 100 TB pipeline publishes beside the raw text so
    * downstream mixture/filter decisions re-read signals, not documents.
    * (Dolma and RedPajama-v2 both ship exactly this artifact.) Columns:
    * predicted language, composite quality, the full Gopher measure set +
    * verdict, C4 page verdict + sentence count, whitespace/BPE token
    * counts, 3-shingle repetition ratio, PII hit count, line count.
    * Pure per-row column work: no shuffle, whole-stage codegen,
    * corpus-linear — at scale this is a map over the scan feeding a
    * columnar write partitioned however the corpus is.
    */
  def qualitySignals(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     gopher: GopherConfig = GopherConfig())
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    var sc = graft.core.Ops.widen(docs)
      .withColumn("__w", graft.operators.Dedup.normalizeWords(t))
    for ((name, markers) <- LangProfiles)
      sc = sc.withColumn(s"s_$name",
        profileScore(col("__w"), markers).cast("long"))
    sc.withColumn("__g", gopherFlags(t, col("__w"), gopher))
      .withColumn("__clean", array_join(Curation.c4KeptLines(t), "\n"))
      .select(col(idCol),
        langPredict.as("lang_pred"),
        qualityScore(t, col("__w")).as("quality_e4"),
        col("__g.n_words").as("n_words"),
        col("__g.mean_len_e4").as("mean_len_e4"),
        col("__g.alpha_frac_e4").as("alpha_frac_e4"),
        col("__g.symbol_ratio_e4").as("symbol_ratio_e4"),
        col("__g.bullet_frac_e4").as("bullet_frac_e4"),
        col("__g.ellipsis_frac_e4").as("ellipsis_frac_e4"),
        col("__g.stop_hits").as("stop_hits"),
        col("__g.pass").as("gopher_pass"),
        Curation.c4PageKeep(t, col("__clean")).as("c4_keep"),
        Curation.c4SentenceCount(col("__clean")).cast("long")
          .as("c4_sentences"),
        wsTokenCount(t).cast("long").as("ws_toks"),
        bpeTokenCount(t).cast("long").as("bpe_toks"),
        repetitionRatio(graft.operators.Dedup.shingles3(col("__w")))
          .as("rep_e4"),
        piiHits(t).cast("long").as("pii_hits"),
        size(split(t, "\n", -1)).cast("long").as("n_lines"))
  }

  /** Thresholds for [[repetitionSignals]] — the Gopher REPETITION rule
    * set (Rae et al. 2021 Table A1, public; the other half of the
    * [[GopherConfig]] quality rules), scale-4 fixed point. The paper's
    * published bounds: dup line/para fraction 0.30, dup line/para CHAR
    * fraction 0.20, top-{2,3,4}-gram char fraction 0.20/0.18/0.16,
    * dup-{5..10}-gram char fraction 0.15 down to 0.10.
    */
  case class RepetitionConfig(
      maxDupLineFracE4: Long = 3000L, maxDupParaFracE4: Long = 3000L,
      maxDupLineCharFracE4: Long = 2000L,
      maxDupParaCharFracE4: Long = 2000L,
      maxTopGramFracE4: Seq[(Int, Long)] =
        Seq(2 -> 2000L, 3 -> 1800L, 4 -> 1600L),
      maxDupGramFracE4: Seq[(Int, Long)] =
        Seq(5 -> 1500L, 6 -> 1400L, 7 -> 1300L, 8 -> 1200L,
          9 -> 1100L, 10 -> 1000L))

  /** The Gopher repetition-rule bundle — per-document duplication
    * measures over lines, paragraphs, and word n-grams, with `rep_pass`
    * the conjunction under `cfg`'s bounds. Exact-integer definitions
    * (engine-stable, oracle-replayable):
    *  - lines = newline-split, paragraphs = "\n\n"-split, both trimmed
    *    with empties dropped; a DUPLICATE is every occurrence AFTER the
    *    first of an identical element (the published reference
    *    implementations count the same way); element fractions are over
    *    the element count, char fractions over the elements' summed
    *    chars;
    *  - word n-grams are over the normalized token stream; the TOP
    *    n-gram (count desc, gram asc — deterministic) contributes
    *    count × its token chars; DUP n-grams (count ≥ 2) contribute the
    *    chars of every token position covered by ANY of their
    *    occurrences (interval union — positions are not double-counted);
    *    both against the stream's total token chars (separators
    *    excluded on both sides of the ratio).
    *
    * Scale shape: the line/paragraph measures are pure per-row column
    * work; the n-gram measures are ONE explode of (doc, n, pos, gram)
    * rows (≤ Σ|ns| × tokens — bounded ×9 for the default config), a
    * (doc, n, gram) count aggregate, a windowed per-(doc, n) argmax,
    * and an interval-union coverage join — all corpus-linear equi
    * shuffles, nothing all-pairs, no driver state.
    */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        cfg: RepetitionConfig = RepetitionConfig())
      : org.apache.spark.sql.DataFrame = {
    val topNs = cfg.maxTopGramFracE4.map(_._1)
    val dupNs = cfg.maxDupGramFracE4.map(_._1)
    require((topNs ++ dupNs).forall(_ >= 1), "repetitionSignals: n >= 1")
    val t = coalesce(col(textCol), lit(""))
    def sumLen(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + length(x))
    // duplicate occurrences after the first: count and chars, exactly
    // m − |distinct| elements and Σlen − Σlen(distinct) chars
    def dupCols(arr: Column, tag: String): Seq[Column] = {
      val m = size(arr).cast("long")
      val dups = (size(arr) - size(array_distinct(arr))).cast("long")
      val dupChars = sumLen(arr) - sumLen(array_distinct(arr))
      Seq(
        when(m > 0, graft.core.Ops.fixedPoint(
            dups * lit(1.0) / m, 4)).otherwise(lit(0L))
          .as(s"dup_${tag}_frac_e4"),
        when(sumLen(arr) > 0, graft.core.Ops.fixedPoint(
            dupChars * lit(1.0) / sumLen(arr), 4)).otherwise(lit(0L))
          .as(s"dup_${tag}_char_frac_e4"))
    }
    def nonEmpty(arr: Column): Column =
      filter(transform(arr, e => trim(e)), e => length(e) > 0)
    val base = graft.core.Ops.widen(docs)
      .select(col(idCol), t.as("__t"),
        graft.operators.Dedup.normalizeWords(t).as("__ws"))
      .withColumn("__tchars",
        aggregate(col("__ws"), lit(0L), (acc, x) => acc + length(x)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perRow = base.select(
      (Seq(col(idCol), col("__tchars")) ++
        dupCols(nonEmpty(split(col("__t"), "\n", -1)), "line") ++
        dupCols(nonEmpty(split(col("__t"), "\n\n", -1)), "para")): _*)
    // one exploded gram frame for every n (sequence(1, m-n+1) DESCENDS
    // when m < n — guard with an empty array, the byteSymbolsCol lesson)
    val allNs = (topNs ++ dupNs).distinct.sorted
    val grams = base.select(col(idCol), explode(flatten(transform(
        array(allNs.map(lit): _*), nn =>
          transform(
            when(size(col("__ws")) >= nn,
                sequence(lit(1), size(col("__ws")) - nn + 1))
              .otherwise(array().cast("array<int>")),
            i => struct(nn.as("n"), i.as("pos"),
              array_join(slice(col("__ws"), i, nn), " ").as("gram"))))))
        .as("g"))
      .select(col(idCol), col("g.n").as("n"), col("g.pos").as("pos"),
        col("g.gram").as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = grams.groupBy(idCol, "n", "gram")
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // TOP n-gram: argmax per (doc, n); token chars = len − (n−1) spaces
    val top = counts.filter(col("n").isInCollection(topNs))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol, "n")
          .orderBy(col("cnt").desc, col("gram").asc)))
      .filter(col("__r") === 1)
      .select(col(idCol), col("n"),
        (col("cnt") * (length(col("gram")) - (col("n") - 1)))
          .cast("long").as("__topchars"))
    // DUP n-grams: interval union of [pos, pos+n) over count ≥ 2 grams,
    // chars = Σ len(word at covered position)
    val wordLens = base.select(col(idCol),
        posexplode(col("__ws")).as(Seq("__p", "__w")))
      .select(col(idCol), (col("__p") + 1).as("wp"),
        length(col("__w")).cast("long").as("wl"))
    val covered = grams
      .join(counts.filter(col("cnt") >= 2).select(idCol, "n", "gram"),
        Seq(idCol, "n", "gram"))
      .select(col(idCol), col("n"),
        explode(sequence(col("pos"), col("pos") + col("n") - 1)).as("wp"))
      .distinct()
      .join(wordLens, Seq(idCol, "wp"))
      .groupBy(idCol, "n")
      .agg(sum("wl").as("__dupchars"))
    // fraction assembly: ONE groupBy(id).pivot(n) per side (n is bounded
    // — ≤ 9 values) and ONE doc-keyed join each, instead of a join per n
    // (the r14 9-sequential-left-joins shape: each was a doc-cardinality
    // shuffle of the widening frame). Missing (id, n) pivots to null →
    // the same coalesce-0 fraction as the old left joins.
    def fracJoin(dfIn: org.apache.spark.sql.DataFrame, part: org.apache.spark.sql.DataFrame,
                 ns: Seq[Int], srcCol: String, outPrefix: String)
        : org.apache.spark.sql.DataFrame =
      if (ns.isEmpty) dfIn
      else {
        val piv = part.groupBy(idCol).pivot("n", ns.map(n => n: Any))
          .agg(sum(col(srcCol)))
          .select(col(idCol) +: ns.map(nn =>
            col(s"`$nn`").as(s"__pv_$outPrefix$nn")): _*)
        val joined = dfIn.join(piv, Seq(idCol), "left_outer")
        ns.foldLeft(joined) { (acc, nn) =>
          acc.withColumn(s"$outPrefix${nn}_gram_frac_e4",
            when(col("__tchars") > 0, graft.core.Ops.fixedPoint(
                coalesce(col(s"__pv_$outPrefix$nn"), lit(0L)) * lit(1.0) /
                  col("__tchars"), 4))
              .otherwise(lit(0L)))
            .drop(s"__pv_$outPrefix$nn")
        }
      }
    val wide0 = fracJoin(perRow, top, topNs, "__topchars", "top")
    val wide = fracJoin(wide0, covered, dupNs, "__dupchars", "dup")
    val passCond = (
      Seq(col("dup_line_frac_e4") <= cfg.maxDupLineFracE4,
        col("dup_para_frac_e4") <= cfg.maxDupParaFracE4,
        col("dup_line_char_frac_e4") <= cfg.maxDupLineCharFracE4,
        col("dup_para_char_frac_e4") <= cfg.maxDupParaCharFracE4) ++
      cfg.maxTopGramFracE4.map { case (nn, th) =>
        col(s"top${nn}_gram_frac_e4") <= th } ++
      cfg.maxDupGramFracE4.map { case (nn, th) =>
        col(s"dup${nn}_gram_frac_e4") <= th })
      .reduce(_ && _)
    val out = wide.withColumn("rep_pass", passCond).drop("__tchars")
      .localCheckpoint(eager = true)
    grams.unpersist(); counts.unpersist(); base.unpersist()
    out
  }

  /** Per-document result of [[repetitionLocal]] — the twelve measures +
    * the conjunction verdict, keyed like the distributed columns.
    */
  case class RepetitionMeasures(dupLineFracE4: Long,
                                dupLineCharFracE4: Long,
                                dupParaFracE4: Long,
                                dupParaCharFracE4: Long,
                                topGramFracE4: Map[Int, Long],
                                dupGramFracE4: Map[Int, Long],
                                pass: Boolean)

  /** Executor-side replica of [[repetitionSignals]] for ONE document —
    * the stream-gate form (the MinHashStream local-replica discipline):
    * same integer/fixed-point arithmetic, same (count desc, gram asc)
    * argmax (grams are normalized-ASCII, so String ordering IS the
    * engine's UTF8_BINARY order), same interval-union coverage —
    * spec-pinned equal to the distributed operator row for row. O(9·m)
    * per doc with per-doc hash maps; the distributed form remains the
    * batch path (no per-row maps, shuffle-parallel over the corpus).
    */
  def repetitionLocal(text: String,
                      cfg: RepetitionConfig = RepetitionConfig())
      : RepetitionMeasures = {
    val t = if (text == null) "" else text
    def fp4(v: Double): Long = math.floor(v * 10000.0 + 0.5).toLong
    // Spark `trim` strips the SPACE character only — replicate exactly
    // (String.trim would also strip the \n a paragraph split leaves)
    def spaceTrim(s: String): String = {
      var a = 0; var b = s.length
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      s.substring(a, b)
    }
    def dupPair(elems: Array[String]): (Long, Long) = {
      val m = elems.length.toLong
      val distinct = elems.distinct
      val dups = m - distinct.length
      val sumLen = elems.map(_.length.toLong).sum
      val dupChars = sumLen - distinct.map(_.length.toLong).sum
      (if (m > 0) fp4(dups * 1.0 / m) else 0L,
        if (sumLen > 0) fp4(dupChars * 1.0 / sumLen) else 0L)
    }
    val lines = t.split("\n", -1).map(spaceTrim).filter(_.nonEmpty)
    val paras = t.split("\n\n", -1).map(spaceTrim).filter(_.nonEmpty)
    val (dlf, dlcf) = dupPair(lines)
    val (dpf, dpcf) = dupPair(paras)
    // replica of Dedup.normalizeWords (lower, strip non-alnum, split)
    val ws = t.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
    val m = ws.length
    val tchars = ws.map(_.length.toLong).sum
    def gramsOf(n: Int): IndexedSeq[String] =
      if (m < n) IndexedSeq.empty
      else (0 to m - n).map(i => ws.slice(i, i + n).mkString(" "))
    val top = cfg.maxTopGramFracE4.map { case (n, _) =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      gramsOf(n).foreach(g => counts(g) = counts.getOrElse(g, 0L) + 1L)
      val frac =
        if (counts.isEmpty || tchars == 0) 0L
        else {
          val (g, c) = counts.minBy { case (g, c) => (-c, g) }
          fp4(c * (g.length - (n - 1)).toLong * 1.0 / tchars)
        }
      n -> frac
    }.toMap
    val dup = cfg.maxDupGramFracE4.map { case (n, _) =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      val gs = gramsOf(n)
      gs.foreach(g => counts(g) = counts.getOrElse(g, 0L) + 1L)
      val covered = new Array[Boolean](m)
      gs.zipWithIndex.foreach { case (g, i) =>
        if (counts(g) >= 2L) {
          var j = i
          while (j < i + n) { covered(j) = true; j += 1 }
        }
      }
      val dupChars = ws.indices.collect {
        case j if covered(j) => ws(j).length.toLong }.sum
      n -> (if (tchars > 0) fp4(dupChars * 1.0 / tchars) else 0L)
    }.toMap
    val pass = dlf <= cfg.maxDupLineFracE4 &&
      dpf <= cfg.maxDupParaFracE4 &&
      dlcf <= cfg.maxDupLineCharFracE4 &&
      dpcf <= cfg.maxDupParaCharFracE4 &&
      cfg.maxTopGramFracE4.forall { case (n, th) => top(n) <= th } &&
      cfg.maxDupGramFracE4.forall { case (n, th) => dup(n) <= th }
    RepetitionMeasures(dlf, dlcf, dpf, dpcf, top, dup, pass)
  }

  /** A COLLECTED Kneser–Ney bigram model for per-row serving
    * ([[knScoreExpr]] — the streaming/gate form, where joining model
    * tables is not available). Bounded-vocabulary contract: the maps live
    * in the plan as literals and ride task broadcasts, so this is for
    * gate-sized reference models (the [[graft.operators.Classifier]]
    * serving shape), not corpus-sized vocabularies — [[collectKnModel]]
    * enforces a cap.
    */
  case class KnModel(grams: Map[String, Long],
                     ctxMass: Map[String, Long],
                     ctxN1r: Map[String, Long],
                     cont: Map[String, Long],
                     types: Long, vocabSize: Long,
                     discount: Double = 0.75)

  /** Collect a trained gram table into a [[KnModel]] (bounded driver
    * read; `maxEntries` refuses corpus-sized vocabularies).
    */
  def collectKnModel(grams: org.apache.spark.sql.DataFrame, vocabSize: Long,
                     maxEntries: Int = 1 << 20,
                     discount: Double = 0.75): KnModel = {
    val rows = grams.select(col("gram"), col("c").cast("long"))
      .limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"collectKnModel: model has > $maxEntries grams — a collected " +
        "serving model must be gate-sized; score with knCrossEntropy's " +
        "join form instead")
    val g = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySide = g.toSeq.map { case (gram, c) =>
      val sp = gram.split(" ", 2)
      (sp(0), if (sp.length > 1) sp(1) else "", c)
    }
    KnModel(
      grams = g,
      ctxMass = bySide.groupBy(_._1).map { case (w1, xs) => w1 -> xs.map(_._3).sum },
      ctxN1r = bySide.groupBy(_._1).map { case (w1, xs) => w1 -> xs.size.toLong },
      cont = bySide.groupBy(_._2).map { case (w2, xs) => w2 -> xs.size.toLong },
      types = g.size.toLong, vocabSize = vocabSize, discount = discount)
  }

  /** Per-row KN cross-entropy under a collected model — the fold form of
    * [[knCrossEntropy]] for stateless stream gates (the
    * [[graft.operators.Classifier.scoreExpr]] pattern): same bigram
    * construction, same smoothing branches, same e6-round-before-sum and
    * e4 mean, so batch and stream scores are BIT-identical
    * (KnLmSpec parity pin). */
  def knScoreExpr(text: Column, model: KnModel): Column = {
    val gramsLit = typedLit(model.grams)
    val massLit = typedLit(model.ctxMass)
    val n1rLit = typedLit(model.ctxN1r)
    val contLit = typedLit(model.cont)
    val bigrams = Curation.wordNgrams(
      graft.operators.Dedup.normalizeWords(text), 2)
    val le6s = transform(bigrams, g => {
      val w1 = split(g, " ").getItem(0)
      val w2 = split(g, " ").getItem(1)
      val cm = element_at(massLit, w1)
      val n1l = coalesce(element_at(contLit, w2), lit(0L))
      val pc = (n1l + lit(1.0)) /
        lit((model.types + model.vocabSize).toDouble)
      val p = when(cm.isNull, pc)
        .otherwise((greatest(
          coalesce(element_at(gramsLit, g), lit(0L)) - lit(model.discount),
          lit(0.0)) +
          lit(model.discount) * element_at(n1rLit, w1) * pc) / cm)
      floor(-log(p) * lit(1e6) + lit(0.5)).cast("long")
    })
    val n = size(bigrams)
    when(n === 0, lit(0L)).otherwise(
      floor(aggregate(le6s, lit(0L), (a, x) => a + x) /
        (n.cast("long") * lit(100.0)) + lit(0.5)).cast("long"))
  }

  // ---- external ARPA (KenLM-format) model load + scoring -----------------

  /** A parsed ARPA backoff model of any order n: `grams(k-1)` holds the
    * order-k section as (space-joined gram, log10 prob, log10 backoff
    * weight — 0.0 when the line omits it, as highest-order lines do);
    * `unkLp`: `<unk>`'s log10 prob when the model lists one, else the
    * open-vocab floor −99 (silence, the SRILM convention);
    * `malformedSkipped`: gram lines dropped by a `lenient = true` parse
    * (always 0 under the strict default).
    */
  case class ArpaModel(grams: Seq[Seq[(String, Double, Double)]],
                       unkLp: Double, malformedSkipped: Long = 0L) {
    def order: Int = grams.length
    /** Order-1 section (back-compat accessor). */
    def unigrams: Seq[(String, Double, Double)] =
      if (grams.isEmpty) Nil else grams.head
    /** Order-2 section without backoffs (back-compat accessor). */
    def bigrams: Seq[(String, Double)] =
      if (order >= 2) grams(1).map(t => (t._1, t._2)) else Nil
  }

  /** Parse ARPA text (the KenLM/SRILM interchange format) into the
    * engine's model-table shape — the CCNet deployment where the
    * perplexity filter scores against a REFERENCE model file instead of
    * self-training ([[selfKnCrossEntropy]]). Sections `\\data\\`,
    * `\\k-grams:` for k = 1..`maxOrder`, `\\end\\`; data lines are
    * `log10prob gram... [log10backoff]`. The shipped CCNet deployment
    * scores against a 5-gram KenLM model, hence the default cap; orders
    * beyond `maxOrder` still fail loudly in BOTH modes (a section the
    * scorer would silently ignore is a structural error, not line
    * noise).
    *
    * `lenient = false` (default): any malformed gram line — wrong field
    * count, non-numeric probability — and any duplicate gram within an
    * order throws. `lenient = true`: malformed lines are counted and
    * skipped and duplicate grams keep the LAST occurrence (the literal
    * serving map's `toMap` rule, so join and fold forms stay
    * bit-identical), with the drop count surfaced as
    * [[ArpaModel.malformedSkipped]] — the Warc/Multimodal "one bad
    * record must not kill the ingest" discipline for provider-quirked
    * model files. Duplicates must never score inconsistently: under the
    * strict default they fail loud, under lenient both serving forms see
    * the same single entry.
    *
    * Driver-side parse by design (section headers make line meaning
    * positional, so a distributed line-parse has no self-describing
    * rows); `maxBytes` enforces the localize discipline — a corpus-sized
    * model should be converted ONCE to parquet tables and joined from
    * there, which is exactly what [[arpaCrossEntropyN]] consumes.
    */
  def parseArpa(text: String, maxBytes: Long = 64L << 20,
                maxOrder: Int = 5, lenient: Boolean = false): ArpaModel = {
    require(maxOrder >= 1, s"parseArpa: maxOrder ($maxOrder) must be >= 1")
    require(text.length <= maxBytes,
      s"parseArpa: model text ${text.length} B exceeds $maxBytes B — " +
        "convert the model to parquet tables once and join from there")
    val secs = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, Double, Double)]]
    def at(k: Int) = {
      while (secs.length < k)
        secs += scala.collection.mutable.ArrayBuffer
          .empty[(String, Double, Double)]
      secs(k - 1)
    }
    var malformed = 0L
    var section = 0 // 0 = preamble/\data\, k = \k-grams:, -1 = \end\
    val secHdr = "\\\\(\\d+)-grams:".r
    val decl = "ngram\\s+(\\d+)\\s*=\\s*(\\d+)".r
    def bad(msg: String): Unit =
      if (lenient) malformed += 1
      else throw new IllegalArgumentException(s"requirement failed: $msg")
    for (raw <- text.linesIterator; line = raw.trim if line.nonEmpty) {
      line match {
        case "\\data\\" => section = 0
        case "\\end\\" => section = -1
        case secHdr(n) =>
          require(n.toInt <= maxOrder,
            s"parseArpa: order-$n section exceeds maxOrder=$maxOrder — " +
              "collapse the model or raise maxOrder")
          section = n.toInt
          at(section) // a declared-but-empty section still fixes the order
        case l if section == 0 =>
          l match {
            case decl(n, c) =>
              require(n.toInt <= maxOrder || c.toLong == 0L,
                s"parseArpa: model declares ${c} ${n}-grams — beyond " +
                  s"maxOrder=$maxOrder")
            case _ => () // header noise tolerated
          }
        case l if section > 0 =>
          val k = section
          val f = l.split("\\s+")
          if (f.length != k + 1 && f.length != k + 2)
            bad(s"parseArpa: malformed $k-gram line '$l'")
          else try {
            val lp = f(0).toDouble
            val bo = if (f.length == k + 2) f(k + 1).toDouble else 0.0
            at(k) += ((f.slice(1, k + 1).mkString(" "), lp, bo))
          } catch {
            case _: NumberFormatException =>
              bad(s"parseArpa: non-numeric field in $k-gram line '$l'")
          }
        case _ => () // content after \end\ tolerated
      }
    }
    val deduped = secs.toSeq.zipWithIndex.map { case (sec, i) =>
      val nDup = sec.length - sec.view.map(_._1).toSet.size
      if (nDup == 0) sec.toSeq
      else if (!lenient)
        throw new IllegalArgumentException(
          s"requirement failed: parseArpa: $nDup duplicate ${i + 1}-gram " +
            "entries — a duplicated gram would make the join and literal-" +
            "map serving forms score differently; fix the model or parse " +
            "with lenient = true (keeps the last occurrence)")
      else {
        malformed += nDup
        val last = scala.collection.mutable.LinkedHashMap
          .empty[String, (String, Double, Double)]
        sec.foreach(e => last(e._1) = e) // keep-last, first-seen order
        last.values.toSeq
      }
    }
    val us = if (deduped.isEmpty) Nil else deduped.head
    ArpaModel(deduped, us.collectFirst { case ("<unk>", lp, _) => lp }
      .getOrElse(-99.0), malformed)
  }

  /** [[ArpaModel]] as DataFrames — `(uni(w, lp, bo), bi(gram, lp))` — the
    * join-shape [[arpaCrossEntropy]] serves from (identical to what a
    * parquet-converted model reads back as). Order-2 surface; the
    * order-n twin is [[arpaTablesN]].
    */
  def arpaTables(spark: org.apache.spark.sql.SparkSession, m: ArpaModel)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    (m.unigrams.toDF("w", "lp", "bo"), m.bigrams.toDF("gram", "lp"))
  }

  /** [[ArpaModel]] as one `(gram, lp, bo)` DataFrame per order — the
    * join-shape [[arpaCrossEntropyN]] serves from (identical to what a
    * parquet-converted model reads back as, one directory per order).
    */
  def arpaTablesN(spark: org.apache.spark.sql.SparkSession, m: ArpaModel)
      : Seq[org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    m.grams.map(_.toDF("gram", "lp", "bo"))
  }

  /** ln(10) as the fixed double constant BOTH engines multiply by (the
    * correctly-rounded value; a libm `ln(10)` call is not contractually
    * identical across engines).
    */
  val Ln10: Double = 2.302585092994046

  /** Per-doc cross-entropy (nats, e4) under an EXTERNAL ARPA bigram
    * backoff model — Katz evaluation: p(w2|w1) = 10^lp(w1 w2) when the
    * bigram is listed, else 10^(bo(w1) + lp(w2)), unknown words at
    * `<unk>`'s mass (or the −99 floor). Same join/aggregate shape and
    * fixed-point discipline as [[scoreBigrams]]: per-bigram −ln p rounds
    * to e6 BEFORE the sum, mean exits e4, docs with < 2 words coalesce
    * to (0, 0) — feed [[graft.operators.Curation.perplexityBuckets]]
    * with `unscoredWhen = n_bigrams = 0` downstream.
    *
    * Scale shape: one corpus explode + three model-table equi joins (AQE
    * broadcasts gate-sized models; a corpus-sized model hash-joins), one
    * doc-keyed aggregate. The model tables come from [[arpaTables]] or a
    * parquet conversion — serving never re-reads the ARPA text.
    */
  def arpaCrossEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String,
                       uni: org.apache.spark.sql.DataFrame,
                       bi: org.apache.spark.sql.DataFrame,
                       unkLp: Double = -99.0): org.apache.spark.sql.DataFrame = {
    val scored = docBigrams(docs, idCol, textCol)
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(bi.select(col("gram"), col("lp").as("__lp2")),
        Seq("gram"), "left_outer")
      .join(uni.select(col("w").as("w1"), col("bo").as("__bo1")),
        Seq("w1"), "left_outer")
      .join(uni.select(col("w").as("w2"), col("lp").as("__lp1")),
        Seq("w2"), "left_outer")
      .withColumn("__log10p",
        when(col("__lp2").isNotNull, col("__lp2"))
          .otherwise(coalesce(col("__bo1"), lit(0.0)) +
            coalesce(col("__lp1"), lit(unkLp))))
      .withColumn("le6",
        floor(-col("__log10p") * lit(Ln10) * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("le6")).as("s"))
      .withColumn("arpa_e4",
        floor(col("s") / (col("n_bigrams") * lit(100.0)) + lit(0.5))
          .cast("long"))
    docs.select(col(idCol))
      .join(scored.select(col(idCol), col("n_bigrams"), col("arpa_e4")),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("arpa_e4"), lit(0L)).as("arpa_e4"))
  }

  /** Per-doc cross-entropy (nats, e4) under an external ARPA backoff
    * model of ANY order n — the [[arpaCrossEntropy]] join ladder
    * generalized to full Katz recursion depth n (the q110 trigram-ladder
    * shape at arbitrary depth). Per position with a FULL (n−1)-word
    * history, the score resolves at the LONGEST listed suffix s_j of the
    * n-gram and charges the backoff chain of every longer unlisted
    * context: log10 p = lp(s_j) + Σ_{k=j..n−1} bo(c_k), with bo(c) = 0
    * for an unlisted context and lp(s_0) = `unkLp` (exactly the n = 2
    * branches of [[arpaCrossEntropy]], recursed). Only positions n..len
    * score (the house bigram convention one order up): docs with < n
    * words exit (0, 0) — feed
    * [[graft.operators.Curation.perplexityBuckets]] with
    * `unscoredWhen = n_grams = 0` downstream.
    *
    * Scale shape: ONE corpus n-gram explode + (2n−1) model-table equi
    * joins — lp of each suffix length, bo of each context length (AQE
    * broadcasts gate-sized models; a corpus-sized model hash-joins) —
    * one doc-keyed aggregate. `tables` come from [[arpaTablesN]] or a
    * per-order parquet conversion; serving never re-reads the ARPA text.
    */
  def arpaCrossEntropyN(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String,
                        tables: Seq[org.apache.spark.sql.DataFrame],
                        unkLp: Double = -99.0)
      : org.apache.spark.sql.DataFrame = {
    val n = tables.length
    require(n >= 1, "arpaCrossEntropyN: at least the unigram table")
    var df = graft.core.Ops.widen(docs)
      .select(col(idCol), explode(Curation.wordNgrams(
        graft.operators.Dedup.normalizeWords(col(textCol)), n)).as("gram"))
      .withColumn("__ws", split(col("gram"), " "))
    // one lp join per suffix length, one bo join per context length
    for (k <- n to 1 by -1) {
      val key = s"__s$k"
      df = df.withColumn(key,
          array_join(slice(col("__ws"), n - k + 1, k), " "))
        .join(tables(k - 1).select(col("gram").as(key),
          col("lp").as(s"__lp$k")), Seq(key), "left_outer")
    }
    for (k <- (n - 1) to 1 by -1) {
      val key = s"__c$k"
      df = df.withColumn(key, array_join(slice(col("__ws"), n - k, k), " "))
        .join(tables(k - 1).select(col("gram").as(key),
          col("bo").as(s"__bo$k")), Seq(key), "left_outer")
    }
    def boSum(j: Int): Column =
      (j to n - 1).map(k => coalesce(col(s"__bo$k"), lit(0.0)))
        .reduceOption(_ + _).getOrElse(lit(0.0))
    var log10p: Column = boSum(1) + lit(unkLp) // s_0: unknown word
    for (j <- 1 to n)
      log10p = when(col(s"__lp$j").isNotNull,
        if (j == n) col(s"__lp$j") else boSum(j) + col(s"__lp$j"))
        .otherwise(log10p)
    val scored = df
      .withColumn("le6",
        floor(-log10p * lit(Ln10) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), sum(col("le6")).as("s"))
      .withColumn("arpa_e4",
        floor(col("s") / (col("n_grams") * lit(100.0)) + lit(0.5))
          .cast("long"))
    docs.select(col(idCol))
      .join(scored.select(col(idCol), col("n_grams"), col("arpa_e4")),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("arpa_e4"), lit(0L)).as("arpa_e4"))
  }

  /** Per-row Katz scoring under a collected ARPA model of any order —
    * the fold form of [[arpaCrossEntropy]]/[[arpaCrossEntropyN]] for
    * stateless stream gates (the [[knScoreExpr]] pattern): same n-gram
    * construction, same longest-listed-suffix + backoff-chain branches,
    * same e6-round-before-sum and e4 mean, so batch and stream scores
    * are BIT-identical (KnLmSpec parity pin, per order). Bounded-model
    * contract: the maps ride the plan as literals — gate-sized models
    * only (`maxEntries`); corpus-sized models use the join form.
    */
  def arpaScoreExpr(text: Column, m: ArpaModel,
                    maxEntries: Int = 1 << 20): Column = {
    val total = m.grams.map(_.size).sum
    require(m.order >= 1, "arpaScoreExpr: empty model")
    require(total <= maxEntries,
      s"arpaScoreExpr: model has $total " +
        s"entries > $maxEntries — a literal serving model must be " +
        "gate-sized; score with arpaCrossEntropyN's join form instead")
    val n = m.order
    val lpMaps = m.grams.map(sec =>
      typedLit(sec.map(e => e._1 -> e._2).toMap))
    val boMaps = m.grams.map(sec =>
      typedLit(sec.map(e => e._1 -> e._3).toMap))
    val grams = Curation.wordNgrams(
      graft.operators.Dedup.normalizeWords(text), n)
    val le6s = transform(grams, g => {
      val ws = split(g, " ")
      def sfx(k: Int): Column =
        if (k == n) g else array_join(slice(ws, n - k + 1, k), " ")
      def ctx(k: Int): Column = array_join(slice(ws, n - k, k), " ")
      def boSum(j: Int): Column =
        (j to n - 1).map(k =>
          coalesce(element_at(boMaps(k - 1), ctx(k)), lit(0.0)))
          .reduceOption(_ + _).getOrElse(lit(0.0))
      var log10p: Column = boSum(1) + lit(m.unkLp)
      for (j <- 1 to n)
        log10p = when(element_at(lpMaps(j - 1), sfx(j)).isNotNull,
          if (j == n) element_at(lpMaps(j - 1), sfx(j))
          else boSum(j) + element_at(lpMaps(j - 1), sfx(j)))
          .otherwise(log10p)
      floor(-log10p * lit(Ln10) * lit(1e6) + lit(0.5)).cast("long")
    })
    val cnt = size(grams)
    when(cnt === 0, lit(0L)).otherwise(
      floor(aggregate(le6s, lit(0L), (a, x) => a + x) /
        (cnt.cast("long") * lit(100.0)) + lit(0.5)).cast("long"))
  }

  /** Feature-hashing text embedding (the Weinberger et al. hashing
    * trick): each word lands in bucket `md5(word) mod dim` with a ±1
    * sign from the next hash bits; the document's vector is the per-
    * bucket signed count. Deterministic, vocabulary-free, integer-exact
    * — the cheap text→embedding link that lets the ANN/near-dup stack
    * ([[graft.operators.Similarity]]) run on raw text without an
    * external model. Long-form output (idCol, pos, val) — every doc
    * emits ALL `dim` positions (zeros included) so downstream gathers
    * are fixed-width; one hash-partitioned aggregate on (doc, bucket).
    * Gather with [[hashEmbedGather]] for the (id, v) array form the ANN
    * operators consume.
    */
  def hashEmbed(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim >= 1, s"hashEmbed: dim ($dim) must be >= 1")
    val words = hashFeatures(docs, idCol, textCol, dim)
    // dense frame: every (doc, pos) present, zero-filled
    docs.select(col(idCol))
      .crossJoin(broadcast(
        docs.sparkSession.range(dim).select(col("id").cast("int").as("pos"))))
      .join(words, Seq(idCol, "pos"), "left_outer")
      .select(col(idCol), col("pos"),
        coalesce(col("val"), lit(0L)).as("val"))
  }

  /** The SPARSE half of [[hashEmbed]]: one row per (doc, bucket) with a
    * non-empty signed count — absent buckets are implicit zeros. The
    * frame [[graft.operators.Classifier]] trains over (a linear model's
    * dot products only touch non-zero coordinates, so the sparse form is
    * exact and corpus-sized rather than corpus×dim-sized); [[hashEmbed]]
    * densifies it for the fixed-width gathers the ANN stack wants.
    */
  def hashFeatures(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    require(dim >= 1, s"hashFeatures: dim ($dim) must be >= 1")
    graft.core.Ops.widen(docs)
      .select(col(idCol), explode(graft.operators.Dedup.normalizeWords(
        col(textCol))).as("__w"))
      .withColumn("__h", conv(substring(md5(col("__w")), 1, 8), 16, 10)
        .cast("long"))
      .select(col(idCol), pmod(col("__h"), lit(dim)).cast("int").as("pos"),
        when(pmod(floor(col("__h") / lit(dim)), lit(2)) === 0, lit(1L))
          .otherwise(lit(-1L)).as("s"))
      .groupBy(col(idCol), col("pos"))
      .agg(sum(col("s")).as("val"))
  }

  /** Per-ROW dense hashing-trick embedding — the same md5 bucket/sign
    * algebra as [[hashFeatures]] but as one column expression (no
    * explode, no aggregate), for stateless stream stages that embed each
    * document independently ([[graft.streaming.EmbedDupStream]]).
    * O(dim·words) per row; parity with
    * `hashEmbedGather(hashEmbed(...))` is spec-pinned
    * (VectorOpsSpec), so batch and stream embeddings are bit-identical.
    */
  def hashEmbedExpr(text: Column, dim: Int): Column = {
    require(dim >= 1, s"hashEmbedExpr: dim ($dim) must be >= 1")
    val words = graft.operators.Dedup.normalizeWords(text)
    transform(sequence(lit(0), lit(dim - 1)), p =>
      aggregate(words, lit(0L), (acc, w) => {
        val h = conv(substring(md5(w), 1, 8), 16, 10).cast("long")
        val s = when(pmod(floor(h / lit(dim)), lit(2)) === 0, lit(1L))
          .otherwise(lit(-1L))
        acc + when(pmod(h, lit(dim)).cast("int") === p, s).otherwise(lit(0L))
      }).cast("double"))
  }

  /** `(id, v)` dense double arrays via the SPARSE path: aggregate
    * [[hashFeatures]]' non-zero (doc, bucket) rows per doc into a map
    * and zero-fill the dim-width array in one per-row transform —
    * value-identical to `hashEmbedGather(hashEmbed(...))` (spec-pinned)
    * but the (id, pos) shuffles carry ONLY non-zero buckets. The dense
    * route pays a dim× row amplification (crossJoin + a corpus×dim-row
    * shuffle) on every run — the embed stage's dominant constant at
    * corpus scale; here the first shuffle carries word-bounded rows
    * with map-side combine and the second one map-row per doc. Docs
    * whose text hashes to nothing exit as the all-zero vector (same as
    * the dense form).
    */
  def hashEmbedVectors(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, dim: Int)
      : org.apache.spark.sql.DataFrame = {
    require(dim >= 1, s"hashEmbedVectors: dim ($dim) must be >= 1")
    val sparse = hashFeatures(docs, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("val"))))
        .as("__m"))
    docs.select(col(idCol).as("id"))
      .join(sparse.select(col(idCol).as("id"), col("__m")),
        Seq("id"), "left_outer")
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), p =>
          coalesce(element_at(col("__m"), p), lit(0L)).cast("double"))
          .as("v"))
  }

  /** [[hashEmbed]] long form gathered to `(id, v)` double arrays — the
    * shape [[graft.operators.Similarity]] consumes.
    */
  def hashEmbedGather(longForm: org.apache.spark.sql.DataFrame,
                      idCol: String): org.apache.spark.sql.DataFrame =
    longForm.groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("val"))))
        .as("pv"))
      .select(col(idCol).as("id"),
        expr("transform(pv, e -> cast(e.val as double))").as("v"))

  /** PII scrubbing patterns (training-data redaction). Kept to syntax
    * valid AND identical-semantics in both Java regex (Spark) and RE2
    * (DuckDB oracle): character classes + bounded quantifiers only — no
    * backrefs, no lookaround.
    */
  val EmailRegex = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRegex = "https?://[a-zA-Z0-9./_-]+"
  val PhoneRegex = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Redact emails, then URLs, then phone-ish runs (order matters: URLs can
    * contain digit runs). Returns the scrubbed text column.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRegex, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, UrlRegex, "<URL>")
    regexp_replace(noUrl, PhoneRegex, "<PHONE>")
  }

  private def matchCount(c: Column, pattern: String): Column =
    size(call_function("regexp_extract_all", c, lit(pattern), lit(0)))

  /** Count of PII hits (pre-redaction, per category over the raw text) for
    * audit/funnel metrics. Counts every category [[redactPii]] redacts —
    * an audit that skipped phones would report 0 hits for rows the
    * redaction pass demonstrably mutates.
    */
  def piiHits(text: Column): Column =
    matchCount(text, EmailRegex) + matchCount(text, UrlRegex) +
      matchCount(text, PhoneRegex)

  /** Repetition ratio (Gopher-style quality flag): 1 − |distinct k-grams| /
    * |k-grams| over a word-shingle array — near-0 for natural text, → 1 for
    * degenerate repeated content. Scale-4 fixed-point BIGINT (ratio·10⁴).
    */
  def repetitionRatio(shingles: Column): Column =
    when(size(shingles) === 0, lit(0L))
      .otherwise(graft.core.Ops.fixedPoint(lit(1.0) -
        size(array_distinct(shingles)) * lit(1.0) / size(shingles), 4))

  /** BPE-ish tokenization regex: letter runs, single digits, single
    * non-alnum marks (GPT-2-style pre-tokenizer shape, ASCII-simplified).
    */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** TF-IDF top terms per document — the classic keyword extraction /
    * document-representation pass (salient-term indexing, topic tagging,
    * near-dup explanation). Integer-exact end to end: idf is the smoothed
    * `ln((N+1)/(df+1)) + 1` rounded to an e6 BIGINT per TERM (one value
    * per vocabulary entry — the q91 round-before-use discipline, so the
    * ranking is engine-independent), score = tf · idf_e6, ties broken by
    * term.
    *
    * Scale shape: one word explode (corpus-linear), a (doc, term) hash
    * agg with map-side partials, a vocabulary-sized df agg derived FROM
    * the tf frame (no second corpus pass), an equi join of tf against the
    * df table (vocabulary-keyed; AQE broadcasts it when it fits), and a
    * per-doc top-k window (bounded groups, plans WindowGroupLimit).
    * `numDocs` is corpus cardinality as model metadata — computed once on
    * the driver (bounded action) rather than a 1-row scalar cross in the
    * plan.
    *
    * Output: (idCol, term, tf, score_e6, rnk), rnk 1..k per doc.
    */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int,
                    numDocs: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be at least 1")
    val n = numDocs.getOrElse(docs.count())
    val tf = graft.core.Ops.widen(docs)
      .select(col(idCol),
        explode(graft.operators.Dedup.normalizeWords(col(textCol)))
          .as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, term) pairs, so df = count per term
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_e6", floor(
        (log(lit(n + 1.0) / (col("df") + lit(1.0))) + lit(1.0)) * lit(1e6)
          + lit(0.5)).cast("long"))
      .select("term", "idf_e6")
    val scored = tf.join(idf, Seq("term"))
      .withColumn("score_e6", col("tf") * col("idf_e6"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("score_e6").desc, col("term").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score_e6"),
        col("rnk"))
  }

  /** Trigram stupid-backoff scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the web-scale LM that skips
    * normalized discounting): for each trigram w1 w2 w3 of the scored
    * doc,
    *
    *   S = c3/c2ctx                     when the trigram was seen,
    *       0.4 · c2/c1ctx               else when the suffix bigram was,
    *       0.4 · 0.4 · (c1+1)/(N+1)     else (add-one unigram floor, so
    *                                    out-of-vocabulary words stay
    *                                    finite),
    *
    * summed per doc as e6-rounded nats (−ln S per token BEFORE the sum —
    * the repo determinism convention). Cross-model scoring (train slice ≠
    * scored corpus) is the point: the backoff branches only fire on
    * UNSEEN grams, which a self-train shape never produces.
    *
    * Scale shape: model tables (tri/bi/uni counts) are train-corpus
    * aggregates reused by key; the scored corpus explodes ONCE into the
    * trigram stream, which then equi-joins the three model tables
    * (left joins, AQE broadcasts the vocabulary-bounded sides) — the
    * corpus-sized side shuffles only at the final per-doc aggregate.
    * N (train token count) is model metadata, computed once driver-side.
    * Every input doc appears in the output (< 3 words ⇒ zeros).
    *
    * Output: (idCol, n_tri, nats_e6).
    */
  def stupidBackoffScores(docs: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String,
                          train: org.apache.spark.sql.DataFrame,
                          trainTextCol: String): org.apache.spark.sql.DataFrame = {
    val tw = graft.core.Ops.widen(train)
      .select(graft.operators.Dedup.normalizeWords(col(trainTextCol)).as("__w"))
    val n = tw.agg(sum(size(col("__w")))).head().getLong(0)
    def gramCounts(k: Int, cName: String) = tw
      .select(explode(Curation.wordNgrams(col("__w"), k)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as(cName))
    val tri = gramCounts(3, "c3")
    val bi = gramCounts(2, "c2")
    val uni = gramCounts(1, "c1")
    val stream = graft.core.Ops.widen(docs)
      .select(col(idCol),
        graft.operators.Dedup.normalizeWords(col(textCol)).as("__w"))
      .select(col(idCol), explode(expr(
        """CASE WHEN size(__w) >= 3 THEN
             transform(sequence(1, size(__w) - 2),
               i -> struct(element_at(__w, i) AS w1,
                 element_at(__w, i + 1) AS w2,
                 element_at(__w, i + 2) AS w3))
           ELSE CAST(array() AS array<struct<w1:string,w2:string,w3:string>>)
           END""")).as("g"))
      .select(col(idCol), col("g.w1"), col("g.w2"), col("g.w3"))
    val scored = stream
      .join(tri.withColumnRenamed("gram", "__k3"),
        concat_ws(" ", col("w1"), col("w2"), col("w3")) === col("__k3"),
        "left")
      .join(bi.select(col("gram").as("__kc"), col("c2").as("c2ctx")),
        concat_ws(" ", col("w1"), col("w2")) === col("__kc"), "left")
      .join(bi.select(col("gram").as("__ks"), col("c2")),
        concat_ws(" ", col("w2"), col("w3")) === col("__ks"), "left")
      .join(uni.select(col("gram").as("__u1"), col("c1").as("c1ctx")),
        col("w2") === col("__u1"), "left")
      .join(uni.select(col("gram").as("__u2"), col("c1")),
        col("w3") === col("__u2"), "left")
      .withColumn("s",
        when(col("c3").isNotNull, col("c3") / col("c2ctx"))
          .otherwise(lit(0.4) *
            when(col("c2").isNotNull, col("c2") / col("c1ctx"))
              .otherwise(lit(0.4) *
                (coalesce(col("c1"), lit(0L)) + lit(1.0)) /
                (lit(n.toDouble) + lit(1.0)))))
      .withColumn("nats", floor(-log(col("s")) * lit(1e6) + lit(0.5))
        .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"), sum(col("nats")).as("nats_e6"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("nats_e6"), lit(0L)).as("nats_e6"))
  }

  /** BM25 top-k retrieval: score every (query, doc) pair that shares at
    * least one term and keep the k best docs per query. The retrieval
    * front-end of a RAG / decontamination pipeline, one layer above
    * [[tfidfTopTerms]] (same tf/df frames, BM25's saturation + length
    * normalization on top).
    *
    * Determinism contract (repo convention): each per-term contribution
    * is rounded to an e6 BIGINT BEFORE the per-doc sum — ln and the
    * double ratio are bit-identical across engines on identical
    * expression trees, and integer sums commute. Constants k1 = 1.25 and
    * b = 0.75 are exact binary fractions.
    *
    * Scale shape: one corpus word explode feeding BOTH the tf agg and the
    * per-doc length (no second pass), an equi join of tf against the
    * QUERY-term table first — queries are the small side (AQE broadcasts
    * it) — and df/idf computed as a per-term window count OVER the
    * restricted candidate frame, so the corpus scan appears exactly once
    * in the plan STRUCTURALLY (no ReusedExchange dependence — spec-
    * pinned) and df work touches only query-term postings, never the
    * whole vocabulary. `N` and `avgdl` are model metadata, computed once
    * on the driver (bounded action) — not 1-row scalar crosses in the
    * plan. Final top-k is a per-query bounded window (plans
    * WindowGroupLimit).
    *
    * Output: (qid, idCol, score_e6, rnk), rnk 1..k per query.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String,
               queries: org.apache.spark.sql.DataFrame, qidCol: String,
               qtermCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be at least 1")
    val words = graft.core.Ops.widen(docs)
      .select(col(idCol),
        graft.operators.Dedup.normalizeWords(col(textCol)).as("__w"))
    // model metadata (corpus size, mean doc length) via one bounded
    // driver action — the tfidfTopTerms discipline
    val stats = words.agg(
      count(lit(1)).as("n"), sum(size(col("__w"))).as("dlsum")).head()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n
    val tf = words
      .select(col(idCol), size(col("__w")).as("dl"),
        explode(col("__w")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val qterms = queries
      .select(col(qidCol).as("qid"), col(qtermCol).as("term")).distinct()
    // STRUCTURAL single corpus scan: restrict tf to query terms FIRST
    // (the term-only join keeps every doc containing a query term, so
    // per-term df counted from the restricted frame equals full-corpus
    // df for exactly the terms that matter), then compute df as a window
    // count over the restricted frame. The previous form referenced the
    // tf subtree twice (vocabulary-wide df aggregate + score join) and
    // leaned on ReusedExchange to dedup the corpus scan — an optimizer
    // artifact, not a contract; a filter pushed into one branch would
    // have silently doubled the scan. Bonus at scale: df work now
    // touches only query-term postings, not the whole vocabulary.
    val qtermSet = qterms.select("term").distinct()
    val cand = tf.join(qtermSet, Seq("term"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .withColumn("idf_e6", floor(
        log((lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6) + lit(0.5))
        .cast("long"))
    val contrib = cand
      .join(qterms, Seq("term"))
      .withColumn("c_e6", floor(
        col("idf_e6") * (col("tf") * lit(2.25)) /
          (col("tf") + lit(1.25) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
          + lit(0.5)).cast("long"))
    val scored = contrib.groupBy(col("qid"), col(idCol))
      .agg(sum(col("c_e6")).as("score_e6"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("score_e6").desc, col(idCol).asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("score_e6"), col("rnk"))
  }

  /** Persist the postings index [[bm25TopK]] derives per call — the
    * retrieval member of the engine's index-reuse family (IVF for
    * vectors, MinHash bands for near-dup, postings for BM25): the corpus
    * explodes ONCE at build time; every later query batch joins its
    * terms against stored postings and pays zero corpus work.
    *
    * Layout: `dir/postings` (id, dl, term, tf); `dir/terms`
    * (term, df_part) and `dir/meta` (n_part, dlsum_part) as PER-BATCH
    * partial rows — [[appendToBm25Index]] just appends its batch's
    * partials and serving re-aggregates (vocabulary-bounded /
    * driver-bounded sums), so incremental ingest needs no
    * read-modify-write of global statistics.
    *
    * Crash/retry safety: every table is PARTITIONED BY `batch_id`, and a
    * batch's three writes land postings → terms → meta, with meta the
    * COMMIT MARKER (serving reads only batch_ids present in meta). A
    * failure between writes leaves an uncommitted — invisible — batch,
    * and a retried append re-runs with the SAME batch id under dynamic
    * partition overwrite, REPLACING the partial partitions instead of
    * appending beside them — so a retry can neither double-count
    * df_part/n_part/dlsum_part nor strand half an index.
    */
  def writeBm25Index(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, dir: String): Unit = {
    writeBm25Parts(docs, idCol, textCol, dir, overwrite = true,
      batchId = "base")
  }

  /** Fold a new document batch into an existing index (append-only; ids
    * must be disjoint from indexed ids — the snapshot invariant).
    * `batchId` names the ingest attempt: retries of a failed append MUST
    * reuse the id (that is what makes them idempotent), distinct batches
    * MUST NOT (a reused id replaces the earlier batch's partitions).
    */
  def appendToBm25Index(spark: org.apache.spark.sql.SparkSession,
                        dir: String, docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        batchId: String): Unit =
    writeBm25Parts(docs, idCol, textCol, dir, overwrite = false, batchId)

  private def writeBm25Parts(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String, dir: String,
                             overwrite: Boolean, batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "bm25 index")
    // build clobbers the whole index; append replaces ONLY this batch's
    // partition ([[graft.core.BatchTables.write]] pins the mode)
    def write(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      graft.core.BatchTables.write(df, s"$dir/$table", batchId, overwrite)
    val words = graft.core.Ops.widen(docs)
      .select(col(idCol).as("id"),
        graft.operators.Dedup.normalizeWords(col(textCol)).as("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = words
      .select(col("id"), size(col("__w")).as("dl"),
        explode(col("__w")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    write(tf, "postings")
    write(tf.groupBy("term").agg(count(lit(1)).as("df_part")), "terms")
    // coalesce: an empty batch writes (0, 0), not (0, NULL) — serving
    // sums the partials and a NULL would poison the whole meta read.
    // Meta lands LAST: its batch_id partition is the commit marker.
    write(words.agg(count(lit(1)).as("n_part"),
        coalesce(sum(size(col("__w"))), lit(0L)).as("dlsum_part")), "meta")
    tf.unpersist(false); words.unpersist(false)
  }

  /** BM25 top-k against a persisted index: numerically IDENTICAL to
    * [[bm25TopK]] on the same corpus (parity spec-pinned) — same idf and
    * saturation expression trees; df comes from the aggregated terms
    * table instead of a window count (for query terms the two are equal
    * by construction). Per batch: one bounded meta read, one
    * vocabulary-bounded terms aggregate, one postings equi join — the
    * corpus itself is never re-read.
    */
  def bm25AgainstIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String,
                       queries: org.apache.spark.sql.DataFrame,
                       qidCol: String, qtermCol: String,
                       k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be at least 1")
    // meta is the commit marker (see writeBm25Index): postings/terms rows
    // from a batch whose meta partition never landed are dead weight from
    // an interrupted append — excluded by a batch-count-bounded semi join
    // (doubles as partition pruning on the batch_id layout)
    val committed = graft.core.BatchTables.committed(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta")
      .agg(sum("n_part").as("n"), sum("dlsum_part").as("dlsum")).head()
    // retraction tombstones ([[graft.pipeline.Maintain.retract]]): the
    // per-batch n/dlsum partials live in the meta COMMIT MARKER and are
    // never rewritten — each historical submission of a retracted id is
    // compensated here instead (dedup by id: a crash-rerun may append a
    // duplicate tombstone row). Postings/terms rows are already purged
    // physically, so df needs no adjustment.
    val (rN, rDl) =
      if (!graft.core.BatchTables.exists(spark, s"$dir/retracted"))
        (0L, 0L)
      else {
        val r = spark.read.parquet(s"$dir/retracted")
          .groupBy("id").agg(max("dl").as("dl"))
          .agg(count(lit(1)).as("rn"),
            coalesce(sum("dl"), lit(0L)).as("rdl")).head()
        (r.getLong(0), r.getLong(1))
      }
    val n = meta.getLong(0) - rN
    require(n > 0, s"bm25AgainstIndex: index at $dir holds no documents")
    val avgdl = (meta.getLong(1) - rDl).toDouble / n
    val qterms = queries
      .select(col(qidCol).as("qid"), col(qtermCol).as("term")).distinct()
    val qtermSet = qterms.select("term").distinct()
    val dfT = graft.core.BatchTables
      .readCommitted(spark, s"$dir/terms", committed)
      .join(qtermSet, Seq("term"))
      .groupBy("term").agg(sum("df_part").as("df"))
    val cand = graft.core.BatchTables
      .readCommitted(spark, s"$dir/postings", committed)
      .join(qtermSet, Seq("term"))
      .join(dfT, Seq("term"))
      .withColumn("idf_e6", floor(
        log((lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6) + lit(0.5))
        .cast("long"))
    val contrib = cand
      .join(qterms, Seq("term"))
      .withColumn("c_e6", floor(
        col("idf_e6") * (col("tf") * lit(2.25)) /
          (col("tf") + lit(1.25) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
          + lit(0.5)).cast("long"))
    contrib.groupBy(col("qid"), col("id"))
      .agg(sum(col("c_e6")).as("score_e6"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("score_e6").desc, col("id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("score_e6"), col("rnk"))
  }

  /** Exact 3-term phrase search over positional postings — the
    * verification layer of an inverted index ([[bm25TopK]] ranks by
    * bag-of-words; phrase queries need POSITIONS). The corpus explodes
    * once into (doc, pos, term) postings; a phrase [t1 t2 t3] matches at
    * pos where the three postings chain at pos, pos+1, pos+2.
    *
    * Join order is the scale story: postings ⋈ the tiny phrase table on
    * the FIRST term cuts the corpus to first-term candidates (AQE
    * broadcasts the phrase side), and the two positional verifications
    * then join candidates (small) against postings on (doc, pos, term) —
    * equi joins AQE again broadcasts the small side of. Never a
    * corpus × corpus position product.
    *
    * Output: (qid, idCol, match_pos) — every occurrence, 1-based
    * position.
    */
  def phraseSearch3(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    phrases: org.apache.spark.sql.DataFrame, qidCol: String,
                    termsCol: String): org.apache.spark.sql.DataFrame = {
    val postings = graft.core.Ops.widen(docs)
      .select(col(idCol), posexplode(
        graft.operators.Dedup.normalizeWords(col(textCol)))
        .as(Seq("pos", "term")))
    val q = phrases.select(col(qidCol).as("qid"),
      element_at(col(termsCol), 1).as("__t1"),
      element_at(col(termsCol), 2).as("__t2"),
      element_at(col(termsCol), 3).as("__t3"))
    val p2 = postings.select(col(idCol).as("__id2"), col("pos").as("__pos2"),
      col("term").as("__term2"))
    val p3 = postings.select(col(idCol).as("__id3"), col("pos").as("__pos3"),
      col("term").as("__term3"))
    postings.join(q, col("term") === col("__t1"))
      .join(p2, col("__id2") === col(idCol) &&
        col("__pos2") === col("pos") + lit(1) &&
        col("__term2") === col("__t2"))
      .join(p3, col("__id3") === col(idCol) &&
        col("__pos3") === col("pos") + lit(2) &&
        col("__term3") === col("__t3"))
      .select(col("qid"), col(idCol),
        (col("pos") + lit(1)).cast("long").as("match_pos"))
  }

  /** Whitespace token count; empty/whitespace-only text is 0 tokens
    * (`split("") == [""]` would report 1 — off by one for exactly the
    * degenerate docs token counts gate).
    */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  def bpeTokenCount(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit(BpeTokenRegex), lit(0)))

  /** Winnowing fingerprint (classic MOSS shape, k=8 char-grams, window w=4):
    * per window position j, the min of the 4 rolling 8-gram md5-prefix
    * hashes; the distinct set of window-mins is the fingerprint.
    *
    * Two-step on the Spark side: [[winnowGramHashExpr]] computes each 8-gram
    * hash ONCE (len−7 md5 calls), then [[winnowFromHashesExpr]] takes the
    * windowed min over slices of that array. The naive one-step form
    * (window-of-hashes inline) recomputes every gram hash w=4 times — 4× the
    * md5 work for identical output. Project the gram-hash array as its OWN
    * attribute between the two steps, or lambda substitution re-inlines it
    * (same pathology as `Dedup.shingleSets` — see the NOTE there).
    * Output values are identical to the one-step form, so the DuckDB oracle
    * keeps the direct rendering.
    */
  val winnowGramHashExpr: String =
    """CASE WHEN length(text) >= 8 THEN
         transform(sequence(1, length(text) - 7),
           k -> substr(md5(substr(text, k, 8)), 1, 8))
       ELSE CAST(array() AS array<string>) END"""

  /** Windowed min over a gram-hash array column named `gh` (w=4). */
  val winnowFromHashesExpr: String =
    """CASE WHEN size(gh) >= 4 THEN
         transform(sequence(1, size(gh) - 3),
           j -> array_min(slice(gh, j, 4)))
       ELSE CAST(array() AS array<string>) END"""

  /** One-step form (reference rendering; 4× the md5 work — probes use the
    * two-step split above).
    */
  val winnowSparkExpr: String =
    """CASE WHEN length(text) >= 11 THEN
         transform(sequence(1, length(text) - 10),
           j -> array_min(transform(sequence(0, 3),
             o -> substr(md5(substr(text, j + o, 8)), 1, 8))))
       ELSE CAST(array() AS array<string>) END"""

  val winnowDuckSql: String =
    """CASE WHEN length(text) >= 11 THEN
         list_transform(generate_series(1, length(text) - 10),
           j -> list_min(list_transform(generate_series(0, 3),
             o -> substr(md5(substr(text, j + o, 8)), 1, 8))))
       ELSE []::VARCHAR[] END"""

  // ---- DoReMi-style learned mixture weights -------------------------------

  /** One learned domain weight row — `weight_e4` feeds
    * [[graft.operators.Curation.mixturePlan]] directly.
    */
  case class DomainWeight(domain: String, n_bigrams: Long, ref_xent_e4: Long,
                          mix_xent_e4: Long, weight_e4: Long)

  /** LEARN the domain mixture weights that [[Curation.mixturePlan]]
    * executes — the DoReMi method (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining") re-expressed
    * over this engine's count-based bigram LM instead of a neural proxy:
    *
    *   - REFERENCE loss per domain = each domain's cross-entropy under
    *     its OWN bigram LM — the achievable floor, standing in for
    *     DoReMi's pretrained reference model.
    *   - PROXY loss per domain at step t = the domain's cross-entropy
    *     under the bigram LM of the CURRENT MIXTURE (model counts =
    *     Σ_d w_d · P_d, each domain's normalized bigram distribution
    *     scaled by its current weight) — the count-based analog of the
    *     proxy model trained on the mixture.
    *   - Group-DRO multiplicative update: excess_d = max(0, proxy_d −
    *     ref_d); w ← w · exp(η · excess); normalize; smooth toward
    *     uniform by `smoothE4`/1e4 (the paper's (1−c)·α + c·u step).
    *     Final weights = the per-step average, as published.
    *
    * Domains under-served by the current mixture (high excess) gain
    * weight; as their weight grows the mixture models them better and
    * the excess shrinks — the method's equilibrium, reached here in a
    * handful of deterministic steps.
    *
    * Determinism (the q91/q97/q98 oracle discipline): per-domain
    * distributions round to e6 integers per gram; model counts are exact
    * integer sums `Σ w_e4·p_e6` (≤ 1e10 — no overflow); each gram's log
    * cost rounds to e6 BEFORE the per-domain sum; the driver update uses
    * the same floor(x+0.5) rule the SQL mirror does. The only floats are
    * ln/exp rounded immediately, so the whole T-step loop unrolls into a
    * DuckDB CTE chain that matches hash-exact.
    *
    * Scale shape: ONE corpus-sized explode/shuffle total (the per-
    * (domain, gram) count aggregate, persisted). Everything after —
    * T+1 model evaluations — touches only vocabulary×domains-bounded
    * tables (two hash aggregates + two joins each), and the driver holds
    * exactly D weight rows per step (model, not data — the
    * [[Classifier.train]] contract). At 100 TB the corpus pass dominates
    * and is paid once; steps cost vocab-table scans, independent of
    * corpus size.
    */
  def doremiMixtureWeights(docs: org.apache.spark.sql.DataFrame,
                           domainCol: String, textCol: String,
                           vocabSize: Long, steps: Int = 3,
                           etaE4: Long = 10000L,
                           smoothE4: Long = 1000L): org.apache.spark.sql.DataFrame = {
    require(steps >= 1, s"doremiMixtureWeights: steps ($steps) must be >= 1")
    require(vocabSize >= 1, s"doremiMixtureWeights: vocabSize $vocabSize")
    require(etaE4 >= 0 && smoothE4 >= 0 && smoothE4 <= 10000L,
      s"doremiMixtureWeights: dials etaE4=$etaE4 smoothE4=$smoothE4")
    val sp = docs.sparkSession
    import org.apache.spark.storage.StorageLevel
    // ONE corpus pass: per-(domain, gram) bigram counts
    val dgc = graft.core.Ops.widen(docs)
      .select(col(domainCol).cast("string").as("dom"),
        explode(Curation.wordNgrams(
          graft.operators.Dedup.normalizeWords(col(textCol)), 2)).as("gram"))
      .groupBy("dom", "gram").agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ndRows = dgc.groupBy("dom").agg(sum("c").as("n")).collect()
      require(ndRows.nonEmpty, "doremiMixtureWeights: no domain has >= 1 bigram")
      val nd = ndRows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val domains = nd.keys.toSeq.sorted
      val unifE4 = math.floor(10000.0 / domains.size + 0.5).toLong
      import sp.implicits._
      val ndDf = nd.toSeq.toDF("dom", "n")
      // per-domain bigram DISTRIBUTION in e6, rounded per gram — exact
      // integer table; every later model is a weighted sum over it
      val scaled = dgc.join(broadcast(ndDf), Seq("dom"))
        .select(col("dom"), col("gram"),
          floor(col("c") * lit(1e6) / col("n") + lit(0.5)).cast("long")
            .as("p_e6"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // smoothed log-cost of a gram: model counts live in w_e4·p_e6 units
      // (total mixture mass 1e10), and the smoothing constant α = 1e6 is
      // 1e-4 of that mass — heavy enough to bound unseen-gram cost, light
      // enough not to flatten small domains. Mirrored verbatim in SQL.
      def costE6(cm: Column, ctx: Column): Column =
        floor(-log((cm + lit(1e6)) / (ctx + lit(vocabSize * 1e6)))
          * lit(1e6) + lit(0.5)).cast("long")

      // per-domain cross-entropy of dgc's bigrams under a (gram, cm) model
      def lossesE4(model: org.apache.spark.sql.DataFrame): Map[String, Long] = {
        val ctx = model
          .select(split(col("gram"), " ").getItem(0).as("w1"), col("cm"))
          .groupBy("w1").agg(sum("cm").as("ctx"))
        dgc.join(model, Seq("gram"))
          .withColumn("w1", split(col("gram"), " ").getItem(0))
          .join(ctx, Seq("w1"))
          .groupBy("dom")
          .agg(sum(col("c") * costE6(col("cm"), col("ctx"))).as("s"),
            sum("c").as("nb"))
          .collect()
          .map(r => r.getString(0) ->
            math.floor(r.getLong(1) / (r.getLong(2) * 100.0) + 0.5).toLong)
          .toMap
      }

      // reference: every domain under its OWN model at full weight — one
      // pass, keyed joins on (dom, gram)/(dom, w1), no per-domain loop
      val refE4: Map[String, Long] = {
        val selfModel = scaled.select(col("dom"), col("gram"),
          (col("p_e6") * lit(10000L)).as("cm"))
        val selfCtx = selfModel
          .select(col("dom"), split(col("gram"), " ").getItem(0).as("w1"),
            col("cm"))
          .groupBy("dom", "w1").agg(sum("cm").as("ctx"))
        dgc.join(selfModel, Seq("dom", "gram"))
          .withColumn("w1", split(col("gram"), " ").getItem(0))
          .join(selfCtx, Seq("dom", "w1"))
          .groupBy("dom")
          .agg(sum(col("c") * costE6(col("cm"), col("ctx"))).as("s"),
            sum("c").as("nb"))
          .collect()
          .map(r => r.getString(0) ->
            math.floor(r.getLong(1) / (r.getLong(2) * 100.0) + 0.5).toLong)
          .toMap
      }

      var w: Map[String, Long] = domains.map(_ -> unifE4).toMap
      val wSum = scala.collection.mutable.Map(
        domains.map(_ -> 0L): _*)
      var lastLoss: Map[String, Long] = Map.empty
      for (_ <- 1 to steps) {
        val wCol = domains.foldLeft(lit(0L)) { case (acc, s) =>
          when(col("dom") === s, lit(w(s))).otherwise(acc)
        }
        val model = scaled
          .select(col("gram"), (wCol * col("p_e6")).as("cm"))
          .groupBy("gram").agg(sum("cm").as("cm"))
        lastLoss = lossesE4(model)
        // Group-DRO multiplicative update in fixed point (floor(x+0.5)
        // at every re-scale — the SQL mirror's exact rule)
        val u = domains.map { d =>
          val excessE4 = math.max(0L, lastLoss(d) - refE4(d))
          val multE6 = math.floor(
            math.exp(etaE4 * excessE4 / 1e8) * 1e6 + 0.5).toLong
          d -> w(d) * multE6
        }.toMap
        val su = u.values.sum
        w = domains.map { d =>
          val normE4 = math.floor(u(d) * 10000.0 / su + 0.5).toLong
          d -> math.floor(((10000L - smoothE4) * normE4 +
            smoothE4 * unifE4) / 10000.0 + 0.5).toLong
        }.toMap
        domains.foreach(d => wSum(d) += w(d))
      }

      val out = domains.map { d =>
        DomainWeight(d, nd(d), refE4(d), lastLoss(d),
          math.floor(wSum(d) / steps.toDouble + 0.5).toLong)
      }
      scaled.unpersist()
      sp.createDataset(out).toDF()
        .select(col("domain"), col("n_bigrams"), col("ref_xent_e4"),
          col("mix_xent_e4"), col("weight_e4"))
    } finally { dgc.unpersist(); () }
  }
}
