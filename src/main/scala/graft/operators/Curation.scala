package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data pipeline: deterministic
  * sampling, sequence-packing preparation, and shard assignment. All are
  * content-hash driven — reproducible across runs, engines, and
  * partitionings (the property that rules out `rand()`-based sampling for
  * dataset curation).
  */
object Curation {

  /** Deterministic keep-predicate at `hexDigits.size`/16 rate from the md5
    * first nibble of `keyCol` — e.g. `Seq("0","1","2")` keeps 3/16.
    * Non-string keys are cast (md5 accepts only string/binary).
    */
  def hashSampleKeep(keyCol: Column, hexDigits: Seq[String]): Column =
    substring(md5(keyCol.cast("string")), 1, 1).isin(hexDigits: _*)

  /** Per-stratum keep-rate audit for ANY keep predicate: total vs kept
    * count and scale-4 fixed-point ratio (the one aggregate shape behind
    * both hash-bucket and weighted sampling — keep the fixed-point
    * representation rule in one place).
    */
  def keepReport(df: DataFrame, stratum: String, keep: Column,
                 keptName: String = "n_kept"): DataFrame =
    df.groupBy(stratum)
      .agg(count(lit(1)).as("n_total"),
        count(when(keep, 1)).as(keptName))
      .withColumn("ratio_e4",
        graft.core.Ops.fixedPoint(col(keptName) * lit(1.0) / col("n_total"), 4))

  /** Per-stratum sampling report: total vs sampled count and ratio. The
    * write path filters on [[hashSampleKeep]]; this audits the rates.
    */
  def stratifiedSampleReport(df: DataFrame, stratum: String, keyCol: Column,
                             hexDigits: Seq[String]): DataFrame =
    keepReport(df, stratum, hashSampleKeep(keyCol, hexDigits), "n_sampled")

  /** Token-length bin (floor to `binWidth`, capped at `cap`) — the
    * histogram behind sequence-packing batch planning.
    */
  def tokenBin(tokens: Column, binWidth: Int = 16, cap: Int = 64): Column =
    least(floor(tokens / binWidth) * binWidth, lit(cap)).cast("long")

  /** Deterministic `numShards`-way shard from the content hash. The writer
    * pairs this with `.repartition(col("shard")).write.partitionBy("shard")`
    * so each training shard lands as one directory, co-written by the tasks
    * that own its hash range.
    */
  def shardAssign(keyCol: Column, numShards: Int = 16): Column = {
    require(numShards == 16,
      "first-nibble sharding is 16-way; compose nibbles for more shards")
    conv(substring(md5(keyCol.cast("string")), 1, 1), 16, 10).cast("int")
  }

  /** Sequence packing (concat-and-chunk): within each shard, documents are
    * laid out in `idCol` order and cut into packs of `budget` tokens; a
    * document's pack is the chunk its START offset falls into —
    * `floor((cumsum − tokens) / budget)`. This is the standard contiguous
    * greedy packing used for LLM pretraining batches. The running sum is a
    * window PARTITIONED BY the shard column (16-way content-hash by
    * default), so no single-partition window exists and packing
    * parallelizes across shards at any corpus size.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
                    shardCol: Column, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shardCol)
      .withColumn("toks", tokensCol.cast("long"))
      .withColumn("pack",
        floor((sum(col("toks")).over(w) - col("toks")) / lit(budget))
          .cast("long"))
  }

  /** Best-fit-decreasing packing — the padding-minimizing alternative to
    * [[packSequences]]'s contiguous greedy cut: within each shard, items
    * sort by (tokens DESC, id ASC) and each goes into the open pack with
    * the SMALLEST residual that still fits (ties → lowest pack index);
    * no fit opens a new pack (an over-budget item gets its own pack, the
    * standard bin-packing convention). BFD is the classic 11/9·OPT+1
    * bound; the greedy cut pays padding whenever a large chunk straddles
    * a budget boundary — measured padding fractions vs greedy: SCALE.md.
    *
    * Scale shape, honestly: bin packing is inherently sequential WITHIN
    * a bin set, so the shard is the parallelism dial — each shard's
    * items (id + token count only, ~24 bytes/row) sort and fold in one
    * task (`flatMapGroups`), shards run fully parallel. Size shards so
    * per-shard item counts stay task-sized (the 16-way content-hash
    * default holds to ~10⁸ items; compose nibbles for more shards).
    * Deterministic: the sort and both tiebreaks are total orders.
    *
    * Output: the input columns plus (shard, toks, pack) —
    * [[packSequences]]'s contract, pack 0-based per shard. `idCol` must
    * be row-unique (the [[packSequences]] caller contract).
    */
  def packSequencesBestFit(df: DataFrame, idCol: String, tokensCol: Column,
                           shardCol: Column, budget: Int): DataFrame = {
    require(budget >= 1, s"packSequencesBestFit: budget ($budget) >= 1")
    val sp = df.sparkSession
    import sp.implicits._
    val withCols = df.withColumn("shard", shardCol)
      .withColumn("toks", tokensCol.cast("long"))
    val asg = withCols
      .select(col("shard").cast("int").as("__s"),
        col(idCol).cast("long").as("__key"), col("toks"))
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val items = it.toArray.sortBy(t => (-t._3, t._2))
        val residuals = scala.collection.mutable.ArrayBuffer.empty[Long]
        items.iterator.map { case (_, key, toks) =>
          var best = -1
          var bestR = Long.MaxValue
          var i = 0
          while (i < residuals.length) {
            val r = residuals(i)
            if (r >= toks && r < bestR) { best = i; bestR = r }
            i += 1
          }
          val pack =
            if (best < 0) { residuals += budget.toLong - toks; residuals.length - 1 }
            else { residuals(best) -= toks; best }
          (key, pack.toLong)
        }
      }
      .toDF("__key", "pack")
    withCols.join(asg, col(idCol).cast("long") === col("__key"))
      .drop("__key")
  }

  /** MATERIALIZE fixed-length training sequences from per-doc token-id
    * arrays — the step after [[graft.operators.Bpe.encodeCorpusGpt2]]
    * that [[packSequences]] only PLANS (pack assignment over counts):
    * docs are laid out in `idCol` order, each terminated by `eosId` (the
    * GPT-2 document separator), and the global token stream is cut into
    * sequences of exactly `seqLen` ids — the final sequence may be
    * short (callers pad or drop it; `n_tokens` says which). Output one
    * row per sequence: (seq_id, ids, n_tokens, n_docs — how many docs
    * contributed at least one token). `idCol` must be row-unique.
    *
    * [[packTokenIdsWithSpans]] without its `spans` column — one kernel.
    */
  def packTokenIds(df: DataFrame, idCol: String, idsCol: String,
                   seqLen: Int, eosId: Int): DataFrame =
    packTokenIdsWithSpans(df, idCol, idsCol, seqLen, eosId).drop("spans")

  /** [[packTokenIds]] plus PER-SEQUENCE DOC-SPAN ATTRIBUTION: a
    * `spans` column — array of (doc_id, start, len) structs ordered by
    * `start` (0-based position within the sequence; `len` counts the
    * doc's tokens landing in THIS sequence, EOS included) — what a real
    * training shard carries for attention masking across document
    * boundaries and for provenance (which docs fed which sequence — the
    * right-to-be-forgotten query [[graft.pipeline.Shards.retract]]
    * serves from). Docs are contiguous in a sequence by the global
    * layout, so `ids` is the concatenation of the sequence's per-doc
    * segments in `start` order.
    *
    * Scale shape: the only global coordination is the per-DOC offset —
    * [[graft.core.Ops.globalExclusivePrefixSum]] over doc COUNTS (range
    * repartition + triangular offsets, no single-partition exchange).
    * The heavy rows are then DOC SEGMENTS, not tokens: each doc row
    * explodes once per sequence it touches, `slice` cuts its piece, and
    * one hash shuffle on seq_id rebuilds every sequence from about
    * (docs + sequences) rows. Corpus-linear — the honest cost of
    * materializing training shards — with nothing driver-side and no
    * skew (a seq_id key holds at most `seqLen` tokens).
    */
  def packTokenIdsWithSpans(df: DataFrame, idCol: String, idsCol: String,
                            seqLen: Int, eosId: Int): DataFrame = {
    require(seqLen >= 1, s"packTokenIds: seqLen ($seqLen) >= 1")
    val withEos = df.select(col(idCol).as("__doc"),
        concat(col(idsCol), array(lit(eosId))).as("__ids"))
      .withColumn("__n", size(col("__ids")).cast("long"))
    val offs = graft.core.Ops.globalExclusivePrefixSum(withEos,
      Seq(col("__doc")), "__n", "__goff")
    val goff = col("__goff")
    val gend = goff + col("__n") // exclusive
    // one segment per sequence the doc touches: global start g0, len
    val segs = offs.select(col("__doc"), explode(transform(
        sequence(floor(goff / seqLen), floor((gend - 1) / seqLen)),
        s => {
          val g0 = greatest(s * seqLen, goff)
          val len = least((s + 1) * seqLen, gend) - g0
          struct(s.as("seq_id"), g0.as("g0"), len.as("len"),
            slice(col("__ids"), (g0 - goff + 1).cast("int"),
              len.cast("int")).as("seg"))
        })).as("__s"))
      .select(col("__doc"), col("__s.*"))
    segs.groupBy("seq_id")
      .agg(array_sort(collect_list(struct(col("g0"), col("__doc"),
        col("len"), col("seg")))).as("__segs"))
      .select(col("seq_id"),
        flatten(transform(col("__segs"), s => s.getField("seg"))).as("ids"),
        transform(col("__segs"), s => struct(
          s.getField("__doc").as("doc_id"),
          (s.getField("g0") - col("seq_id") * seqLen).as("start"),
          s.getField("len").as("len"))).as("spans"),
        aggregate(col("__segs"), lit(0L),
          (acc, s) => acc + s.getField("len")).as("n_tokens"),
        size(col("__segs")).cast("long").as("n_docs"))
  }

  /** [[packTokenIds]] with the full special-token discipline a real
    * pretraining config expects: each doc optionally opens with `bosId`
    * (prepended BEFORE packing, so offsets stay exact), closes with
    * `eosId` (the packTokenIds contract), and the FINAL short sequence
    * pads to exactly `seqLen` with `padId` — every output row is
    * fixed-length. `n_tokens` keeps counting REAL tokens (pre-pad):
    * `seqLen - n_tokens` of the last row is its pad mass, zero
    * everywhere else. Same scale shape as [[packTokenIds]] plus one
    * per-row array append.
    */
  def packTokenIdsPadded(df: DataFrame, idCol: String, idsCol: String,
                         seqLen: Int, eosId: Int, padId: Int,
                         bosId: Option[Int] = None): DataFrame = {
    require(padId != eosId && !bosId.contains(eosId) &&
        !bosId.contains(padId),
      s"packTokenIdsPadded: special ids must be distinct " +
        s"(eos=$eosId, pad=$padId, bos=$bosId)")
    val wrapped = bosId match {
      case None => df.select(col(idCol), col(idsCol))
      case Some(b) => df.select(col(idCol),
        concat(array(lit(b)), col(idsCol)).as(idsCol))
    }
    packTokenIds(wrapped, idCol, idsCol, seqLen, eosId)
      .withColumn("ids", concat(col("ids"),
        array_repeat(lit(padId),
          (lit(seqLen) - size(col("ids"))).cast("int"))))
  }

  /** Word n-grams over a words-array column: `"a b c"`-style space-joined
    * windows of `n` consecutive words; fewer than `n` words, or a null
    * array, yields an empty array (not `[null]`). One native expression
    * ([[graft.functions.WordNgrams]]).
    */
  def wordNgrams(words: Column, n: Int): Column =
    graft.functions.WordNgrams(words, n)

  /** The C4 cleaning heuristics (Raffel et al. 2020 §2.2) — the ingest-
    * time line/page rules every public crawl pipeline applies before the
    * statistical gates (Gopher/classifier/LM score what C4 leaves):
    *
    *   - keep only lines that END in a terminal punctuation mark
    *     (`. ! ? "` after right-trim),
    *   - keep only lines with at least `minLineWords` words (C4 uses 5),
    *   - drop any line containing the word "javascript" (cookie/JS
    *     banners),
    *   - flag the PAGE if it has fewer than `minSentences` sentences
    *     after line cleaning (C4 uses 3; sentences counted as `.!?`
    *     marks in the kept text), contains "lorem ipsum", or contains a
    *     curly brace (code).
    *
    * (C4's dirty-word page filter is a list lookup with no public
    * canonical list — the marker-list mechanism is [[TextStats
    * .profileScore]]; its three-sentence-span dedup is the
    * [[duplicateWindows]] family.) Pure per-row codegen'd column work —
    * no shuffle, no UDF; at 100 TB this is a map over the scan.
    *
    * Returns (idCol, cleaned_text, n_lines_kept, n_lines_dropped,
    * n_sentences, keep): `cleaned_text` is the kept lines re-joined,
    * `keep` the page-level verdict over the cleaned text.
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    graft.core.Ops.widen(docs)
      .withColumn("__kept", c4KeptLines(col(textCol), minLineWords))
      .withColumn("cleaned_text", array_join(col("__kept"), "\n"))
      .withColumn("n_lines_kept", size(col("__kept")).cast("long"))
      .withColumn("n_lines_dropped",
        (size(lines) - size(col("__kept"))).cast("long"))
      .withColumn("n_sentences",
        c4SentenceCount(col("cleaned_text")))
      .withColumn("keep",
        c4PageKeep(col(textCol), col("cleaned_text"), minSentences))
      .select(col(idCol), col("cleaned_text"), col("n_lines_kept"),
        col("n_lines_dropped"), col("n_sentences"), col("keep"))
  }

  /** The line-level half of [[c4Clean]] as a pure column (the form the
    * streaming gate composes): kept lines of `text` in order.
    */
  def c4KeptLines(text: Column, minLineWords: Int = 5): Column =
    filter(split(text, "\n"), l => {
      val r = rtrim(l)
      val words = filter(split(trim(l), " +"), w => w =!= "")
      substring(r, -1, 1).isin(".", "!", "?", "\"") &&
        size(words) >= minLineWords &&
        !contains(lower(l), lit("javascript"))
    })

  /** Sentences = `.!?` marks in the cleaned text (the deterministic
    * stand-in both engines agree on).
    */
  def c4SentenceCount(cleaned: Column): Column =
    (length(cleaned) - length(regexp_replace(cleaned, "[.!?]", "")))
      .cast("long")

  /** The page-level half of [[c4Clean]] as a pure column: sentence floor
    * over the CLEANED text, lorem-ipsum and curly-brace flags over the
    * ORIGINAL text.
    */
  def c4PageKeep(text: Column, cleaned: Column,
                 minSentences: Int = 3): Column =
    c4SentenceCount(cleaned) >= minSentences &&
      !contains(lower(text), lit("lorem ipsum")) &&
      !contains(text, lit("{"))

  /** Benchmark decontamination (the GPT-3/PaLM n-gram-overlap test): flag
    * every corpus document that shares at least one word `n`-gram with the
    * benchmark/eval set, so contaminated documents can be dropped before
    * training. Output: (idCol, n_hits, contaminated) — n_hits = how many
    * DISTINCT benchmark grams the document contains.
    *
    * Scale shape: benchmark gram sets are small by construction (eval
    * suites, not corpora) — `broadcast` them, so the corpus-sized side
    * never shuffles: explode doc grams, hash-join against the broadcast
    * gram set, count per doc, left-join flags back onto the corpus. The
    * hits side is NOT hinted: its cardinality is one row per contaminated
    * doc — corpus-bounded, so forcing a broadcast would collect a
    * corpus-sized table to the driver on a dirty corpus; AQE broadcasts it
    * adaptively when it is actually small. The two-step word projection
    * follows the `Dedup.shingleSets` discipline (lambda-inlining
    * pathology).
    */
  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): label every
    * row `head` / `middle` / `tail` by where its LM score sits in its
    * group's (per-language, per-domain) tercile split — the standard
    * "keep head+middle, drop tail" curation signal, kept as a LABEL so
    * the mixture planner can weigh buckets instead of hard-dropping.
    *
    * Scale shape: thresholds come from [[graft.core.Ops.exactPercentiles]]
    * (range-partitioned exact R-7 — no per-group sort, no per-group value
    * buffer), pivot to ONE row per group, and broadcast back onto the
    * corpus: two bounded shuffles + a broadcast join, nothing corpus-wide
    * ever sorts. Label rule: score ≤ t(1/3) → head, ≤ t(2/3) → middle,
    * else tail (lower perplexity = more fluent = head, the CCNet
    * orientation). Bucket-boundary determinism: thresholds are the exact
    * interpolated doubles both engines derive with the same weighted-sum
    * arithmetic, and scores are fixed-point BIGINTs, so the ≤ compares
    * cannot drift.
    *
    * `unscoredWhen`: rows matching the predicate carry a DEFAULTED score,
    * not a measured one (the KN operators coalesce docs with < 2 words to
    * score 0 — maximally "fluent"). Left in, a mass of such rows both
    * mislabels itself `head` and drags every group's tercile cuts toward
    * 0, pushing genuinely scored docs into worse buckets. With the
    * predicate set, matching rows are EXCLUDED from threshold derivation
    * and labeled `unscored` — the caller decides their fate (keep them by
    * listing "unscored" in the keep set, or drop them with tail).
    */
  def perplexityBuckets(scored: DataFrame, groupCol: String,
                        scoreCol: String,
                        bucketCol: String = "bucket",
                        unscoredWhen: Option[Column] = None): DataFrame =
    perplexityBucketsManaged(scored, groupCol, scoreCol, bucketCol,
      unscoredWhen).df

  /** [[perplexityBuckets]] with the scored frame persisted: it is consumed
    * TWICE by construction (threshold derivation + the label join), and
    * when the scores arrive from an LM pipeline the recompute is a full
    * corpus scoring pass (measured: q119 7.8 s → 4.4 s at sf0.1). The
    * [[graft.core.Managed]] contract — consume, then `close()`; the plain
    * variant keeps the pin (one-shot jobs).
    */
  /** The tercile cut points [[perplexityBuckets]] labels against, as ONE
    * row per group `(groupCol, __t1, __t2)` — exposed so a batch run can
    * train thresholds that a STREAMING gate then applies statelessly
    * (percentiles need the whole population; a stream serves the frozen
    * cuts). Group-count-bounded output.
    */
  def bucketThresholds(scored: DataFrame, groupCol: String,
                       scoreCol: String): DataFrame = {
    // pinned: threshold consumers CACHE downstream (the Curate stage
    // localCheckpoints its output; CurateStream serves frozen cuts) —
    // the exactPercentiles cross-branch hazard (Ops.scala) would
    // otherwise nondeterministically corrupt the tercile cuts
    val th = graft.core.Ops.exactPercentiles(scored, Seq(groupCol), scoreCol,
      Seq(1.0 / 3.0, 2.0 / 3.0), pinned = true)
    th.groupBy(groupCol).agg(
      min(when(col("p") === lit(1.0 / 3.0), col("value"))).as("__t1"),
      min(when(col("p") === lit(2.0 / 3.0), col("value"))).as("__t2"))
  }

  def perplexityBucketsManaged(scored: DataFrame, groupCol: String,
                               scoreCol: String,
                               bucketCol: String = "bucket",
                               unscoredWhen: Option[Column] = None)
      : graft.core.Managed = {
    val sc = scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tercile =
      when(col(scoreCol) <= col("__t1"), lit("head"))
        .when(col(scoreCol) <= col("__t2"), lit("middle"))
        .otherwise(lit("tail"))
    val out = unscoredWhen match {
      case None =>
        sc.join(broadcast(bucketThresholds(sc, groupCol, scoreCol)),
            Seq(groupCol))
          .withColumn(bucketCol, tercile)
          .drop("__t1", "__t2")
      case Some(u) =>
        // thresholds from SCORED rows only; left join so an all-unscored
        // group (no cut row) still labels — its rows all match `u`
        val cut = bucketThresholds(sc.filter(!u), groupCol, scoreCol)
        sc.join(broadcast(cut), Seq(groupCol), "left_outer")
          .withColumn(bucketCol, when(u, lit("unscored")).otherwise(tercile))
          .drop("__t1", "__t2")
    }
    graft.core.Managed(out, Seq(sc))
  }

  /** Composed SemDeDup (Abbas et al. 2023) over raw text: feature-hash
    * embed → IVF-bucketed cosine near-dup pairs → connected components →
    * keep the min-id canonical per component. Output: one row per
    * DROPPED doc, `(idCol, kept_id)` — the keeper it duplicates. The
    * pieces all exist as standalone operators
    * ([[graft.operators.TextStats.hashEmbed]],
    * [[graft.operators.Similarity.ivfNearDupPairs]],
    * [[graft.operators.Dedup.connectedComponents]]); this wires them into
    * the one-call stage a curation funnel plugs in ([[graft.pipeline
    * .Curate]]'s `semDedupThresholdE4`).
    *
    * Centroids are a DETERMINISTIC id-hash sample (md5(id) mod
    * `centroidEvery` == 0 — id-distribution-proof, engine-mirrorable), so
    * the whole composition is exactly reproducible — the q133 oracle
    * replays embed, assignment, verify, and components verbatim. An empty
    * sample (tiny pool) falls back to the min-id doc as single centroid
    * (one cell = exact all-pairs, correct at the only scale that can
    * produce it). Zero-norm vectors (docs hashing to nothing) carry no
    * semantic content and are excluded — they can never be anyone's
    * duplicate.
    *
    * Scale shape: one corpus explode (the embed aggregate), one broadcast
    * assignment pass, one equi-shuffle candidate join inside cells, CC
    * rounds on the (sparse) near-dup edge set — the SemDeDup paper's
    * cluster-then-verify exactly, nothing all-pairs.
    */
  def semDedupVictims(docs: DataFrame, idCol: String, textCol: String,
                      dim: Int = 64, thresholdE4: Long = 9000L,
                      centroidEvery: Int = 25, nassign: Int = 2)
      : DataFrame =
    semDedupVictimsManaged(docs, idCol, textCol, dim, thresholdE4,
      centroidEvery, nassign).df

  def semDedupVictimsManaged(docs: DataFrame, idCol: String, textCol: String,
                             dim: Int = 64, thresholdE4: Long = 9000L,
                             centroidEvery: Int = 25, nassign: Int = 2)
      : graft.core.Managed = {
    // sparse-path embed: value-identical to hashEmbedGather(hashEmbed)
    // but shuffles only non-zero buckets — the dense crossJoin form paid
    // a dim× row amplification on every funnel run
    val m = semDedupVictimsFromVectorsManaged(
      TextStats.hashEmbedVectors(docs, idCol, textCol, dim),
      thresholdE4, centroidEvery, nassign)
    graft.core.Managed(
      m.df.select(col("id").as(idCol), col("kept_id")), m.pinned)
  }

  /** The SemDeDup core over an ARBITRARY embedding column (id, v) — the
    * seam that lets any modality ride the same cluster-then-verify
    * machinery (text hash-trick vectors above, deterministic image
    * block-mean embeddings via [[graft.operators.Multimodal
    * .imageSemDedupVictims]]). Zero-norm vectors are filtered (cosine
    * undefined); victims are (id, kept_id = component min-id canonical).
    */
  def semDedupVictimsFromVectorsManaged(vectors: DataFrame,
                                        thresholdE4: Long = 9000L,
                                        centroidEvery: Int = 25,
                                        nassign: Int = 2)
      : graft.core.Managed = {
    require(thresholdE4 >= 0 && thresholdE4 <= 10000,
      s"semDedup: thresholdE4 ($thresholdE4) must be in [0, 10000]")
    require(centroidEvery >= 1, "semDedup: centroidEvery must be >= 1")
    val emb = vectors
      .filter(expr("aggregate(v, 0D, (a, x) -> a + x * x)") > lit(0.0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = semCentroidSample(emb, centroidEvery)
    val pairsM = Similarity.ivfNearDupPairsManaged(emb, centroids,
      threshold = thresholdE4 / 10000.0, nassign = nassign)
    val compM = Dedup.connectedComponentsManaged(pairsM.df)
    val victims = compM.df.filter(col("id") =!= col("label"))
      .select(col("id"), col("label").as("kept_id"))
    graft.core.Managed(victims, emb +: (pairsM.pinned ++ compM.pinned))
  }

  /** The deterministic centroid rule SemDeDup runs on: every id whose
    * first-8-md5-nibble value is ≡ 0 mod `centroidEvery` — replayable
    * (no k-means state), so an oracle can recompute the exact centroid
    * set, and STABLE under corpus growth (an id's membership never
    * changes). The LAZY empty-sample fallback (the r5 `Ops.widen`
    * stats-only discipline — an eager isEmpty would finalize this
    * sub-plan before AQE): the min-id row joins in ONLY when the sample
    * is empty, via an equi anti join on a constant key against the
    * sample's first row — bounded (1×1) and plan-level.
    */
  private[graft] def semCentroidSample(emb: DataFrame,
                                       centroidEvery: Int): DataFrame = {
    val sampled = emb.filter(
      pmod(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(centroidEvery)) === 0)
    val fallback = emb.orderBy(col("id").asc).limit(1)
      .withColumn("__k", lit(1))
      .join(sampled.select(lit(1).as("__k")).limit(1), Seq("__k"),
        "left_anti")
      .drop("__k")
    sampled.unionByName(fallback)
  }

  // ---- persisted semantic-dedup state (the EMBEDDING index member) ------

  /** Persist a semantic-dedup snapshot — the EMBEDDING member of the
    * index-lifecycle family: an incremental semantic ingest must not
    * re-embed and re-pair the accumulated corpus per batch; each new
    * snapshot assigns ONCE against the STORED centroid set and joins
    * only shared-cell vectors ([[semNearDupAgainstIndex]]).
    *
    * `centroids` is the deterministic [[semCentroidSample]] the caller
    * drew (pinned at bootstrap — assignment must stay frozen between
    * retrains or stored cell ids diverge from serving). Layout:
    * `dir/centroids` (cid, cv — batch-less, the frozen rule),
    * `dir/assigned` (id, v, cid — each vector under its top-`nassign`
    * cells) and `dir/meta` (centroid_every, nassign) partitioned by
    * `batch_id` with meta as COMMIT MARKER (the family contract:
    * retries replace their own partitions; readers see only committed
    * batches). Zero-norm vectors must be excluded by the caller (they
    * can never pair — cosine undefined).
    */
  def writeSemIndex(vectors: DataFrame, centroids: DataFrame, dir: String,
                    centroidEvery: Int = 25, nassign: Int = 2,
                    batchId: String = "base"): Unit = {
    writeCentroids(centroids, dir)
    writeSemParts(vectors, dir, nassign, centroidEvery, pinnedDim = 0,
      overwrite = true, batchId = batchId)
  }

  private def writeCentroids(centroids: DataFrame, dir: String): Unit =
    centroids.select(col("id").as("cid"), col("v").as("cv"))
      .write.mode("overwrite").parquet(s"$dir/centroids")

  /** An index whose batches so far held no nonzero vector stores an
    * EMPTY centroid set: it is unpinned, and the first batch that routes
    * by a drawn set (`centroids`, the sample its within-batch stage
    * used) pins it here, before its [[appendSemVectors]]. A retry of
    * that batch finds the set it drew. No-op once a set is pinned.
    */
  def pinSemCentroids(spark: org.apache.spark.sql.SparkSession,
                      dir: String, centroids: DataFrame): Unit =
    if (spark.read.parquet(s"$dir/centroids").head(1).isEmpty)
      writeCentroids(centroids, dir)

  /** Fold a new batch's vectors into an existing index (append —
    * assignment against the STORED centroids, no old data rewritten).
    * Caller contract: ids disjoint from indexed ids; retries of a
    * FAILED append reuse `batchId`.
    */
  def appendSemVectors(spark: org.apache.spark.sql.SparkSession,
                       dir: String, vectors: DataFrame,
                       batchId: String): Unit = {
    val (ce, na, dim) = readSemMeta(spark, dir)
    writeSemParts(vectors, dir, na, ce, dim, overwrite = false,
      batchId = batchId)
  }

  /** The distinct vector length(s) of a frame — bounded action, the
    * dimension-pinning guard. A dim drift would otherwise DISABLE the
    * gate silently: cosine over mismatched lengths is NULL, topCells
    * sorts NULL last but still assigns, and every pair score fails the
    * threshold filter — zero verdicts, poisoned index.
    */
  private def vectorDim(vectors: DataFrame): Option[Int] = {
    val dims = vectors.select(size(col("v")).as("d")).distinct()
      .limit(3).collect().map(_.getInt(0))
    require(dims.length <= 1,
      s"sem index: mixed vector dimensions in one batch " +
        s"(${dims.sorted.mkString(", ")})")
    dims.headOption
  }

  private def writeSemParts(vectors: DataFrame, dir: String, nassign: Int,
                            centroidEvery: Int, pinnedDim: Int,
                            overwrite: Boolean, batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "sem index")
    val spark = vectors.sparkSession
    val measured = vectorDim(vectors)
    measured.foreach(d => require(pinnedDim <= 0 || d == pinnedDim,
      s"sem index at $dir pins dim $pinnedDim; batch '$batchId' " +
        s"carries dim $d — retrain before changing the embedding"))
    // re-state the pinned dim (or adopt the measured one when the index
    // was created empty) so every committed batch agrees
    val dim = if (pinnedDim > 0) pinnedDim else measured.getOrElse(0)
    val cent = broadcast(spark.read.parquet(s"$dir/centroids"))
    val assigned = Similarity.topCells(
      graft.core.Ops.widen(vectors.select(col("id"), col("v")))
        .join(cent)
        .withColumn("cscore", Similarity.cosine("v", "cv")),
      "id", "v", nassign)
      .select("id", "v", "cid")
    graft.core.BatchTables.write(assigned, s"$dir/assigned", batchId,
      overwrite)
    graft.core.BatchTables.write(semMetaRow(spark, centroidEvery, nassign,
      dim), s"$dir/meta", batchId, overwrite)
  }

  /** One sem meta row: the pinned (centroid_every, nassign, dim). */
  private[graft] def semMetaRow(spark: org.apache.spark.sql.SparkSession,
                                centroidEvery: Int, nassign: Int,
                                dim: Int): DataFrame =
    spark.range(1).select(lit(centroidEvery).as("centroid_every"),
      lit(nassign).as("nassign"), lit(dim).as("dim"))

  /** (centroid_every, nassign, dim); dim 0 = created empty, unpinned
    * until the first non-empty batch adopts one.
    */
  private[graft] def readSemMeta(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): (Int, Int, Int) = {
    val r = graft.core.BatchTables.pinnedMeta(spark, dir,
      Seq("centroid_every", "nassign"), "sem index")
    val dims = spark.read.parquet(s"$dir/meta")
      .select("dim").distinct().collect().map(_.getInt(0)).sorted
    require(dims.length == 1 || (dims.length == 2 && dims.head == 0),
      s"sem index at $dir: inconsistent dims across batches " +
        s"(${dims.mkString(", ")})")
    (r.getInt(0), r.getInt(1), dims.last)
  }

  /** Semantic near-dup pairs of NEW vectors against the indexed corpus:
    * (id_new, id_old, score_e4). The batch assigns ONCE against the
    * stored centroids; the only corpus-sized work is the shared-cell
    * equi join against COMMITTED stored vectors and the exact cosine
    * verify. New×new pairs are deliberately not emitted
    * ([[graft.operators.Similarity.ivfNearDupPairs]] the batch first if
    * needed). `excludeBatch` hides the named committed batch (the
    * increment retry's pre-batch view).
    */
  def semNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             dir: String, newVectors: DataFrame,
                             thresholdE4: Long = 9000L,
                             excludeBatch: Option[String] = None,
                             restrictTo: Option[DataFrame] = None)
      : DataFrame = {
    require(thresholdE4 >= 0 && thresholdE4 <= 10000,
      s"semNearDupAgainstIndex: thresholdE4 ($thresholdE4)")
    val (_, nassign, dim) = readSemMeta(spark, dir)
    if (dim > 0)
      vectorDim(newVectors.select(col("v")))
        .foreach(d => require(d == dim,
          s"semNearDupAgainstIndex: index at $dir pins dim $dim; " +
            s"query batch carries dim $d"))
    // restrictTo: when this index is a SUB-state of a funnel whose
    // authoritative commit marker lives elsewhere (the text increment's
    // minhash meta), intersect with that marker's committed set so a
    // torn increment's sem rows never serve (the r14 torn-kNN lesson)
    val committed0 =
      graft.core.BatchTables.committed(spark, dir, excludeBatch)
    val committed = restrictTo
      .map(r => committed0.join(r.select("batch_id").distinct(),
        Seq("batch_id"), "left_semi"))
      .getOrElse(committed0)
    val cent = broadcast(spark.read.parquet(s"$dir/centroids"))
    val nb = Similarity.topCells(
      graft.core.Ops.widen(newVectors
          .select(col("id").as("id_new"), col("v")))
        .join(cent)
        .withColumn("cscore", Similarity.cosine("v", "cv")),
      "id_new", "v", nassign)
      .select(col("id_new"), col("v").as("vn"), col("cid"))
    val ob = graft.core.BatchTables
      .readCommitted(spark, s"$dir/assigned", committed)
      .select(col("id").as("id_old"), col("v").as("vo"), col("cid"))
    nb.join(ob, Seq("cid"))
      .filter(col("id_new") =!= col("id_old"))
      .withColumn("__raw", Similarity.cosine("vn", "vo"))
      .filter(col("__raw") >= lit(thresholdE4 / 10000.0))
      .select(col("id_new"), col("id_old"),
        Similarity.scoreE4(col("__raw")).as("score_e4"))
      .distinct()
  }

  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 8): DataFrame =
    contaminationFlagsVsGrams(docs, idCol, textCol,
      graft.core.Ops.widen(benchmark)
        .select(Dedup.normalizeWords(col(benchTextCol)).as("__w"))
        .select(explode(wordNgrams(col("__w"), n)).as("gram")), n)

  /** [[contaminationFlags]] against an ALREADY-MATERIALIZED benchmark
    * gram table (one `gram` column — e.g. the persisted
    * `decontam/grams` state family an increment defaults to): same
    * flags, same broadcast shape (eval-gram sets are bounded — the
    * contract the funnel's broadcast join already makes).
    */
  def contaminationFlagsVsGrams(docs: DataFrame, idCol: String,
                                textCol: String, grams: DataFrame,
                                n: Int): DataFrame = {
    val benchGrams = broadcast(grams.select(col("gram")).distinct())
    val docGrams = graft.core.Ops.widen(docs)
      .select(col(idCol), Dedup.normalizeWords(col(textCol)).as("__w"))
      .select(col(idCol), explode_outer(array_distinct(
        wordNgrams(col("__w"), n))).as("gram"))
    val hits = docGrams.join(benchGrams, Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic per-stratum weighted sampling — the source-mixing step
    * of corpus assembly (each source/domain gets its own keep rate, e.g.
    * wiki 2.0x-oversampled vs web 0.3x). The keep decision hashes the
    * content key into a uniform [0, 1) fraction (first 8 md5 nibbles) and
    * keeps the row iff fraction < its stratum's rate: reproducible across
    * runs/engines/partitionings, no `rand()`. Rates outside [0, 1] clamp
    * (>=1 keeps everything). Unknown strata fall back to `defaultRate`.
    * Pure per-row map — no shuffle.
    */
  def weightedSampleKeep(stratum: Column, keyCol: Column,
                         rates: Map[String, Double],
                         defaultRate: Double = 1.0): Column = {
    val frac = conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0) // 16^8
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    frac < rate
  }

  /** Token-budget data-mixing plan — the arithmetic behind a pretraining
    * mixture (the LLaMA-style "domain weights × epochs" table; DoReMi
    * and friends LEARN the weights, this operator EXECUTES a given set):
    * for each domain in a labeled pool, how many tokens are available,
    * how many the target mixture wants out of `budgetTokens`, the epoch
    * count that delivers it, and the shortfall once epochs are capped
    * (low-resource domains repeat at most `maxEpochsE4`/1e4 times — the
    * published practice). The plan REPORTS the deficit rather than
    * silently re-normalizing: re-weighting vs shrinking the budget is
    * the caller's call. `weightsE4` need not sum to 1e4 (normalized by
    * their sum); unlisted domains get weight 0 and show up with their
    * availability — a mixing plan must account for what it excludes.
    *
    * Determinism: desired/planned cross 2^53 at real budgets, so both
    * engines compute the SAME double expressions (products of exact
    * integers, one floor at the end) — identical IEEE results, hash-
    * equal. Scale shape: one hash aggregate over the pool; the plan is
    * domain-cardinality rows. [[weightedSampleKeep]] then executes the
    * plan's rates; [[keepReport]] audits them.
    */
  def mixturePlan(docs: DataFrame, domainCol: String, tokensCol: Column,
                  weightsE4: Map[String, Long], budgetTokens: Long,
                  maxEpochsE4: Long = 40000L): DataFrame = {
    require(weightsE4.values.forall(_ >= 0), "mixturePlan: negative weight")
    val wsum = weightsE4.values.sum
    require(wsum > 0, "mixturePlan: weights sum to zero")
    require(budgetTokens >= 0 && maxEpochsE4 >= 0, "mixturePlan: negative dial")
    val w = weightsE4.foldLeft(lit(0L)) { case (acc, (s, v)) =>
      when(col(domainCol) === s, lit(v)).otherwise(acc)
    }
    graft.core.Ops.widen(docs)
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokensCol.cast("long")).as("avail_tokens"))
      .withColumn("weight_e4",
        floor(w * lit(10000.0) / lit(wsum.toDouble)).cast("long"))
      .withColumn("desired_tokens",
        floor(lit(budgetTokens.toDouble) * w / lit(wsum.toDouble))
          .cast("long"))
      .withColumn("epochs_e4",
        when(col("avail_tokens") <= 0, lit(0L))
          .otherwise(least(lit(maxEpochsE4),
            floor(col("desired_tokens") * lit(10000.0) /
              col("avail_tokens")).cast("long"))))
      .withColumn("planned_tokens",
        floor(col("avail_tokens") * col("epochs_e4") / lit(10000.0))
          .cast("long"))
      .withColumn("deficit",
        col("desired_tokens") - col("planned_tokens"))
  }

  /** Line-level boilerplate removal (the CCNet-style cleanup step):
    * drop every line whose document frequency exceeds `maxLineDocFreq` —
    * navigation text, cookie banners, license footers — and reassemble
    * each document with its remaining lines in original order.
    *
    * Scale shape: lines explode with their position; the hot-line set is
    * the result of a count-aggregate FILTERED to df > cap. That set is
    * usually small, but it is NOT bounded by construction: distinct hot
    * lines grow as total-line-instances / cap — linear in corpus size on a
    * template-heavy crawl — so it is deliberately NOT broadcast-hinted
    * (the [[contaminationFlags]] rule: corpus-bounded sides are left to
    * AQE, which broadcasts adaptively when the runtime size allows and
    * falls back to a shuffle join instead of collecting an unbounded set
    * to the driver). The corpus-sized side shuffles once, on the
    * reassembly groupBy. Reassembly sorts each document's
    * surviving (pos, line) structs — array_sort on a struct orders by the
    * leading pos field — so output order is the input order, not
    * collect_list's arrival order. Every input document appears in the
    * output: a doc whose every line is boilerplate comes back with an
    * EMPTY `cleaned_text` (not silently dropped — a curation step must
    * not change row count).
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        sep: String, maxLineDocFreq: Long): DataFrame = {
    val lines = graft.core.Ops.widen(docs)
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
    val hot = lines.select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxLineDocFreq)
      .select("line")
    val rebuilt = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, line))), e -> e.line)"),
        sep).as("__cleaned"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("__cleaned"), lit("")).as("cleaned_text"))
  }

  /** HTML → text extraction: the step between a crawl's WARC payloads
    * and the text-curation funnel. Drops `<script>`/`<style>` subtrees
    * (their text is code, not prose), strips every remaining tag,
    * decodes the five predefined entities (`&amp;` LAST — so
    * `&amp;lt;` single-unescapes to `&lt;`, not `<`), and collapses
    * runs of whitespace. A pure `regexp_replace` chain — per-row,
    * codegen'd, zero shuffle — oracle-mirrorable because every pattern
    * sticks to the Java∩RE2 common subset: no backreferences (script
    * and style are separate passes), explicit `[ \t\r\n]` class instead
    * of `\s` (Java's `\s` also eats `\x0B`, RE2's does not).
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        regexp_replace(c, java.util.regex.Pattern.quote(from), to) }
    trim(regexp_replace(ent, "[ \\t\\r\\n]+", " "))
  }

  /** The DuckDB rendering of [[htmlToText]] applied to SQL fragment
    * `htmlExpr` — kept adjacent so the chains stay in lockstep.
    */
  def htmlToTextDuckSql(htmlExpr: String): String =
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace($htmlExpr,
       |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |      '(?s)<[^>]*>', ' ', 'g'),
       |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |    '&amp;', '&'),
       |  '[ \t\r\n]+', ' ', 'g'))""".stripMargin

  /** Intra-document line dedup — the WITHIN-doc half of repetition
    * cleanup ([[removeBoilerplate]] is the corpus-wide half): repeated
    * lines inside one document (scraped nav menus, repeated headers,
    * generator loops) collapse to their FIRST occurrence, original order
    * preserved. Scale shape: line explode, first-occurrence as a
    * partial-aggregatable `min(pos)` per (doc, line) hash-partitioned on
    * the doc id, then the order-preserving sort_array reassembly
    * [[removeBoilerplate]] uses. One shuffle, keyed on the doc — per-doc
    * work is bounded by document size at any corpus scale.
    *
    * Output: (idCol, cleaned_text, n_removed) — every input doc appears
    * exactly once; `n_removed` is the number of dropped duplicate lines
    * (0 for already-clean docs), the per-doc signal a curation report
    * aggregates into a repetition-rate funnel stage.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame =
    graft.core.Ops.widen(docs)
      // NULL text folds to "": split(NULL) is NULL and posexplode of NULL
      // emits no rows, which would DROP the document — a curation step
      // must not change row count (the removeBoilerplate contract)
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("pos", "line")))
      .groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("__occ"))
      .groupBy(idCol)
      .agg(
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, line))), e -> e.line)"),
          sep).as("cleaned_text"),
        sum(col("__occ") - 1).as("n_removed"))

  /** Write training shards: one directory per shard under `path`
    * (`shard=N/…`). DESTRUCTIVE by default: `mode` is Overwrite — `path` is
    * replaced wholesale; pass another SaveMode to change that.
    *
    * Parallelism: repartitioning on the shard column alone would cap the
    * write at 16 tasks (one monolithic file per shard) no matter the
    * cluster size, so rows are spread over (shard, salt) — up to
    * `filesPerShard` co-located writer tasks AND output files per shard,
    * which bounds both the small-files count and the single-file size.
    */
  /** Token-bounded document chunking with overlap — the SPLIT side of the
    * sequence-length problem ([[packSequences]] is the concat side): long
    * documents become overlapping windows of at most `maxTokens` words,
    * stride `maxTokens - overlap`, the shape RAG indexing and
    * fixed-context pretraining both consume. Pure per-row explode — no
    * shuffle; chunk count per doc is ceil(len/stride), so output size is
    * corpus-linear with a 1/(1-overlap/maxTokens) expansion factor.
    *
    * Output: (idCol, chunk_id, chunk_text, n_tokens), chunk_id 0-based in
    * document order. Empty/whitespace-only documents yield one empty
    * chunk (n_tokens = 0) rather than disappearing — callers filter, the
    * operator doesn't decide. The words array and the chunk slice are
    * projected as their own attributes (multi-referenced non-cheap
    * aliases — the `Dedup.shingleSets` discipline).
    *
    * Start positions run to `size - overlap`, not `size`: a start beyond
    * that yields ≤ `overlap` words, all inside the previous window — a
    * fully-contained duplicate chunk that would inflate RAG/pretraining
    * corpora. The last retained start still covers every word (its window
    * reaches `size - overlap + maxTokens - 1 ≥ size`).
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"chunkByTokens: need 0 <= overlap ($overlap) < maxTokens ($maxTokens)")
    val stride = maxTokens - overlap
    graft.core.Ops.widen(df)
      .select(col(idCol), Dedup.normalizeWords(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(1),
          greatest(size(col("__w")) - lit(overlap), lit(1)),
          lit(stride))).as(Seq("chunk_id", "__start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("__w"), col("__start"), lit(maxTokens)).as("__c"))
      .select(col(idCol), col("chunk_id"),
        array_join(col("__c"), " ").as("chunk_text"),
        size(col("__c")).cast("long").as("n_tokens"))
  }

  /** C4/CommonCrawl-style URL canonicalization — the dedup KEY for
    * crawl-derived corpora (the same page arrives under tracking-param,
    * fragment, and index.html decorations; URL dedup folds them before
    * any content hashing runs). Steps, all plain regex (oracle-mirrored
    * verbatim, q79): lowercase scheme+authority (path stays
    * case-sensitive), drop the fragment, strip utm_x / gclid / fbclid
    * tracking params (then the dangling `?`/`&`), strip a trailing `/`
    * or `/index.html`. Per-row map, no shuffle; the groupBy on the
    * canonical form is the one hash shuffle any exact dedup pays.
    */
  def canonicalizeUrl(url: Column): Column = {
    val lowered = concat(
      lower(regexp_extract(url, "^([^/?#]*//[^/?#]*)", 1)),
      regexp_replace(url, "^[^/?#]*//[^/?#]*", ""))
    val noFrag = regexp_replace(lowered, "#.*", "")
    // Tracking params are stripped PARAM-WISE: split the query at the
    // first '?', drop params whose NAME matches (anchored), rejoin. Every
    // single-pass regexp_replace form misfires on some edge — unanchored
    // `(utm_…)=` fires mid-name (?xgclid=1), consuming the trailing '&'
    // unanchors a directly-following tracking param, and consuming the
    // leading separator needs an '&'→'?' promotion that corrupts a literal
    // '&' in the path of a query-less URL.
    val qpos = instr(noFrag, "?")
    val path = noFrag.substr(lit(1), qpos - 1)
    val query = noFrag.substr(qpos + 1, length(noFrag))
    val kept = filter(split(query, "&"),
      p => !p.rlike("^(utm_[a-z]+|gclid|fbclid)="))
    val noTrack = when(qpos === 0, noFrag).otherwise(concat(path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit(""))))
    val noDangle = regexp_replace(noTrack, "[?&]$", "")
    regexp_replace(noDangle, "/(index\\.html?)?$", "")
  }

  /** Registrable host of a URL: lowercase authority minus a leading
    * `www.` — the per-domain grouping key for crawl source-mix stats.
    */
  def urlHost(url: Column): Column =
    regexp_replace(
      regexp_extract(lower(url), "^[a-z]+://([^/:?#]+)", 1), "^www\\.", "")

  /** Cross-document SUBSTRING dedup statistics — the token-window form of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022): every length-`w` token window is hashed; a window
    * occurrence is a DUPLICATE iff an occurrence of the same content
    * exists earlier in the corpus order (smaller (doc, pos) — the
    * keep-first rule [[dedupLines]] uses within a doc, here applied
    * across the corpus at token granularity). This catches repeated
    * passages exact doc-dedup and MinHash both miss: boilerplate spans
    * embedded in otherwise-distinct documents.
    *
    * Scale shape: one window explode (corpus-linear: ~one row per token),
    * a partial-aggregatable `min(struct(doc, pos))` per window hash (NO
    * per-hash window sort — a hot window content would make that sort a
    * straggler), an equi join back on the hash (1:N, no blowup), then
    * per-doc span arithmetic under a doc-partitioned window (bounded
    * groups). Two hash shuffles + one join — no all-pairs anywhere.
    *
    * Output, one row per input doc: (idCol, n_windows, n_dup_windows,
    * dup_tokens) where `dup_tokens` is the merged-interval token count
    * covered by duplicate windows — the "how much would substring dedup
    * delete" funnel number.
    */
  def duplicateWindows(docs: DataFrame, idCol: String, textCol: String,
                       w: Int = 50): DataFrame = {
    require(w >= 1, "window must be at least 1 token")
    val sized = graft.core.Ops.widen(docs)
      .select(col(idCol),
        Dedup.normalizeWords(coalesce(col(textCol), lit(""))).as("__ws"))
      .withColumn("nw", greatest(lit(0), size(col("__ws")) - w + 1))
    val wins = sized.filter(col("nw") > 0)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, nw), i -> struct(i AS pos, " +
          s"md5(array_join(slice(__ws, i, $w), ' ')) AS h))")).as("e"))
      .select(col(idCol), col("e.pos").as("pos"), col("e.h").as("h"))
    // canonical occurrence per content = min (doc, pos); partial-agg min,
    // then a 1:N join back — every other occurrence is a duplicate
    val canon = wins.groupBy("h")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("c"))
    val dup = wins.join(canon, Seq("h"))
      .filter(col("c.d") =!= col(idCol) || col("c.p") =!= col("pos"))
      .select(col(idCol), col("pos"))
    // merged-interval coverage without materializing intervals: a window
    // [pos, pos+w) adds the tokens past the running max end of everything
    // before it (islands arithmetic — identical formula on the oracle)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val stats = dup
      .withColumn("__pe", max(col("pos") + w).over(byDoc))
      .withColumn("__cov", greatest(lit(0),
        col("pos") + w - greatest(col("pos"), coalesce(col("__pe"), lit(0)))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_windows"), sum("__cov").as("dup_tokens"))
    sized.select(col(idCol), col("nw").cast("long").as("n_windows"))
      .join(stats, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"))
  }

  /** Multi-scale composition of [[duplicateWindows]] — the cheap
    * approximation of Lee et al. 2022's any-length suffix-array repeats
    * that a single fixed w cannot give: duplicate windows at EVERY
    * w ∈ `ws` (one corpus scan emits all scales; per-scale hashes can
    * never collide across scales — the hashed strings differ in length),
    * one canonical-occurrence pass per content, then ONE merged-interval
    * coverage over the union of the scales' intervals (the same islands
    * arithmetic, variable lengths). The small scale bounds repeat
    * boundaries at its granularity and catches short repeats a large w
    * misses entirely; the large scales keep precision on long passages
    * (an 8-token window repeats naturally in prose, a 128-token one does
    * not) — `n_dup_windows` counts across scales, so scale mix is the
    * precision dial. Output and plan shape identical to the single-w
    * form: (idCol, n_windows, n_dup_windows, dup_tokens) with
    * `n_windows` summed across scales; corpus-linear × |ws|.
    */
  def duplicateWindowsMulti(docs: DataFrame, idCol: String, textCol: String,
                            ws: Seq[Int] = Seq(8, 32, 128)): DataFrame = {
    require(ws.nonEmpty && ws.forall(_ >= 1) && ws.distinct.size == ws.size,
      s"duplicateWindowsMulti: scales $ws must be distinct and >= 1")
    val sized = multiSized(docs, idCol, textCol, ws)
    val wins = multiWins(sized, idCol, ws)
    val canon = wins.groupBy("h")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("c"))
    val dup = wins.join(canon, Seq("h"))
      .filter(col("c.d") =!= col(idCol) || col("c.p") =!= col("pos"))
      .select(col(idCol), col("pos"), col("len"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos", "len")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val stats = dup
      .withColumn("__pe", max(col("pos") + col("len")).over(byDoc))
      .withColumn("__cov", greatest(lit(0),
        col("pos") + col("len") -
          greatest(col("pos"), coalesce(col("__pe"), lit(0)))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_windows"), sum("__cov").as("dup_tokens"))
    sized.select(col(idCol), col("nw").cast("long").as("n_windows"))
      .join(stats, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"))
  }

  private def multiSized(docs: DataFrame, idCol: String, textCol: String,
                         ws: Seq[Int]): DataFrame =
    graft.core.Ops.widen(docs)
      .select(col(idCol),
        Dedup.normalizeWords(coalesce(col(textCol), lit(""))).as("__ws"))
      .withColumn("nw", ws.map(w =>
        greatest(lit(0), size(col("__ws")) - w + 1)).reduce(_ + _))

  private def multiWins(sized: DataFrame, idCol: String,
                        ws: Seq[Int]): DataFrame = {
    // IF guard per scale: sequence(1, n) with n <= 0 generates a
    // DESCENDING [1, 0] — the guard, not a filter, keeps short docs out
    val winArrays = ws.map(w => expr(
      s"IF(size(__ws) >= $w, transform(sequence(1, size(__ws) - $w + 1), " +
        s"i -> struct(i AS pos, $w AS len, " +
        s"md5(array_join(slice(__ws, i, $w), ' ')) AS h)), " +
        "CAST(array() AS array<struct<pos:int,len:int,h:string>>))"))
    sized.select(col(idCol), explode(flatten(array(winArrays: _*))).as("e"))
      .select(col(idCol), col("e.pos").as("pos"), col("e.len").as("len"),
        col("e.h").as("h"))
  }

  /** The cleaner for [[duplicateWindowsMulti]]: drop every token covered
    * by a duplicate window at ANY scale (canonical occurrences stay),
    * rebuild the normalized token stream. Same one-pass contract as
    * [[removeDuplicateSpans]]; ExtOperatorsSpec pins idempotence on the
    * planted fixture (a second pass removes nothing).
    */
  def removeDuplicateSpansMulti(docs: DataFrame, idCol: String,
                                textCol: String,
                                ws: Seq[Int] = Seq(8, 32, 128)): DataFrame = {
    require(ws.nonEmpty && ws.forall(_ >= 1) && ws.distinct.size == ws.size,
      s"removeDuplicateSpansMulti: scales $ws must be distinct and >= 1")
    val sized = multiSized(docs, idCol, textCol, ws)
    val wins = multiWins(sized, idCol, ws)
    val canon = wins.groupBy("h")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("c"))
    val dupSpans = wins.join(canon, Seq("h"))
      .filter(col("c.d") =!= col(idCol) || col("c.p") =!= col("pos"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("pos"), col("len"))))
        .as("__ps"))
    sized.join(dupSpans, Seq(idCol), "left_outer")
      .withColumn("__ps", coalesce(col("__ps"),
        expr("CAST(array() AS array<struct<pos:int,len:int>>)")))
      .withColumn("__kept", expr(
        "filter(transform(__ws, (t, i) -> struct(t AS t, i + 1 AS i)), " +
          "s -> NOT exists(__ps, p -> s.i >= p.pos AND s.i < p.pos + p.len))"))
      .select(col(idCol),
        expr("array_join(transform(__kept, s -> s.t), ' ')")
          .as("cleaned_text"),
        (size(col("__ws")) - size(col("__kept"))).cast("long")
          .as("n_removed_tokens"))
  }

  /** The CLEANER for [[duplicateWindows]]: drop every token covered by a
    * duplicate window (canonical occurrences stay — corpus keeps exactly
    * one copy of each repeated passage), rebuild the text from the
    * survivors in order. Same plan skeleton as the stats form plus one
    * per-doc position-set membership pass (`exists` over the doc's own
    * duplicate positions — bounded by doc size). Every input doc appears
    * exactly once: (idCol, cleaned_text, n_removed_tokens). The output
    * text is the NORMALIZED token stream (case/punctuation do not
    * survive — the operator's domain is token-level dedup).
    *
    * ONE pass, not a fixpoint: removing a span can juxtapose its
    * neighbors into a NEW window that happens to duplicate other text
    * (corpus-dependent; rare outside adversarial construction). A
    * pipeline that must guarantee zero remaining duplicate windows
    * iterates until [[duplicateWindows]] reports none — in practice one
    * pass removes the overwhelming mass (the Lee et al. setting).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           w: Int = 50): DataFrame =
    removeDuplicateSpansImpl(docs, idCol, textCol, w, claims = None)

  /** [[removeDuplicateSpans]] with an EXTERNAL claim set — the
    * incremental form: `claims` is a one-column (`h`) frame of window
    * hashes the accumulated corpus already owns (see
    * [[graft.pipeline.Increment]]'s `windows` state table). Every batch
    * occurrence of a claimed window is a duplicate span (state always
    * outranks the batch — there is no canonical survivor inside the
    * batch for content the corpus already holds); among the remaining
    * windows the within-batch min-(doc, pos) canonical rule applies
    * unchanged, so with an EMPTY claim set this is exactly
    * [[removeDuplicateSpans]] (the stage-parity contract).
    */
  def removeDuplicateSpansVsClaims(docs: DataFrame, idCol: String,
                                   textCol: String, w: Int,
                                   claims: DataFrame): DataFrame =
    removeDuplicateSpansImpl(docs, idCol, textCol, w, Some(claims))

  private def removeDuplicateSpansImpl(docs: DataFrame, idCol: String,
                                       textCol: String, w: Int,
                                       claims: Option[DataFrame])
      : DataFrame = {
    require(w >= 1, "window must be at least 1 token")
    val sized = graft.core.Ops.widen(docs)
      .select(col(idCol),
        Dedup.normalizeWords(coalesce(col(textCol), lit(""))).as("__ws"))
      .withColumn("nw", greatest(lit(0), size(col("__ws")) - w + 1))
    val wins = sized.filter(col("nw") > 0)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, nw), i -> struct(i AS pos, " +
          s"md5(array_join(slice(__ws, i, $w), ' ')) AS h))")).as("e"))
      .select(col(idCol), col("e.pos").as("pos"), col("e.h").as("h"))
    val canon = wins.groupBy("h")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("c"))
    val withinDup = wins.join(canon, Seq("h"))
      .filter(col("c.d") =!= col(idCol) || col("c.p") =!= col("pos"))
      .select(col(idCol), col("pos"))
    val dup = claims match {
      case None => withinDup
      case Some(c) =>
        // claimed-by-state occurrences: EVERY batch occurrence is a
        // duplicate, canonical or not — union then distinct (a window
        // can be both state-claimed and within-batch non-canonical)
        withinDup.unionByName(
            wins.join(c.select(col("h")), Seq("h"), "left_semi")
              .select(col(idCol), col("pos")))
          .distinct()
    }
    val dupStarts = dup
      .groupBy(idCol).agg(sort_array(collect_list(col("pos"))).as("__ps"))
    sized.join(dupStarts, Seq(idCol), "left_outer")
      .withColumn("__ps", coalesce(col("__ps"), expr("array()")))
      .withColumn("__kept", expr(
        s"filter(transform(__ws, (t, i) -> struct(t AS t, i + 1 AS i)), " +
          s"s -> NOT exists(__ps, p -> s.i >= p AND s.i < p + $w))"))
      .select(col(idCol),
        expr("array_join(transform(__kept, s -> s.t), ' ')")
          .as("cleaned_text"),
        (size(col("__ws")) - size(col("__kept"))).cast("long")
          .as("n_removed_tokens"))
  }

  /** The distinct `w`-token window hashes of `docs`, per claiming doc —
    * the claim rows an incremental corpus persists so later batches can
    * dedup passages against accumulated content without re-scanning it
    * ([[removeDuplicateSpansVsClaims]]'s `claims` side). Same
    * normalization and hash as [[duplicateWindows]], so a claim matches
    * exactly the windows that operator would pair. The claiming `id` is
    * kept (serving only reads `h`) so a retraction can remove exactly
    * the victim's claims — content also claimed by a surviving doc
    * keeps serving, the correct right-to-be-forgotten semantics.
    * Columns: (id, h), distinct.
    */
  def windowClaims(docs: DataFrame, idCol: String, textCol: String,
                   w: Int): DataFrame = {
    require(w >= 1, "window must be at least 1 token")
    graft.core.Ops.widen(docs)
      .select(col(idCol).cast("long").as("id"),
        Dedup.normalizeWords(coalesce(col(textCol), lit(""))).as("__ws"))
      .withColumn("nw", greatest(lit(0), size(col("__ws")) - w + 1))
      .filter(col("nw") > 0)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, nw), i -> " +
          s"md5(array_join(slice(__ws, i, $w), ' ')))")).as("h"))
      .distinct()
  }

  /** Deterministic per-epoch global shuffle order for training reads.
    * A data loader wants every epoch to visit the corpus in a fresh
    * pseudorandom permutation WITHOUT materializing shuffled copies:
    * this keys each row by `md5(seed:epoch:id)` and assigns
    *
    *  - `epoch_pos`  — the row's 0-based position in the epoch's global
    *    permutation (total order: hash key, then `id` — md5 ties cannot
    *    reorder runs across engines), via the range-partitioned
    *    [[graft.core.Ops.globalRank]] (no single-partition window);
    *  - `read_shard` — `epoch_pos % numReadShards`, the
    *    DistributedSampler discipline: reader r streams the rows with
    *    position ≡ r, in position order, so the union over readers is
    *    exactly the global permutation and every reader's stream is
    *    itself an unbiased sample. Count-free (no job to size blocks).
    *
    * Same (seed, epoch, id) ⇒ same order on any cluster size — resuming
    * a crashed epoch mid-way is a filter on `epoch_pos`, not a replay
    * of nondeterministic state. The md5 arithmetic is the repo-wide
    * oracle-mirrorable convention (q58); DuckDB recomputes the whole
    * permutation.
    */
  def epochShuffle(df: DataFrame, idCol: Column, epoch: Int,
                   numReadShards: Int = 16,
                   seed: String = "graft"): DataFrame = {
    require(epoch >= 0, s"epochShuffle: epoch ($epoch) must be >= 0")
    require(numReadShards >= 1,
      s"epochShuffle: numReadShards ($numReadShards) must be positive")
    require(!df.columns.exists(Set("epoch", "epoch_pos", "read_shard")),
      "epochShuffle: input already has an epoch/epoch_pos/read_shard " +
        "column; rename it first")
    val keyed = graft.core.Ops.widen(df).withColumn("__ek",
      md5(concat_ws(":", lit(seed), lit(epoch.toString),
        idCol.cast("string"))))
    graft.core.Ops.globalRank(keyed,
        Seq(col("__ek"), idCol.cast("string")), "__rk")
      .withColumn("epoch", lit(epoch))
      .withColumn("epoch_pos", col("__rk") - 1L)
      .withColumn("read_shard",
        pmod(col("epoch_pos"), lit(numReadShards.toLong)).cast("int"))
      .drop("__ek", "__rk")
  }

  def writeShards(df: DataFrame, keyCol: Column, path: String,
                  filesPerShard: Int = 8,
                  mode: String = "overwrite"): Unit = {
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column; rename it before writeShards")
    df.withColumn("shard", shardAssign(keyCol))
      .withColumn("__salt", pmod(xxhash64(keyCol.cast("string")), lit(filesPerShard)))
      .repartition(col("shard"), col("__salt"))
      .drop("__salt")
      .write.mode(mode).partitionBy("shard").parquet(path)
  }
}
