package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.BatchTables
import graft.operators.{Curation, Dedup, Multimodal, TextStats}
import graft.operators.Multimodal.MediaRecord

/** Configuration for [[Increment.curateIncrement]] — the gate dials
  * shared with the batch funnel ([[CurateConfig]]) and the streaming
  * gate ([[graft.streaming.CurateStream.GateConfig]]): one definition
  * of each stage, three execution shapes.
  */
case class IncrementConfig(
    c4Clean: Boolean = false,
    minQualityE4: Long = 4000,
    keepLangs: Set[String] = Set("alpha", "beta", "gamma"),
    repetition: Option[TextStats.RepetitionConfig] = None,
    nearDupThresholdE4: Long = 8000,
    // banding for a state the FIRST increment creates; existing state
    // pins its own banding (read from the index meta, mismatch is loud
    // there)
    bands: Int = 4, rowsPerBand: Int = 3,
    // optional SEMANTIC stage (the batch funnel's sem_dup gate, against
    // accumulated state): hash-trick embed at `semDim`, SemDeDup vs the
    // sem sub-state then within batch; admitted vectors append. The sem
    // sub-state's reads are restricted to MINHASH-committed batches (the
    // increment's one authoritative marker), so a torn increment's sem
    // rows never serve.
    // ENABLE-FROM-BATCH-N semantics: turning this on for a state with
    // prior committed batches bootstraps the sem sub-state EMPTY from
    // the current batch forward — docs admitted before enablement do
    // not participate in semantic dedup (they were never embedded).
    // For retroactive coverage run [[Increment.semBackfill]] first: it
    // embeds every already-admitted doc and seeds the sub-state under
    // batch "base" before the next increment appends.
    // When the sub-state EXISTS, its pinned (centroid_every, nassign)
    // override the cfg dials below and a semDim mismatch is loud.
    semDedupThresholdE4: Option[Long] = None,
    semDim: Int = 64, semCentroidEvery: Int = 25, semNassign: Int = 2,
    // optional SUBSTRING-DEDUP stage (the batch funnel's window_dedup
    // gate, against accumulated state): every w-token window of the
    // batch is hashed; windows the accumulated corpus already CLAIMS
    // (the `windows` state table, minhash-committed batches only) are
    // removed as duplicate spans, then the within-batch canonical rule
    // applies ([[graft.operators.Curation.removeDuplicateSpansVsClaims]]).
    // Docs are REWRITTEN, not rejected — the cleaned text flows into
    // exact/minhash/sem, and admitted docs' final-text windows append
    // as new claims under this batch id. Runs BEFORE exact dedup, the
    // funnel's stage order.
    dedupWindowsW: Option[Int] = None,
    // language gate from an EXTERNAL char-n-gram artifact (the batch
    // funnel's langIdModel, same swap semantics)
    langIdModel: Option[graft.operators.TextStats.LangIdModel] = None,
    // per-row Gopher quality rules — folded into the quality stage
    // exactly like the funnel (one "quality" reject reason, the words
    // array computed once)
    gopherRules: Option[graft.operators.TextStats.GopherConfig] = None,
    // fastText-style classifier gate threshold (e6 P(keep)); active
    // only when curateIncrement is given classifierModel
    minClassifierPE6: Long = 500000L,
    // external ARPA/KenLM reference-perplexity bound; active only when
    // curateIncrement is given arpaModel. The funnel's POOL-RELATIVE
    // gates (self-trained LM bound, CCNet ppl buckets, DSIR selection)
    // are deliberately NOT increment stages: a small batch cannot
    // self-train a meaningful model, and batch-relative terciles drift
    // with every increment — run those in the periodic full re-curation
    // instead; external-model gates (this one, the classifier, langid)
    // judge each doc identically at any batch size.
    maxArpaE4: Option[Long] = None,
    // intra-doc line dedup (the funnel's rewrite stage — docs are
    // cleaned, never rejected)
    dedupLinesWithinDocs: Boolean = false,
    // benchmark-decontamination gram size; active only when
    // curateIncrement is given a benchmark frame (the funnel's terminal
    // gate, same position: after every dedup stage, before admission)
    decontamGramN: Int = 8)

/** `ledger` — one [[graft.streaming.CurateStream.GateVerdict]]-shaped
  * row PER BATCH DOC (id, admitted, reason, dup_of); `admitted` — the
  * batch docs that entered the accumulated state this increment;
  * `stageCounts` — the funnel report, derivable from the ledger.
  */
case class IncrementResult(ledger: DataFrame, admitted: DataFrame,
                           stageCounts: Seq[(String, Long)])

/** Incremental batch curation against PERSISTED state — the deployment
  * shape every recurring 100 TB ingest actually runs (VERDICT r14 #1):
  * a NEW SNAPSHOT batch is curated against the ACCUMULATED corpus
  * state, admitting only genuinely-new documents, and the admitted set
  * is appended to every index under one batch id. The batch funnel
  * ([[Curate.run]]) curates one corpus-global pool; the streaming gate
  * ([[graft.streaming.CurateStream.gate]]) covers continuous per-doc
  * ingest; this is the third shape — batch-sized work, corpus-sized
  * memory, same verdict vocabulary.
  *
  * State layout under `stateDir`:
  *  - `minhash/` — the [[Dedup.writeMinhashIndex]] snapshot index
  *    (bands + shingles + per-batch meta commit markers);
  *  - `exact/keys` — (key = md5(text), id) of every ADMITTED doc,
  *    batch_id-partitioned (the exact-dedup key ledger);
  *  - `ledger/` — the per-batch verdict rows, batch_id-partitioned
  *    (the corpus accounting a production ingest owes);
  *  - `metrics/` — one (batch_id, stage, rows) row per funnel stage
  *    per increment: repeated increments build the funnel-rate time
  *    series maintenance decisions can read.
  *
  * Crash/retry contract (the index-family discipline): every state
  * table partitions by batch_id with dynamic overwrite; the MINHASH
  * META partition commits LAST and is the increment's commit marker —
  * `exact/keys`, `ledger/`, and `metrics/` reads semi-join the minhash
  * committed set, so a torn increment is invisible until its marker
  * lands. A retry MUST reuse the batch id: every against-state read
  * excludes the batch's own partitions (the pre-batch view), so the
  * retry recomputes identical verdicts and replaces its partitions
  * bit-identically.
  *
  * Scale shape: per increment, cost is O(batch) hashing/shingling plus
  * equi joins against the state's band/shingle/key tables — the old
  * corpus is read-never re-hashed-never (only its band keys and the
  * candidate-matched shingle sets move, the [[Dedup.nearDupAgainstIndex]]
  * argument). Nothing all-pairs, no driver state beyond counts.
  *
  * Funnel semantics (stream-gate order, verdict-for-verdict parity
  * spec-pinned): c4 → quality/lang → repetition → exact dedup
  * (against state first — dup_of is the stored key's canonical — then
  * within-batch min-id) → MinHash near-dup (against state first —
  * dup_of is the smallest matching old id, the stream's min-parent
  * rule — then within-batch components with min-id canonicals).
  * Rejected docs never enter state (the stream invariant).
  *
  * One skeleton, five families. A state root belongs to ONE family,
  * named by its `_family` sentinel (the sub-index whose meta is the
  * commit marker: `minhash`, `phash`, `audio`, `video` or `sem`); an
  * increment or seed of any other family refuses the root. The
  * families are the entries of the one family table
  * [[Maintain.MarkerFamilies]], which also drives maintenance: each
  * state layout (heavy tables, verbatim copies, the compacted marker's
  * restated meta) derives from its entry, and every state table reads
  * and writes through the shared batch-partitioned contract
  * ([[graft.core.BatchTables]]). The image,
  * audio, video and embedding increments are thin bindings of a
  * private `MediaFamily` value built from their config — decode, the
  * near-dup join against committed state, the within-batch edges, the
  * embedding and the index writers — and ONE driver runs any of them:
  * decode → exact dedup (state, then batch) → near-dup vs state →
  * within-batch components → optional semantic stage → commit. The
  * text increment keeps its stateless gates and MinHash funnel but
  * shares the rest with the driver: the prologue (batch-id validation,
  * folded-batch guard, family claim), the ledger builder (one verdict
  * row per batch doc, checked loudly), the semantic stage and the
  * commit sequence (keys → ledger → metrics → sem sub-state → family
  * index, whose meta is the marker, LAST).
  */
object Increment {

  /** A small sentinel file at a state root, read to EOF — a single
    * read() may return short on remote filesystems, which would
    * truncate a family name and make the marker path silently miss.
    * None when absent.
    */
  private def readRootFile(spark: SparkSession, stateDir: String,
                           name: String): Option[String] = {
    val f = BatchTables.fs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/$name")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  private def writeRootFile(spark: SparkSession, stateDir: String,
                            name: String, content: String): Unit = {
    val out = BatchTables.fs(spark, stateDir).create(
      new org.apache.hadoop.fs.Path(s"$stateDir/$name"), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Claim `stateDir` for `family` — which sub-index's meta is the
    * increment's authoritative commit marker — BEFORE any state write.
    * The root's one-word `_family` sentinel must be absent (a fresh or
    * pre-sentinel root, which this call then stamps) or name `family`
    * already. Stamping first makes even the earliest torn bootstrap
    * attributable: without it, a text increment that died between its
    * sem sub-state write and its minhash marker would be mistaken for a
    * committed standalone embedding state by the marker-discovery
    * fallback, and its torn ledger would read as committed. A root
    * another family owns is refused: every family writes the same
    * `ledger`, `exact/keys` and `metrics` paths, so a second family's
    * dynamic-overwrite commit would replace the owner's committed
    * partitions for the same batch id.
    */
  private def claimFamily(spark: SparkSession, stateDir: String,
                          family: String, caller: String): Unit = {
    val owner = stateFamily(spark, stateDir)
    require(owner.forall(_ == family),
      s"$caller: state root $stateDir belongs to the " +
        s"'${owner.getOrElse("")}' family, not '$family'")
    if (owner.isEmpty) writeRootFile(spark, stateDir, "_family", family)
  }

  /** The `_family` sentinel at an increment state root (None for any
    * other directory, e.g. a versioned warehouse db). Present ⇒ the
    * root is a FUNNEL state whose sub-indexes are owned by the
    * increment's commit protocol — [[Maintain.decideAll]] marks
    * decisions under such a root advisory-only.
    */
  def stateFamily(spark: SparkSession, stateDir: String): Option[String] =
    readRootFile(spark, stateDir, "_family").map(_.trim)

  /** Batch ids whose state rows were folded under `base` by
    * [[compactStateTo]] — a one-id-per-line `_folded` sentinel at the
    * state root. A retry of a folded batch id is UNSUPPORTED: its own
    * rows now live under `base`, so the excludeBatch pre-batch view
    * cannot hide them and the rerun would mark the whole batch a dup of
    * itself and stomp its committed ledger partition (ADVICE r16). The
    * entry points read this set and refuse such retries loudly; retries
    * against a non-compacted state keep the documented contract.
    */
  private def readFoldedSentinel(spark: SparkSession,
                                 stateDir: String): Set[String] =
    readRootFile(spark, stateDir, "_folded").fold(Set.empty[String])(
      _.linesIterator.map(_.trim).filter(_.nonEmpty).toSet)

  private def requireBatchNotFolded(spark: SparkSession, stateDir: String,
                                    batchId: String,
                                    caller: String): Unit =
    require(!readFoldedSentinel(spark, stateDir).contains(batchId),
      s"$caller: batch id '$batchId' was compacted into the 'base' " +
        s"partition of $stateDir — committed-batch retries are " +
        "unsupported against a compacted state (rerun under a NEW " +
        "batch id, or retry against the pre-compaction root)")

  private def markerExists(spark: SparkSession, stateDir: String,
                           marker: String): Boolean =
    BatchTables.exists(spark, s"$stateDir/$marker/meta")

  /** State exists iff the minhash index has a meta commit marker. */
  def stateExists(spark: SparkSession, stateDir: String): Boolean =
    markerExists(spark, stateDir, TextLayout.marker)

  /** One state family's on-disk shape, from its entry in the one
    * family table ([[Maintain.MarkerFamilies]]): the sub-index whose
    * meta is the commit marker, the heavy batch_id-partitioned tables
    * it accumulates one partition per increment in (besides the shared
    * `exact/keys`; text adds its `windows` claims) — the compaction fold
    * targets — and the trees compaction copies VERBATIM besides the
    * audit tables (`ledger`, `metrics`, which keep their batch ids) and
    * `decontam/` (the benchmark family owns its OWN meta marker and its
    * batch ids are eval-set registrations, not increments — folding
    * them would destroy the per-benchmark retraction provenance). A
    * funnel family's `sem/` SUB-state copies whole: its own meta ∩ the
    * marker's committed set governs serving, and both survive because
    * the compacted marker keeps every original batch id; an embedding
    * root folds its `sem/assigned` and copies its frozen centroid
    * table.
    */
  private case class StateLayout(family: Maintain.MarkerFamily,
                                 own: Seq[String]) {
    def marker: String = family.name
    def heavy: Seq[String] = own ++ family.tables.map(t => s"$marker/$t")
    def verbatim: Seq[String] =
      if (family.frozen.nonEmpty) family.frozen.map(t => s"$marker/$t")
      else Seq("sem")
  }

  /** Every family, in the legacy (pre-sentinel) marker-discovery order. */
  private val Layouts = Maintain.MarkerFamilies.map(f =>
    StateLayout(f, if (f.name == "minhash") Seq("windows") else Nil))
  private def layout(marker: String) = Layouts.find(_.marker == marker).get
  private val TextLayout = layout("minhash")
  private val ImageLayout = layout("phash")
  private val AudioLayout = layout("audio")
  private val VideoLayout = layout("video")
  private val EmbeddingLayout = layout("sem")

  /** Seed the state from an ALREADY-CURATED corpus (e.g. the admitted
    * output of a [[Curate.run]] over the historical pool): exact keys +
    * minhash index under batch id "base". The caller asserts the corpus
    * is internally deduplicated — seeding does not re-curate.
    */
  def initStateFromCurated(spark: SparkSession, stateDir: String,
                           curated: DataFrame, idCol: String,
                           textCol: String, bands: Int = 4,
                           rowsPerBand: Int = 3,
                           claimsW: Option[Int] = None): Unit = {
    require(!stateExists(spark, stateDir),
      s"initStateFromCurated: state already exists at $stateDir")
    claimFamily(spark, stateDir, TextLayout.marker, "initStateFromCurated")
    val docs = textCorpus(curated, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      writeExactKeyRows(docs.select(md5(col("text")).as("key"), col("id")),
        stateDir, "base")
      // seed window claims when the state will run the substring-dedup
      // stage — without them, passages of the seeded corpus would be
      // invisible to cfg.dedupWindowsW until re-claimed by an increment
      for (w <- claimsW)
        BatchTables.write(Curation.windowClaims(docs, "id", "text", w),
          s"$stateDir/windows", "base")
      Dedup.writeMinhashParts(docs, "id", "text", s"$stateDir/minhash",
        bands, rowsPerBand, overwrite = true, batchId = "base")
    } finally docs.unpersist()
  }

  /** A caller's text corpus as (id: long, text). */
  private def textCorpus(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    graft.core.Ops.widen(df)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))

  private def writeExactKeyRows(keys: DataFrame, stateDir: String,
                                batchId: String): Unit =
    BatchTables.write(keys.select(col("key"), col("id")),
      s"$stateDir/exact/keys", batchId)

  /** Every family's heavy data tables, relative to a state root —
    * absent paths contribute nothing, so one list serves text AND the
    * modality increments. [[retract]] sweeps this list and
    * [[stateHeavyBytes]] sizes it.
    */
  val StateHeavyTables: Seq[String] =
    "exact/keys" +: Layouts.flatMap(_.heavy)

  /** Committed heavy-table bytes under `stateDir` — one bounded
    * `getContentSummary` walk over [[StateHeavyTables]], no Spark
    * job.
    */
  def stateHeavyBytes(spark: SparkSession, stateDir: String): Long = {
    val f = BatchTables.fs(spark, stateDir)
    StateHeavyTables
      .map(rel => new org.apache.hadoop.fs.Path(s"$stateDir/$rel"))
      .filter(f.exists)
      .map(p => f.getContentSummary(p).getLength)
      .sum
  }

  /** Exact dedup of a keyed pool (id, __md5, …): against the committed
    * keys of the family whose marker is `marker` first, then within the
    * batch (min id per key). Returns the survivors, checkpointed, with
    * the pool's columns. The state side reads committed batches only
    * (keys commit before the marker, so a torn increment's keys never
    * read) minus the batch's own partitions. State keys canonicalize to
    * min(id): under the contract a key is admitted once ever, so this is
    * a no-op — it pins ONE dup_of per key even if a seeded corpus
    * violated the curated-input contract.
    */
  private def exactDedup(led: LedgerBuilder, run: Run, marker: String,
                         pool: DataFrame): DataFrame = {
    val afterState =
      if (!run.haveState) pool
      else {
        val stateKeys = BatchTables.readCommitted(run.spark,
            run.path("exact/keys"), BatchTables.committed(run.spark,
              run.path(marker), Some(run.batchId)))
          .groupBy(col("key").as("__md5"))
          .agg(min(col("id")).as("__dup_of"))
        val hits = pool.join(stateKeys, Seq("__md5"))
          .localCheckpoint(eager = true)
        led.reject(hits.select(col("id"), col("__dup_of")), "exact_dup")
        pool.join(hits.select("id"), Seq("id"), "left_anti")
      }
    val withKeep = afterState.join(afterState.groupBy("__md5")
        .agg(min(col("id")).as("__keep")), Seq("__md5"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    led.reject(withKeep.filter(col("id") =!= col("__keep"))
      .select(col("id"), col("__keep").as("__dup_of")), "exact_dup")
    val exact = withKeep.filter(col("id") === col("__keep")).drop("__keep")
      .localCheckpoint(eager = true)
    withKeep.unpersist()
    led.stage("exact_dedup", exact.count())
    exact
  }

  /** Accumulated window claims visible to a (re)run of `excludeBatch`:
    * minhash-committed batches only (the one authoritative marker — a
    * torn increment's claim rows never serve), minus the batch's own
    * prior attempt (the retry pre-batch view). Absent table ⇒ empty
    * claims (states built before the stage was enabled): the sem
    * stage's enable-from-batch-N semantics.
    */
  private def readWindowClaims(spark: SparkSession, stateDir: String,
                               excludeBatch: String): DataFrame = {
    if (!BatchTables.exists(spark, s"$stateDir/windows"))
      spark.range(0).select(lit("").as("h"))
    else {
      BatchTables.readCommitted(spark, s"$stateDir/windows",
          BatchTables.committed(spark, s"$stateDir/minhash",
            Some(excludeBatch)))
        .select("h")
    }
  }

  // ---- decontamination benchmark state family (r17 verdict #1) ----------
  // The benchmark-gram set used to be a CALLER argument only: an
  // increment handed no benchmark ran no decontamination gate, so a doc
  // the funnel REJECTED as contaminated could be resubmitted through a
  // benchmark-less increment and ADMITTED (the q176-pinned gap). At
  // 100 TB the benchmark set is operational state like every index
  // family: it persists under the state root and the increment gate
  // DEFAULTS to it. Layout: `decontam/grams` — (bench_key, gram) rows,
  // bench_key = md5 of the source benchmark doc's text (the provenance
  // retraction purges by), batch_id-partitioned; `decontam/meta` — the
  // gram size n re-stated per batch, written LAST as the family's OWN
  // commit marker (its writers — Recurate's rebuild, a standalone
  // eval-set registration — are not increments, so it cannot ride the
  // minhash marker). Reads take meta-committed batches only and require
  // one consistent n. Reference anchor: the de-live suite's principle
  // that staged data must be scrubbed before serving (db.py:342-348).

  /** The benchmark's distinct (bench_key, gram) rows at gram size `n`
    * — the persisted form of the funnel's broadcast side.
    */
  private def decontamGramRows(benchmark: DataFrame, benchTextCol: String,
                               n: Int): DataFrame =
    graft.core.Ops.widen(benchmark)
      .select(md5(col(benchTextCol).cast("string")).as("bench_key"),
        Dedup.normalizeWords(col(benchTextCol)).as("__w"))
      .select(col("bench_key"),
        explode(Curation.wordNgrams(col("__w"), n)).as("gram"))
      .distinct()

  /** Register (or replace, under the same `batchId`) a benchmark's
    * grams in the state's decontamination family. Grams land first,
    * the meta partition commits LAST — a torn write is invisible to
    * [[readDecontamGrams]]. A second benchmark registers under its own
    * batch id and the gate unions them (gram membership is a union
    * test).
    */
  def writeDecontamState(spark: SparkSession, stateDir: String,
                         benchmark: DataFrame, benchTextCol: String,
                         n: Int = 8, batchId: String = "base"): Unit = {
    require(n >= 1, s"writeDecontamState: n ($n)")
    BatchTables.requireBatchId(batchId, "writeDecontamState")
    import spark.implicits._
    BatchTables.write(decontamGramRows(benchmark, benchTextCol, n),
      s"$stateDir/decontam/grams", batchId)
    BatchTables.write(Seq(n).toDF("n"), s"$stateDir/decontam/meta",
      batchId)
  }

  /** Read-side schema for `decontam/grams` — explicit so a ZERO-ROW
    * grams table (a benchmark whose docs are all shorter than n words
    * writes no part files) still reads as an empty gram set (a no-op
    * gate) instead of failing schema inference.
    */
  private val decontamGramsSchema = org.apache.spark.sql.types.StructType(
    Seq("bench_key", "gram", "batch_id").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)))

  /** The committed decontamination gram table (one `gram` column,
    * deduplicated across benchmarks) and its pinned gram size, or None
    * when the state has no committed decontam family.
    */
  def readDecontamGrams(spark: SparkSession,
                        stateDir: String): Option[(DataFrame, Int)] = {
    if (!BatchTables.exists(spark, s"$stateDir/decontam/meta")) None
    else {
      val meta = spark.read.parquet(s"$stateDir/decontam/meta")
      val ns = meta.select("n").distinct().collect()
      require(ns.length == 1,
        s"decontam family at $stateDir: inconsistent gram size across " +
          s"benchmark batches (${ns.length} distinct) — re-register " +
          "under one n")
      val committed = meta.select("batch_id").distinct()
      Some((spark.read.schema(decontamGramsSchema)
        .parquet(s"$stateDir/decontam/grams")
        .join(broadcast(committed), Seq("batch_id"), "left_semi")
        .select("gram").distinct(), ns.head.getInt(0)))
    }
  }

  /** Eval-set rotation: purge a retired benchmark's grams from the
    * family. Victim rows are keyed by the benchmark docs' text md5
    * (the provenance [[writeDecontamState]] recorded); only partitions
    * holding a victim rewrite ([[BatchTables.rewritePartitions]], the
    * retraction sweep's protocol); meta markers are untouched so family
    * visibility never changes. A gram SHARED with a still-registered benchmark
    * survives through that benchmark's own rows. Returns purged rows.
    */
  def retractDecontamBenchmark(spark: SparkSession, stateDir: String,
                               benchmark: DataFrame,
                               benchTextCol: String): Long = {
    val gramsPath = s"$stateDir/decontam/grams"
    require(BatchTables.exists(spark, gramsPath),
      s"retractDecontamBenchmark: no decontam family at $stateDir")
    val keys = graft.core.Ops.widen(benchmark)
      .select(md5(col(benchTextCol).cast("string")).as("bench_key"))
      .distinct().localCheckpoint(eager = true)
    val nPurged = spark.read.schema(decontamGramsSchema).parquet(gramsPath)
      .join(broadcast(keys), Seq("bench_key"), "left_semi").count()
    if (nPurged > 0L)
      BatchTables.rewritePartitions(spark, gramsPath,
          schema = Some(decontamGramsSchema))(
        BatchTables.holding(keys, Seq("bench_key")),
        _.join(broadcast(keys), Seq("bench_key"), "left_anti"))
    nPurged
  }

  // ---- the increment skeleton every family shares -----------------------

  /** One increment run as its stages see it: the state root, the batch
    * id every write lands under, whether the family's commit marker
    * exists (false = this run bootstraps the state).
    */
  private case class Run(spark: SparkSession, stateDir: String,
                         batchId: String, haveState: Boolean) {
    def path(sub: String): String = s"$stateDir/$sub"
  }

  /** What every increment checks before it reads or writes state: a
    * writable batch id, no retry of a batch id folded by
    * [[compactStateTo]], and the root's family claim. Returns whether
    * the family's commit marker exists.
    */
  private def prologue(spark: SparkSession, stateDir: String,
                       batchId: String, marker: String,
                       caller: String): Boolean = {
    require(batchId.nonEmpty && batchId != "base" &&
        batchId != "__HIVE_DEFAULT_PARTITION__",
      s"$caller: invalid batch id '$batchId'")
    requireBatchNotFolded(spark, stateDir, batchId, caller)
    claimFamily(spark, stateDir, marker, caller)
    markerExists(spark, stateDir, marker)
  }

  /** One increment's verdict ledger and stage counts. Reject pieces
    * checkpoint as each stage decides them; [[admit]] adds the admitted
    * rows and checks — loudly, not assumed — that the ledger holds one
    * row per batch doc.
    */
  private final class LedgerBuilder(val caller: String) {
    private val counts =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    private val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def stage(name: String, rows: Long): Unit = counts += ((name, rows))
    def stageCounts: Seq[(String, Long)] = counts.toSeq
    /** The batch size: the first stage is always `ingest`. */
    def ingested: Long = counts.head._2

    /** Reject `ids` (id, __dup_of; a null dup_of names the doc itself). */
    def reject(ids: DataFrame, reason: String): Unit =
      pieces += ids.select(col("id").cast("long").as("id"),
          lit(false).as("admitted"), lit(reason).as("reason"),
          coalesce(col("__dup_of"), col("id")).cast("long").as("dup_of"))
        .localCheckpoint(eager = true)

    /** Reject the docs of `prev` that a gate dropped from `next`. */
    def rejectAnti(prev: DataFrame, next: DataFrame,
                   reason: String): Unit =
      reject(prev.select(col("id"))
        .join(next.select(col("id")), Seq("id"), "left_anti")
        .withColumn("__dup_of", lit(null).cast("long")), reason)

    /** Dedup against state: every pool doc with a match in `pairs`
      * (id_new, id_old) is rejected as a dup of its smallest old match
      * (the stream's min-parent rule). `release` frees the pairs'
      * inputs once the hits are checkpointed. Returns the survivors.
      */
    def dropMatches(pool: DataFrame, pairs: DataFrame, reason: String,
                    release: () => Unit = () => ()): DataFrame = {
      val hits = pairs
        .groupBy("id_new").agg(min(col("id_old")).as("__dup_of"))
        .select(col("id_new").as("id"), col("__dup_of"))
        .localCheckpoint(eager = true)
      release()
      reject(hits, reason)
      pool.join(hits.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(eager = true)
    }

    /** Dedup within the batch: connected components over `edges`
      * (idA, idB), every member but the component's min id rejected as
      * its dup. `release` frees the edges' inputs once the victims are
      * checkpointed. Returns the survivors.
      */
    def dropComponents(pool: DataFrame, edges: DataFrame, reason: String,
                       release: () => Unit): DataFrame = {
      val cm = Dedup.connectedComponentsManaged(edges)
      val victims = cm.df.filter(col("id") =!= col("label"))
        .select(col("id"), col("label").as("__dup_of"))
        .localCheckpoint(eager = true)
      cm.close(); release()
      reject(victims, reason)
      pool.join(victims.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(eager = true)
    }

    /** Admit `admitted` and return the whole ledger (id, admitted,
      * reason, dup_of), one row per batch doc.
      */
    def admit(admitted: DataFrame): DataFrame = {
      pieces += admitted.select(col("id"), lit(true).as("admitted"),
          lit("admitted").as("reason"), col("id").as("dup_of"))
        .localCheckpoint(eager = true)
      val ledger = pieces.reduce(_ unionByName _)
        .select(col("id"), col("admitted"), col("reason"), col("dup_of"))
        .localCheckpoint(eager = true)
      val nLed = ledger.count()
      require(nLed == ingested,
        s"$caller: ledger rows $nLed != batch docs $ingested")
      ledger
    }
  }

  /** Rows whose vector `v` has a non-zero norm. Cosine is undefined for
    * the rest: they can never pair and are never indexed.
    */
  private def nonzeroVectors(df: DataFrame): DataFrame =
    df.filter(expr("aggregate(v, 0D, (a, x) -> a + x * x)") > lit(0.0))

  /** A sem index's frozen centroid set as (id, v). */
  private def storedCentroids(spark: SparkSession,
                              semDir: String): DataFrame =
    spark.read.parquet(s"$semDir/centroids")
      .select(col("cid").as("id"), col("cv").as("v"))

  /** The semantic stage's output: the survivors, the pool's non-zero
    * vectors and the centroid set (both needed by the commit), whether
    * the sem sub-state existed, and the dials a bootstrap pins.
    */
  private case class SemPieces(admitted: DataFrame, vectors: DataFrame,
                               centroids: DataFrame, haveSem: Boolean,
                               centroidEvery: Int, nassign: Int)

  /** The optional SEMANTIC stage (the batch funnel's sem_dup gate):
    * SemDeDup of `pool`'s embeddings against the `sem/` SUB-state, then
    * within the batch over the frozen centroid set. Sub-state reads are
    * restricted to batches `marker` committed — the increment's one
    * authoritative marker — so a torn increment's sem rows never serve.
    * `embed` maps the pool to (id, v) vectors of dimension `dim`
    * (`dimLabel` names the caller's dial in the mismatch error).
    */
  private def semanticStage(led: LedgerBuilder, run: Run, marker: String,
                            pool: DataFrame,
                            thresholdE4: Long, dim: Int, dimLabel: String,
                            centroidEvery: Int, nassign: Int)(
      embed: DataFrame => DataFrame): SemPieces = {
    val semDir = run.path("sem")
    // the sem sub-state counts as existing only when the AUTHORITATIVE
    // marker does too: a first increment that died between its sem
    // write and its marker must RE-BOOTSTRAP on retry (static overwrite
    // replaces the torn sem partitions) — reading the torn sub-state
    // would crash on the missing marker path
    val haveSem = run.haveState && semStateExists(run.spark, run.stateDir)
    // dial consistency: an existing sem sub-state PINS its dials — the
    // within-batch stage must use the same (centroid_every, nassign)
    // [and dim] as the against-state reads, or a caller passing a
    // different cfg would get silently inconsistent within-batch vs
    // against-state recall (the banding path's loud-mismatch rule,
    // applied here)
    val (ce, na) =
      if (!haveSem) (centroidEvery, nassign)
      else {
        val (pce, pna, pdim) = Curation.readSemMeta(run.spark, semDir)
        require(pdim == 0 || pdim == dim,
          s"${led.caller}: $dimLabel != pinned sem sub-state dim $pdim " +
            s"at $semDir")
        (pce, pna)
      }
    val vectors = nonzeroVectors(embed(pool)).localCheckpoint(eager = true)
    val centroids =
      if (haveSem) storedCentroids(run.spark, semDir)
      else Curation.semCentroidSample(vectors.select("id", "v"), ce)
        .localCheckpoint(eager = true)
    val afterState =
      if (!haveSem) pool
      else led.dropMatches(pool, Curation.semNearDupAgainstIndex(run.spark,
          semDir, vectors.select("id", "v"), thresholdE4,
          excludeBatch = Some(run.batchId),
          restrictTo = Some(BatchTables.committed(run.spark,
            run.path(marker)))), "sem_dup")
    val pm = graft.operators.Similarity.ivfNearDupPairsManaged(
      vectors.join(afterState.select("id"), Seq("id"), "left_semi")
        .select("id", "v"),
      centroids, thresholdE4 / 10000.0, na)
    val admitted = led.dropComponents(afterState,
      pm.df.select("idA", "idB"), "sem_dup", () => pm.close())
    led.stage("semantic", admitted.count())
    SemPieces(admitted, vectors, centroids, haveSem, centroidEvery,
      nassign)
  }

  /** The commit sequence: exact keys → ledger → metrics → sem sub-state
    * → `writeIndex`, which writes the family index whose meta partition
    * is the increment's commit marker, LAST. A bootstrap that admitted
    * nothing writes nothing (the state stays absent).
    */
  private def commit(run: Run, admitted: DataFrame, keys: DataFrame,
                     ledger: DataFrame, stageCounts: Seq[(String, Long)],
                     sem: Option[SemPieces])(writeIndex: => Unit): Unit = {
    import run.spark.implicits._
    if (run.haveState || admitted.head(1).nonEmpty) {
      writeExactKeyRows(keys, run.stateDir, run.batchId)
      BatchTables.write(ledger, run.path("ledger"), run.batchId)
      BatchTables.write(stageCounts.toDF("stage", "rows"),
        run.path("metrics"), run.batchId)
      for (p <- sem) {
        // semi-join the FINAL admitted set, not the sem stage's: a doc
        // rejected after sem must not leave vectors in the state
        val vecs = p.vectors
          .join(admitted.select("id"), Seq("id"), "left_semi")
          .select("id", "v")
        if (p.haveSem)
          Curation.appendSemVectors(run.spark, run.path("sem"), vecs,
            run.batchId)
        else
          Curation.writeSemIndex(vecs, p.centroids, run.path("sem"),
            p.centroidEvery, p.nassign, run.batchId)
      }
      writeIndex
    }
  }

  def curateIncrement(batch: DataFrame, idCol: String, textCol: String,
                      stateDir: String, batchId: String,
                      cfg: IncrementConfig = IncrementConfig(),
                      // the funnel's external-model gates, same shapes:
                      // a trained Classifier.Model for the
                      // minClassifierPE6 gate, a parsed ARPA model for
                      // maxArpaE4, and a (frame, textCol) benchmark for
                      // decontamination — each None = stage off
                      classifierModel: Option[
                        graft.operators.Classifier.Model] = None,
                      arpaModel: Option[
                        graft.operators.TextStats.ArpaModel] = None,
                      benchmark: Option[(DataFrame, String)] = None)
      : IncrementResult = {
    val spark = batch.sparkSession
    val haveState = prologue(spark, stateDir, batchId, TextLayout.marker,
      "curateIncrement")
    val run = Run(spark, stateDir, batchId, haveState)
    val led = new LedgerBuilder("curateIncrement")

    // ---- stateless gates (the batch funnel's exprs verbatim) -----------
    var input = textCorpus(batch, idCol, textCol)
      .localCheckpoint(eager = true)
    led.stage("ingest", input.count())
    if (cfg.c4Clean) {
      val pre = input
      input = Curation.c4Clean(input, "id", "text")
        .filter(col("keep"))
        .select(col("id"), col("cleaned_text").as("text"))
        .localCheckpoint(eager = true)
      led.stage("c4_clean", input.count())
      led.rejectAnti(pre, input, "c4")
    }
    cfg.langIdModel.foreach(m => require(
      cfg.keepLangs.subsetOf(m.langs.toSet),
      s"curateIncrement: keepLangs ${cfg.keepLangs} not all in the " +
        s"langid model's languages ${m.langs}"))
    val scored = TextStats.langGateCols(
      input.withColumn("__w", Dedup.normalizeWords(col("text"))),
      col("text"), col("__w"), cfg.langIdModel)
    var quality = scored
      .withColumn("__q", TextStats.qualityScore(col("text"), col("__w")))
      .filter(col("__q") >= cfg.minQualityE4 &&
        col("__lang").isInCollection(cfg.keepLangs))
    // optional Gopher-rule gate — same pass and same "quality" reject
    // reason as the funnel, reusing the words array
    for (g <- cfg.gopherRules)
      quality = quality.filter(
        TextStats.gopherFlags(col("text"), col("__w"), g)
          .getField("pass"))
    var filtered = quality
      .select(col("id"), col("text"))
      .localCheckpoint(eager = true)
    led.stage("quality", filtered.count())
    led.rejectAnti(input, filtered, "quality")
    // a keep-by-id gate: the docs `keepIds` returns survive, the rest
    // reject as `reason`
    def gate(stageName: String, reason: String)(
        keepIds: DataFrame => DataFrame): Unit = {
      val pre = filtered
      filtered = pre.join(keepIds(pre), Seq("id"))
        .localCheckpoint(eager = true)
      led.stage(stageName, filtered.count())
      led.rejectAnti(pre, filtered, reason)
    }
    for (rc <- cfg.repetition)
      gate("repetition", "repetition")(pre =>
        TextStats.repetitionSignals(pre, "id", "text", rc)
          .filter(col("rep_pass")).select(col("id")))
    // ---- the funnel's external-model gates, in its stage order ---------
    for (m <- classifierModel)
      gate("classifier_gate", "classifier")(pre =>
        graft.operators.Classifier.score(pre, "id", "text", m)
          .filter(col("p_e6") >= cfg.minClassifierPE6).select(col("id")))
    for (bound <- cfg.maxArpaE4; m <- arpaModel) {
      val tabs = TextStats.arpaTablesN(spark, m)
      gate("arpa_gate", "arpa")(pre =>
        TextStats.arpaCrossEntropyN(pre, "id", "text", tabs, m.unkLp)
          .filter(col("arpa_e4") <= bound).select(col("id")))
    }
    // ---- optional intra-doc line dedup (rewrite, never a reject) --------
    if (cfg.dedupLinesWithinDocs) {
      filtered = Curation.dedupLines(filtered, "id", "text")
        .select(col("id"), col("cleaned_text").as("text"))
        .localCheckpoint(eager = true)
      led.stage("line_dedup", filtered.count())
    }

    // ---- optional SUBSTRING-DEDUP stage (the funnel's window_dedup,
    // against accumulated claims): spans the corpus already owns are
    // removed, then the within-batch canonical rule — docs are
    // REWRITTEN (normalized token stream), never rejected, so the
    // ledger is untouched here; the count is pool size at the stage
    for (w <- cfg.dedupWindowsW) {
      val claims =
        if (!haveState) None
        else Some(readWindowClaims(spark, stateDir, batchId))
      val cleaned = claims match {
        case None =>
          Curation.removeDuplicateSpans(filtered, "id", "text", w)
        case Some(c) =>
          Curation.removeDuplicateSpansVsClaims(filtered, "id", "text",
            w, c)
      }
      filtered = cleaned
        .select(col("id"), col("cleaned_text").as("text"))
        .localCheckpoint(eager = true)
      led.stage("window_dedup", filtered.count())
    }

    // ---- exact dedup: against state, then within batch -----------------
    val hashed = filtered.withColumn("__md5", md5(col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val kept = exactDedup(led, run, TextLayout.marker, hashed)
      .drop("__md5")
    hashed.unpersist()

    // ---- near-dup: against state (min old parent), then within batch ---
    val afterOld =
      if (!haveState) kept
      else {
        val pairsM = Dedup.nearDupAgainstIndex(spark,
          s"$stateDir/minhash", kept, "id", "text",
          excludeBatch = Some(batchId))
        led.dropMatches(kept,
          pairsM.df.filter(col("jacc_e4") >= cfg.nearDupThresholdE4),
          "near_dup", () => pairsM.close())
      }
    val (pairsM, bandRows) =
      Dedup.minhashNearDupPairsBanded(afterOld, "id", "text")
    // band-bucket skew metric (VERDICT r17 #7): the hottest LSH bucket
    // population among the batch's own band rows — read off the pairs
    // job's persisted bands before close(), one cheap aggregate, no
    // plan change. A mass-duplicated boilerplate band shows here as
    // max ≈ batch size BEFORE it skews a corpus-scale shuffle; the
    // funnel-rate time series carries it per batch.
    val bandMax = Dedup.bandBucketStats(bandRows)
      .select(col("max_bucket")).head().getLong(0)
    val afterMh = led.dropComponents(afterOld,
      pairsM.df.filter(col("jacc_e4") >= cfg.nearDupThresholdE4),
      "near_dup", () => pairsM.close())
    led.stage("near_dup", afterMh.count())
    led.stage("band_bucket_max", bandMax)

    val sem = cfg.semDedupThresholdE4.map(th =>
      semanticStage(led, run, TextLayout.marker, afterMh, th, cfg.semDim,
        s"semDim ${cfg.semDim}", cfg.semCentroidEvery, cfg.semNassign)(
        TextStats.hashEmbedVectors(_, "id", "text", cfg.semDim)))
    // ---- benchmark decontamination (the funnel's terminal gate, same
    // position: after every dedup stage, before admission). Gram
    // source, in precedence order: the CALLER's benchmark frame when
    // given (gram size cfg.decontamGramN — the legacy explicit shape),
    // else the state's PERSISTED decontam family (gram size pinned by
    // its meta) — so a benchmark-less increment can no longer re-admit
    // content the funnel rejected (r17 verdict #1; the q176-pinned gap,
    // now closed by default whenever the state carries the family).
    // Neither present = gate off.
    val afterSem = sem.fold(afterMh)(_.admitted)
    def gateDecontam(flags: DataFrame): DataFrame = {
      val clean = afterSem.join(
          flags.filter(!col("contaminated")).select(col("id")),
          Seq("id"))
        .localCheckpoint(eager = true)
      led.reject(flags.filter(col("contaminated")).select(col("id"))
        .withColumn("__dup_of", lit(null).cast("long")),
        "decontaminated")
      led.stage("decontaminated", clean.count())
      clean
    }
    val admitted = benchmark match {
      case Some((bench, btCol)) =>
        gateDecontam(Curation.contaminationFlags(afterSem, "id", "text",
          bench, btCol, cfg.decontamGramN))
      case None =>
        readDecontamGrams(spark, stateDir) match {
          case None => afterSem
          case Some((grams, n)) =>
            gateDecontam(Curation.contaminationFlagsVsGrams(afterSem,
              "id", "text", grams, n))
        }
    }
    val ledger = led.admit(admitted)

    // ---- persist: keys → ledger → metrics → (sem sub-state) → window
    // claims → minhash META (the marker, LAST) ---------------------------
    commit(run, admitted, admitted.select(md5(col("text")).as("key"),
        col("id")), ledger, led.stageCounts, sem) {
      // window claims of the admitted docs' FINAL text — exactly the
      // content entering the corpus; lands BEFORE the minhash marker
      // (same dynamic-partition retry contract as every state table)
      for (w <- cfg.dedupWindowsW)
        BatchTables.write(Curation.windowClaims(admitted, "id", "text", w),
          s"$stateDir/windows", batchId)
      if (haveState)
        Dedup.appendToMinhashIndex(spark, s"$stateDir/minhash", admitted,
          "id", "text", batchId)
      else
        Dedup.writeMinhashParts(admitted, "id", "text",
          s"$stateDir/minhash", cfg.bands, cfg.rowsPerBand,
          overwrite = true, batchId = batchId)
    }
    IncrementResult(ledger, admitted, led.stageCounts)
  }

  /** The committed per-batch verdict ledger (batch_id, id, admitted,
    * reason, dup_of) — torn increments invisible (marker-committed set).
    */
  def readLedger(spark: SparkSession, stateDir: String): DataFrame =
    committedTable(spark, stateDir, "ledger")

  /** The committed funnel-rate time series (batch_id, stage, rows) —
    * what a maintenance decision reads to spot drift in admit rates.
    */
  def readMetrics(spark: SparkSession, stateDir: String): DataFrame =
    committedTable(spark, stateDir, "metrics")

  /** A state table restricted to committed batches — the commit-marker
    * index is whichever family's lives here (text: minhash meta;
    * image: phash meta; audio: audio meta; video: video meta;
    * embedding: sem meta).
    */
  private def committedTable(spark: SparkSession, stateDir: String,
                             sub: String): DataFrame = {
    val marker = stateFamily(spark, stateDir) match {
      case Some(fam) =>
        // the sentinel names the authoritative family; its meta absent
        // means NOTHING is committed yet (a torn bootstrap) — serve the
        // empty committed set, never another family's marker
        Some(fam).filter(markerExists(spark, stateDir, _))
      case None =>
        // legacy states (pre-sentinel): marker-discovery order
        Some(Layouts.map(_.marker)
          .find(markerExists(spark, stateDir, _))
          .getOrElse(throw new IllegalStateException(
            s"no increment state (" +
              Layouts.map(_.marker).mkString("/") + s" meta) at $stateDir")))
    }
    val tbl = spark.read.parquet(s"$stateDir/$sub")
    marker match {
      case None => tbl.limit(0)
      case Some(m) =>
        tbl.join(broadcast(BatchTables.committed(spark, s"$stateDir/$m")),
          Seq("batch_id"), "left_semi")
    }
  }

  // ---- the IMAGE twin: batch vs persisted pHash + exact-payload state ----

  /** [[IncrementConfig]]'s image sibling — the [[CurateImages
    * .ImageCurateConfig]] gate dials.
    */
  case class ImageIncrementConfig(maxPixels: Long = 64L << 20,
                                  maxHamming: Int = 3, nBands: Int = 4,
                                  // optional SEMANTIC stage: SemDeDup
                                  // over block-mean embeddings
                                  // ([[graft.operators.Multimodal
                                  // .imageEmbeddings]]) against a sem
                                  // sub-state under the pHash marker —
                                  // the text increment's
                                  // semDedupThresholdE4 pattern, incl.
                                  // its enable-from-batch-N semantics
                                  // (docs admitted before enablement
                                  // were never embedded)
                                  semDedupThresholdE4: Option[Long] = None,
                                  semGrid: Int = 8,
                                  semCentroidEvery: Int = 25,
                                  semNassign: Int = 2)

  /** Image state exists iff the pHash index has a meta commit marker. */
  def imageStateExists(spark: SparkSession, stateDir: String): Boolean =
    markerExists(spark, stateDir, ImageLayout.marker)

  /** The audio gate dials ([[graft.operators.Multimodal
    * .audioNearDupPairs]] parameters).
    */
  case class AudioIncrementConfig(windowFrames: Int = 50, k: Int = 20,
                                  stride: Int = 1, quantE4: Long = 1L,
                                  minMatchE4: Long = 5000L,
                                  maxFpDocFreq: Long = 1000L,
                                  // optional SEMANTIC stage: SemDeDup
                                  // over pooled energy-profile
                                  // embeddings ([[graft.operators
                                  // .Multimodal.audioEmbeddings]])
                                  // against a sem sub-state under the
                                  // audio marker — the image
                                  // increment's sem pattern (r16 #1),
                                  // incl. enable-from-batch-N semantics
                                  // (clips admitted before enablement
                                  // were never embedded). Catches the
                                  // RESAMPLED re-encode regime the
                                  // fixed-window fingerprint misses.
                                  semDedupThresholdE4: Option[Long] = None,
                                  semDim: Int = 16,
                                  semCentroidEvery: Int = 25,
                                  semNassign: Int = 2)

  /** Audio state exists iff the fingerprint index has its meta marker. */
  def audioStateExists(spark: SparkSession, stateDir: String): Boolean =
    markerExists(spark, stateDir, AudioLayout.marker)

  /** The video gate dials ([[graft.operators.Multimodal
    * .videoNearDupPairs]] parameters).
    */
  case class VideoIncrementConfig(maxHamming: Int = 3, nBands: Int = 4,
                                  minSimE4: Long = 5000L,
                                  // optional SEMANTIC stage: SemDeDup
                                  // over pooled keyframe block-mean
                                  // embeddings ([[graft.operators
                                  // .Multimodal.videoEmbeddings]])
                                  // against a sem sub-state under the
                                  // video marker — the image
                                  // increment's sem pattern (r16 #1),
                                  // incl. enable-from-batch-N semantics.
                                  // Catches the RE-GRAINED re-encode
                                  // regime per-frame pHash misses.
                                  semDedupThresholdE4: Option[Long] = None,
                                  semGrid: Int = 8,
                                  semCentroidEvery: Int = 25,
                                  semNassign: Int = 2)

  /** Video state exists iff the keyframe index has its meta marker. */
  def videoStateExists(spark: SparkSession, stateDir: String): Boolean =
    markerExists(spark, stateDir, VideoLayout.marker)

  /** The semantic gate dials ([[graft.operators.Curation
    * .semDedupVictimsFromVectorsManaged]] parameters).
    */
  case class EmbeddingIncrementConfig(thresholdE4: Long = 9000L,
                                      centroidEvery: Int = 25,
                                      nassign: Int = 2)

  /** Semantic state exists iff the sem index has its meta marker. */
  def semStateExists(spark: SparkSession, stateDir: String): Boolean =
    markerExists(spark, stateDir, EmbeddingLayout.marker)

  // ---- the media-family driver: image, audio, video and embedding -------

  /** Everything that differs between the image, audio, video and
    * embedding increments; [[runFamily]] runs any of them and
    * [[seedFamily]] seeds any of them. Built from the family's config.
    *  - `decode`: the batch → (keys (id, __md5, __signed, …) of every
    *    row, materialized in one decode of the payloads — `__signed`
    *    false = the row has no signature, further columns ride along
    *    with the pool; `signatures`: a pool of signed rows → its
    *    signature rows (id, …));
    *  - `unsigned`: the stage name and reject reason for a row without
    *    a signature (None: no such gate — every row is signed);
    *  - `nearVsState`: (id_new, id_old) matches of the exact survivors'
    *    signatures against the committed index;
    *  - `within`: within-batch edges (idA, idB) among the survivors'
    *    signatures, and what to release once components are taken;
    *  - `semantic`: the optional embedding stage;
    *  - `writeIndex`: the family index write (bootstrap or append) of
    *    the admitted signature rows — its meta is the commit marker —
    *    given also the exact survivors' signature rows;
    *  - `project`: what [[IncrementResult.admitted]] returns of the
    *    admitted pool.
    */
  private case class MediaFamily(
      layout: StateLayout,
      unsigned: Option[(String, String)],
      decode: DataFrame => (DataFrame, DataFrame => DataFrame),
      nearVsState: (Run, DataFrame) => DataFrame,
      within: (Run, DataFrame) => (DataFrame, () => Unit),
      semantic: Option[Semantic],
      writeIndex: (Run, DataFrame, DataFrame) => Unit,
      project: DataFrame => DataFrame)

  /** A media family's embedding for the semantic stage, seeding and
    * backfill: `embed` maps payloads to (id, v) vectors of dimension
    * `dim` (`dimLabel` names the config dial in errors). The increment
    * stage runs when `thresholdE4` is set.
    */
  private case class Semantic(thresholdE4: Option[Long],
                              embed: Dataset[MediaRecord] => DataFrame,
                              dim: Int, dimLabel: String,
                              centroidEvery: Int, nassign: Int)

  private def asMedia(df: DataFrame): Dataset[MediaRecord] = {
    val sess = df.sparkSession
    import sess.implicits._
    df.as[MediaRecord]
  }

  /** (id, __md5): each payload's byte md5, the media exact-dedup key. */
  private def payloadKeys(media: Dataset[MediaRecord]): DataFrame = {
    val sess = media.sparkSession
    import sess.implicits._
    media.mapPartitions { it =>
        val d = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          d.reset()
          (r.media_id,
            d.digest(r.media).map(b => f"${b & 0xff}%02x").mkString)
        }
      }.toDF("id", "__md5")
  }

  /** `keys` with the `__signed` flag: whether the row has a signature
    * row in `sigs`.
    */
  private def flagSigned(keys: DataFrame, sigs: DataFrame): DataFrame =
    keys.join(sigs.select("id").distinct().withColumn("__signed", lit(true)),
        Seq("id"), "left_outer")
      .na.fill(false, Seq("__signed"))

  private def imageSemantic(cfg: ImageIncrementConfig): Semantic =
    Semantic(cfg.semDedupThresholdE4,
      Multimodal.imageEmbeddings(_, cfg.semGrid, maxPixels = cfg.maxPixels),
      cfg.semGrid * cfg.semGrid,
      s"semGrid ${cfg.semGrid} (dim ${cfg.semGrid * cfg.semGrid})",
      cfg.semCentroidEvery, cfg.semNassign)

  /** Image: one decode gives the payload key and the pHash (−1 =
    * undecodable); near-dup is pHash hamming ≤ maxHamming over bands.
    */
  private def imageFamily(cfg: ImageIncrementConfig): MediaFamily =
    MediaFamily(ImageLayout, Some(("decode", "undecodable")),
      decode = batch => {
        val media = asMedia(batch)
        val keys = payloadKeys(media)
          .join(Multimodal.imagePHash(media, maxPixels = cfg.maxPixels)
              .toDF().select(col("media_id").as("id"), col("phash")),
            Seq("id"))
          .withColumn("__signed", col("phash") =!= -1L)
          .localCheckpoint(eager = true)
        (keys, _.select("id", "phash"))
      },
      nearVsState = (run, sigs) =>
        Multimodal.phashSigsNearDupAgainstIndex(run.spark,
          run.path("phash"),
          sigs.select(col("id").as("id_new"), col("phash")),
          cfg.maxHamming, excludeBatch = Some(run.batchId)),
      within = (_, sigs) => {
        val pm = Multimodal.phashBandNearDupPairsOf(
          sigs.select(col("id").as("media_id"), col("phash").as("ahash")),
          cfg.maxHamming, cfg.nBands)
        (pm.df.select("idA", "idB"), () => pm.close())
      },
      semantic = Some(imageSemantic(cfg)),
      writeIndex = (run, adm, _) =>
        if (run.haveState)
          Multimodal.appendPhashSigs(run.spark, run.path("phash"), adm,
            run.batchId)
        else
          Multimodal.writePhashSigIndex(run.spark, adm, run.path("phash"),
            cfg.nBands, run.batchId),
      project = _.select("id", "phash"))

  private def audioSemantic(cfg: AudioIncrementConfig): Semantic =
    Semantic(cfg.semDedupThresholdE4,
      Multimodal.audioEmbeddings(_, cfg.semDim, cfg.windowFrames),
      cfg.semDim, s"semDim ${cfg.semDim}", cfg.semCentroidEvery,
      cfg.semNassign)

  /** Audio: distinct banded energy fingerprints per clip (none =
    * undecodable or shorter than k+1 windows — such clips can never
    * pair); near-dup is fingerprint-set Jaccard ≥ minMatchE4.
    */
  private def audioFamily(cfg: AudioIncrementConfig): MediaFamily =
    MediaFamily(AudioLayout, Some(("fingerprint", "no_fingerprint")),
      decode = batch => {
        val media = asMedia(batch)
        val fps = Multimodal.audioFingerprints(media, cfg.windowFrames,
            cfg.k, cfg.stride, cfg.quantE4).toDF()
          .select(col("media_id").as("id"), col("fp")).distinct()
          .localCheckpoint(eager = true)
        (flagSigned(payloadKeys(media), fps).localCheckpoint(eager = true),
          fps.join(_, Seq("id"), "left_semi"))
      },
      nearVsState = (run, fps) =>
        Multimodal.audioSigsNearDupAgainstIndex(run.spark,
          run.path("audio"), fps.select(col("id").as("id_new"), col("fp")),
          cfg.minMatchE4, cfg.maxFpDocFreq,
          excludeBatch = Some(run.batchId)),
      within = (_, fps) => {
        // the audioNearDupPairs algebra on the survivors' fingerprints
        val sfps = fps.persist(StorageLevel.MEMORY_AND_DISK)
        val sizes = sfps.groupBy("id").agg(count(lit(1)).as("nfp"))
        val keep = sfps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cfg.maxFpDocFreq).select("fp")
        val fk = sfps.join(keep, Seq("fp"), "left_semi")
        val edges = fk.select(col("id").as("idA"), col("fp"))
          .join(fk.select(col("id").as("idB"), col("fp")), Seq("fp"))
          .filter(col("idA") < col("idB"))
          .groupBy("idA", "idB").agg(count(lit(1)).as("ninter"))
          .join(sizes.select(col("id").as("idA"), col("nfp").as("na")),
            "idA")
          .join(sizes.select(col("id").as("idB"), col("nfp").as("nb")),
            "idB")
          .filter(graft.core.Ops.fixedPoint(col("ninter") * lit(1.0) /
            (col("na") + col("nb") - col("ninter")), 4) >= cfg.minMatchE4)
          .select("idA", "idB")
        (edges, () => sfps.unpersist(): Unit)
      },
      semantic = Some(audioSemantic(cfg)),
      writeIndex = (run, adm, _) =>
        if (run.haveState)
          Multimodal.appendAudioFps(run.spark, run.path("audio"), adm,
            run.batchId)
        else
          Multimodal.writeAudioFpIndex(run.spark, adm, run.path("audio"),
            cfg.windowFrames, cfg.k, cfg.stride, cfg.quantE4, run.batchId),
      project = _.select("id"))

  private def videoSemantic(cfg: VideoIncrementConfig): Semantic =
    Semantic(cfg.semDedupThresholdE4,
      Multimodal.videoEmbeddings(_, cfg.semGrid),
      cfg.semGrid * cfg.semGrid,
      s"semGrid ${cfg.semGrid} (dim ${cfg.semGrid * cfg.semGrid})",
      cfg.semCentroidEvery, cfg.semNassign)

  /** Video: decodable keyframe pHashes per clip (none = unparseable MP4
    * or zero decodable keyframes); near-dup is temporal Jaccard over
    * banded frame matches ≥ minSimE4.
    */
  private def videoFamily(cfg: VideoIncrementConfig): MediaFamily =
    MediaFamily(VideoLayout, Some(("keyframes", "no_frames")),
      decode = batch => {
        val media = asMedia(batch)
        val frames = Multimodal.videoKeyframePhash(media).toDF()
          .filter(col("phash") =!= -1L && col("frame_idx") >= 0L)
          .select(col("media_id").as("id"), col("frame_idx"), col("phash"))
          .localCheckpoint(eager = true)
        (flagSigned(payloadKeys(media), frames).localCheckpoint(eager = true),
          frames.join(_, Seq("id"), "left_semi"))
      },
      nearVsState = (run, frames) =>
        Multimodal.videoFramesNearDupAgainstIndex(run.spark,
          run.path("video"),
          frames.select(col("id").as("id_new"), col("frame_idx"),
            col("phash")),
          cfg.maxHamming, cfg.minSimE4, excludeBatch = Some(run.batchId)),
      within = (_, frames) => {
        // the videoNearDupPairs algebra on the survivors' frame hashes
        val sframes = frames.select(col("id").as("media_id"),
            col("frame_idx"), col("phash"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (Multimodal.videoFramesNearDupPairs(sframes, cfg.maxHamming,
            cfg.nBands, cfg.minSimE4).select("idA", "idB"),
          () => sframes.unpersist(): Unit)
      },
      semantic = Some(videoSemantic(cfg)),
      writeIndex = (run, adm, _) =>
        if (run.haveState)
          Multimodal.appendVideoFrames(run.spark, run.path("video"), adm,
            run.batchId)
        else
          Multimodal.writeVideoFrameIndex(run.spark, adm,
            run.path("video"), cfg.nBands, run.batchId),
      project = _.select("id"))

  /** Embedding: the exact key is the vector's e6 fixed-point canonical
    * string (vector identity at the documented resolution); signatures
    * are the NON-ZERO vectors — zero-norm rows pass the semantic stages
    * (cosine undefined, they can never pair) and are never indexed, but
    * their exact keys ARE state. Near-dup is cosine ≥ thresholdE4
    * within shared cells of the FROZEN centroid set: the stored set, or
    * at bootstrap the md5 sample of the batch's exact-surviving
    * vectors, which the bootstrap index write draws identically and
    * pins for every later batch.
    */
  private def embeddingFamily(cfg: EmbeddingIncrementConfig): MediaFamily =
    MediaFamily(EmbeddingLayout, unsigned = None,
      decode = batch => {
        val keyed = graft.core.Ops.widen(batch)
          .select(col("id").cast("long").as("id"), col("v"))
          .withColumn("__md5", md5(concat_ws(",",
            transform(col("v"),
              x => graft.core.Ops.fixedPoint(x, 6).cast("string")))))
          .withColumn("__signed", lit(true))
          .localCheckpoint(eager = true)
        (keyed, nonzeroVectors(_).select("id", "v"))
      },
      nearVsState = (run, vecs) =>
        Curation.semNearDupAgainstIndex(run.spark, run.path("sem"), vecs,
          cfg.thresholdE4, excludeBatch = Some(run.batchId)),
      within = (run, vecs) => {
        // at bootstrap there is no state stage, so `vecs` are all the
        // exact survivors — the set the index write samples again
        val centroids =
          if (run.haveState) storedCentroids(run.spark, run.path("sem"))
          else Curation.semCentroidSample(vecs, cfg.centroidEvery)
            .localCheckpoint(eager = true)
        val pm = graft.operators.Similarity.ivfNearDupPairsManaged(vecs,
          centroids, cfg.thresholdE4 / 10000.0, cfg.nassign)
        (pm.df.select("idA", "idB"), () => pm.close())
      },
      semantic = None,
      writeIndex = (run, adm, exact) =>
        if (run.haveState)
          Curation.appendSemVectors(run.spark, run.path("sem"), adm,
            run.batchId)
        else
          Curation.writeSemIndex(adm,
            Curation.semCentroidSample(exact, cfg.centroidEvery),
            run.path("sem"), cfg.centroidEvery, cfg.nassign, run.batchId),
      project = _.select("id"))

  /** The one driver every media-shaped increment runs: decode once →
    * unsigned rows rejected → exact dedup (against committed keys —
    * dup_of is the stored key's canonical — then within the batch,
    * min id) → near-dup against committed state (min old parent) →
    * within-batch components (min-id canonicals) → optional semantic
    * stage → commit (keys → ledger → metrics → sem sub-state → family
    * index, whose meta is the marker, LAST). Retry and torn-batch
    * contracts as in [[curateIncrement]]: every against-state read
    * excludes the batch's own partitions, so a retry recomputes
    * identical verdicts and replaces its partitions bit-identically.
    */
  private def runFamily(fam: MediaFamily, batch: DataFrame,
                        stateDir: String, batchId: String,
                        caller: String): IncrementResult = {
    val spark = batch.sparkSession
    val haveState = prologue(spark, stateDir, batchId, fam.layout.marker,
      caller)
    val run = Run(spark, stateDir, batchId, haveState)
    val led = new LedgerBuilder(caller)
    val (keys, signatures) = fam.decode(batch)
    // the ingest and signed counts in one job
    val n = keys.agg(count(lit(1)), count(when(col("__signed"), true)))
      .head()
    led.stage("ingest", n.getLong(0))
    for ((stageName, reason) <- fam.unsigned) {
      led.stage(stageName, n.getLong(1))
      led.reject(keys.filter(!col("__signed"))
        .select(col("id"), lit(null).cast("long").as("__dup_of")), reason)
    }
    val decoded = keys.filter(col("__signed")).drop("__signed")

    val exact = exactDedup(led, run, fam.layout.marker, decoded)

    // ---- near-dup: against state (min old parent), then within batch ---
    val afterOld =
      if (!haveState) exact
      else led.dropMatches(exact, fam.nearVsState(run, signatures(exact)),
        "near_dup")
    val (edges, release) = fam.within(run, signatures(afterOld))
    val afterNear = led.dropComponents(afterOld, edges, "near_dup",
      release)
    led.stage("near_dup", afterNear.count())

    val sem = for (s <- fam.semantic; th <- s.thresholdE4)
      yield semanticStage(led, run, fam.layout.marker, afterNear, th,
        s.dim, s.dimLabel, s.centroidEvery, s.nassign)(pool =>
        // embed ONLY the surviving pool (never re-decode rejects)
        s.embed(asMedia(batch.join(pool.select(col("id").as("media_id")),
          Seq("media_id"), "left_semi"))))
    val admitted = sem.fold(afterNear)(_.admitted)
    val ledger = led.admit(admitted)
    commit(run, admitted, admitted.select(col("__md5").as("key"),
        col("id")), ledger, led.stageCounts, sem)(
      fam.writeIndex(run, signatures(admitted), signatures(exact)))
    IncrementResult(ledger, fam.project(admitted), led.stageCounts)
  }

  /** Seed a family's state from an ALREADY-CURATED corpus under batch id
    * "base": the exact keys of the rows with a signature (the others
    * can never pair), the sem sub-state when the semantic stage is
    * enabled — so the first increment dedups semantically against the
    * full history — and the family index LAST (its meta is the
    * marker). The caller asserts the corpus is internally deduplicated.
    */
  private def seedFamily(fam: MediaFamily, curated: DataFrame,
                         stateDir: String, caller: String): Unit = {
    val spark = curated.sparkSession
    require(!markerExists(spark, stateDir, fam.layout.marker),
      s"$caller: state already exists at $stateDir")
    claimFamily(spark, stateDir, fam.layout.marker, caller)
    val (keys, signatures) = fam.decode(curated)
    val seeded = keys.filter(col("__signed"))
    writeExactKeyRows(seeded.select(col("__md5").as("key"), col("id")),
      stateDir, "base")
    for (s <- fam.semantic; _ <- s.thresholdE4) {
      val vecs = nonzeroVectors(s.embed(asMedia(curated)))
        .localCheckpoint(eager = true)
      Curation.writeSemIndex(vecs,
        Curation.semCentroidSample(vecs, s.centroidEvery),
        s"$stateDir/sem", s.centroidEvery, s.nassign, "base")
    }
    val sigs = signatures(seeded)
    fam.writeIndex(Run(spark, stateDir, "base", haveState = false), sigs,
      sigs)
  }

  /** Seed image state from an ALREADY-CURATED media corpus: exact
    * payload-md5 keys + pHash index under batch id "base" (undecodable
    * payloads excluded — they can never pair), plus the sem sub-state
    * when `cfg` enables the semantic stage.
    */
  def initImageStateFromCurated(spark: SparkSession, stateDir: String,
                                curated: Dataset[MediaRecord],
                                cfg: ImageIncrementConfig =
                                  ImageIncrementConfig()): Unit =
    seedFamily(imageFamily(cfg), curated.toDF(), stateDir,
      "initImageStateFromCurated")

  /** Seed AUDIO state from an ALREADY-CURATED media corpus — the audio
    * member of the [[initStateFromCurated]] family: exact payload-md5
    * keys + fingerprint index under batch id "base" (unprintable clips
    * excluded), plus the sem sub-state when the config enables the
    * semantic stage.
    */
  def initAudioStateFromCurated(spark: SparkSession, stateDir: String,
                                curated: Dataset[MediaRecord],
                                cfg: AudioIncrementConfig =
                                  AudioIncrementConfig()): Unit =
    seedFamily(audioFamily(cfg), curated.toDF(), stateDir,
      "initAudioStateFromCurated")

  /** Seed VIDEO state from an ALREADY-CURATED media corpus: exact
    * payload-md5 keys + keyframe index under batch id "base" (frameless
    * clips excluded), plus the sem sub-state when enabled.
    */
  def initVideoStateFromCurated(spark: SparkSession, stateDir: String,
                                curated: Dataset[MediaRecord],
                                cfg: VideoIncrementConfig =
                                  VideoIncrementConfig()): Unit =
    seedFamily(videoFamily(cfg), curated.toDF(), stateDir,
      "initVideoStateFromCurated")

  /** Seed EMBEDDING state from an ALREADY-CURATED (id, v) corpus: e6
    * fixed-point exact keys + the sem index (centroids drawn by the
    * replayable md5 rule from the corpus's non-zero vectors, pinned for
    * every later [[curateEmbeddingIncrement]]) under batch "base".
    */
  def initSemStateFromCurated(spark: SparkSession, stateDir: String,
                              curated: DataFrame,
                              cfg: EmbeddingIncrementConfig =
                                EmbeddingIncrementConfig()): Unit =
    seedFamily(embeddingFamily(cfg), curated, stateDir,
      "initSemStateFromCurated")

  /** The image increment: a new media batch curated against the
    * accumulated pHash + exact-payload state — decode ONCE, verdicts in
    * the [[CurateImages.run]] order (undecodable → exact vs state →
    * exact within batch → pHash near-dup vs state with min-old-parent →
    * within-batch components → optional SemDeDup over block-mean
    * embeddings), admitted signatures appended under `batchId` with the
    * pHash META partition as the increment's commit marker.
    */
  def curateImageIncrement(batch: Dataset[MediaRecord], stateDir: String,
                           batchId: String,
                           cfg: ImageIncrementConfig = ImageIncrementConfig())
      : IncrementResult =
    runFamily(imageFamily(cfg), batch.toDF(), stateDir, batchId,
      "curateImageIncrement")

  /** The audio increment: verdict order no_fingerprint → exact payload
    * key vs state then within batch → fingerprint near-dup vs committed
    * state with min-old-parent → within-batch pairs + components →
    * optional SemDeDup over pooled energy-profile embeddings (the
    * RESAMPLED re-encode regime the fixed-window fingerprint misses);
    * admitted fingerprints append under `batchId` with the audio META
    * partition as the commit marker.
    */
  def curateAudioIncrement(batch: Dataset[MediaRecord], stateDir: String,
                           batchId: String,
                           cfg: AudioIncrementConfig = AudioIncrementConfig())
      : IncrementResult =
    runFamily(audioFamily(cfg), batch.toDF(), stateDir, batchId,
      "curateAudioIncrement")

  /** The video increment: verdict order no_frames → exact payload key
    * vs state then within batch → keyframe near-dup vs committed state
    * with min-old-parent → within-batch pairs + components → optional
    * SemDeDup over pooled keyframe embeddings (the RE-GRAINED regime
    * per-frame pHash misses); admitted frame rows append under
    * `batchId` with the video META partition as the commit marker.
    */
  def curateVideoIncrement(batch: Dataset[MediaRecord], stateDir: String,
                           batchId: String,
                           cfg: VideoIncrementConfig = VideoIncrementConfig())
      : IncrementResult =
    runFamily(videoFamily(cfg), batch.toDF(), stateDir, batchId,
      "curateVideoIncrement")

  /** The embedding increment: a new snapshot of (id, v) rows curated
    * against the accumulated semantic state. Verdict order: exact dedup
    * (vector identity at e6 fixed-point — vs state then within batch) →
    * semantic near-dup (cosine ≥ threshold within shared cells of the
    * FROZEN [[graft.operators.Curation.semCentroidSample]] centroid set
    * — vs committed state with min-old-parent, then within-batch
    * components). Admitted non-zero vectors append under `batchId` with
    * the sem META partition as the commit marker.
    */
  def curateEmbeddingIncrement(batch: DataFrame, stateDir: String,
      batchId: String,
      cfg: EmbeddingIncrementConfig = EmbeddingIncrementConfig())
      : IncrementResult =
    runFamily(embeddingFamily(cfg), batch, stateDir, batchId,
      "curateEmbeddingIncrement")


  // ---- backfills: retroactive coverage for stages enabled late ----------

  /** Run `body` over the committed admitted history (id, batch_id) of
    * the family whose marker is `marker` — LOUD coverage first: every
    * committed admitted id must appear in `corpusIds`, or this throws.
    */
  private def withAdmittedHistory[A](spark: SparkSession, stateDir: String,
                                     marker: String, corpusIds: DataFrame,
                                     caller: String)(
      body: DataFrame => A): A = {
    val admittedIds = BatchTables.readCommitted(spark,
        s"$stateDir/ledger", BatchTables.committed(spark, s"$stateDir/$marker"))
      .filter(col("admitted"))
      .select(col("id"), col("batch_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val missing = admittedIds.join(corpusIds, Seq("id"), "left_anti")
        .count()
      require(missing == 0L,
        s"$caller: $missing admitted ids absent from the supplied " +
          "corpus — backfill needs the full admitted history")
      body(admittedIds)
    } finally admittedIds.unpersist()
  }

  /** The shared sem backfill: `embed` maps the admitted history to
    * (id, v) vectors; the non-zero ones are indexed under each doc's
    * ORIGINAL ledger batch id, so the serving-side restriction to
    * marker-committed batches holds unchanged. Each batch commits via
    * its own sem meta partition (written last); a rerun skips
    * already-committed batches and finishes the rest. Centroids are
    * drawn once from the FULL admitted non-zero corpus by the
    * replayable md5 rule, so a retried bootstrap draws the identical
    * set; an existing (partial) sub-state pins its dials. Returns the
    * number of vectors indexed by THIS call.
    */
  private def backfillSem(spark: SparkSession, stateDir: String,
                          marker: String, corpusIds: DataFrame,
                          caller: String, semDim: Int,
                          semCentroidEvery: Int, semNassign: Int)(
      embed: DataFrame => DataFrame): Long =
    withAdmittedHistory(spark, stateDir, marker, corpusIds, caller) {
      admittedIds =>
        import spark.implicits._
        def haveSem = semStateExists(spark, stateDir)
        val (ce, na) =
          if (!haveSem) (semCentroidEvery, semNassign)
          else {
            val (pce, pna, dim) = Curation.readSemMeta(spark,
              s"$stateDir/sem")
            require(dim == 0 || dim == semDim,
              s"$caller: semDim $semDim != pinned dim $dim")
            (pce, pna)
          }
        val nonzero = nonzeroVectors(embed(admittedIds))
          .join(admittedIds, Seq("id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          nonzero.count()
          // bounded: ledger batch ids (compaction keeps this small)
          val batches = admittedIds.select("batch_id").distinct()
            .as[String].collect().sorted
          val done: Set[String] =
            if (!haveSem) Set.empty
            else BatchTables.committed(spark, s"$stateDir/sem")
              .as[String].collect().toSet
          var indexed = 0L
          batches.filterNot(done).foreach { b =>
            val vecs = nonzero.filter(col("batch_id") === b)
              .select("id", "v")
            if (!haveSem)
              Curation.writeSemIndex(vecs,
                Curation.semCentroidSample(nonzero.select("id", "v"), ce),
                s"$stateDir/sem", ce, na, batchId = b)
            else Curation.appendSemVectors(spark, s"$stateDir/sem", vecs, b)
            indexed += vecs.count()
          }
          indexed
        } finally nonzero.unpersist()
    }

  /** Retroactive semantic coverage for a text state whose earlier
    * increments ran WITHOUT the semantic stage: embeds every
    * already-admitted doc and seeds/completes the sem sub-state so the
    * next [[curateIncrement]] with `semDedupThresholdE4` set dedups
    * against the full history, not just post-enablement batches.
    *
    * The caller supplies the admitted corpus text (`admittedCorpus`:
    * the accumulated admitted output the state was built from — the
    * state itself stores only keys/shingles, never raw text); coverage
    * is LOUD: every admitted id in the committed ledger must appear, or
    * this throws. Vectors are appended under each doc's ORIGINAL ledger
    * batch id, so the serving-side restriction to minhash-committed
    * batches holds unchanged.
    *
    * Crash-safe and re-entrant: each batch commits via its own sem meta
    * partition (written last); a rerun skips already-committed batches
    * and finishes the rest. Centroids are drawn once from the FULL
    * admitted non-zero corpus by the replayable md5 rule, so a retried
    * bootstrap draws the identical set. Returns the number of vectors
    * indexed by THIS call.
    */
  def semBackfill(spark: SparkSession, stateDir: String,
                  admittedCorpus: DataFrame, idCol: String, textCol: String,
                  semDim: Int = 64, semCentroidEvery: Int = 25,
                  semNassign: Int = 2): Long = {
    require(stateExists(spark, stateDir),
      s"semBackfill: no committed state at $stateDir")
    val corpus = textCorpus(admittedCorpus, idCol, textCol)
    backfillSem(spark, stateDir, TextLayout.marker, corpus.select("id"),
      "semBackfill", semDim, semCentroidEvery, semNassign)(admittedIds =>
      TextStats.hashEmbedVectors(
        corpus.join(admittedIds.select("id"), Seq("id"), "left_semi"),
        "id", "text", semDim))
  }

  /** Retroactive SUBSTRING-DEDUP coverage — [[semBackfill]]'s twin for
    * the `windows` claims table: embeds every already-admitted doc's
    * w-token window hashes under its ORIGINAL ledger batch id so the
    * next [[curateIncrement]] with `dedupWindowsW` set strips passages
    * of the full history, not just post-enablement batches. Coverage is
    * LOUD (every committed admitted id must appear in the supplied
    * corpus); idempotent and crash-rerunnable — every ledger batch's
    * claims rewrite under dynamic partition overwrite on each call, so
    * a torn backfill completes on rerun. The supplied text should be
    * the docs' FINAL admitted text (what entered the corpus). Returns
    * the number of claim rows written.
    */
  def windowBackfill(spark: SparkSession, stateDir: String,
                     admittedCorpus: DataFrame, idCol: String,
                     textCol: String, w: Int): Long = {
    require(stateExists(spark, stateDir),
      s"windowBackfill: no committed state at $stateDir")
    val corpus = textCorpus(admittedCorpus, idCol, textCol)
    withAdmittedHistory(spark, stateDir, TextLayout.marker,
        corpus.select("id"), "windowBackfill") { admittedIds =>
      val claims = Curation.windowClaims(
          corpus.join(admittedIds.select("id"), Seq("id"), "left_semi"),
          "id", "text", w)
        .join(admittedIds, Seq("id"))
        .select(col("id"), col("h"), col("batch_id"))
        .localCheckpoint(eager = true)
      claims.write.mode("overwrite").partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(s"$stateDir/windows")
      claims.count()
    }
  }

  /** [[semBackfill]] for a media family's root: the root must be the
    * family's (sentinel) and committed; `sem` embeds the supplied
    * payload corpus.
    */
  private def mediaSemBackfill(spark: SparkSession, stateDir: String,
                               layout: StateLayout, sem: Semantic,
                               corpus: Dataset[MediaRecord],
                               caller: String): Long = {
    val pinned = stateFamily(spark, stateDir)
    require(pinned.contains(layout.marker),
      s"$caller: state at $stateDir is " +
        s"'${pinned.getOrElse("<none>")}', expected '${layout.marker}'")
    require(markerExists(spark, stateDir, layout.marker),
      s"$caller: no committed ${layout.marker} state at $stateDir")
    backfillSem(spark, stateDir, layout.marker,
      corpus.toDF().select(col("media_id").as("id")), caller, sem.dim,
      sem.centroidEvery, sem.nassign)(_ => sem.embed(corpus))
  }

  /** Retroactive semantic coverage for an IMAGE state whose earlier
    * increments ran without the semantic stage — [[semBackfill]]'s
    * image twin: embeds every already-admitted image from the supplied
    * payload corpus and seeds/completes the sem sub-state per
    * committed batch, so the next [[curateImageIncrement]] with
    * `semDedupThresholdE4` set dedups against the FULL history instead
    * of post-enablement batches only. Idempotent per batch (already-
    * present sem batches are skipped); a torn backfill completes on
    * rerun. Returns the number of vectors indexed.
    */
  def imageSemBackfill(spark: SparkSession, stateDir: String,
                       corpus: Dataset[MediaRecord],
                       cfg: ImageIncrementConfig = ImageIncrementConfig())
      : Long =
    mediaSemBackfill(spark, stateDir, ImageLayout, imageSemantic(cfg),
      corpus, "imageSemBackfill")

  /** [[imageSemBackfill]] for an AUDIO state (pooled energy-profile
    * embeddings, [[graft.operators.Multimodal.audioEmbeddings]]).
    */
  def audioSemBackfill(spark: SparkSession, stateDir: String,
                       corpus: Dataset[MediaRecord],
                       cfg: AudioIncrementConfig = AudioIncrementConfig())
      : Long =
    mediaSemBackfill(spark, stateDir, AudioLayout, audioSemantic(cfg),
      corpus, "audioSemBackfill")

  /** [[imageSemBackfill]] for a VIDEO state (pooled keyframe block-mean
    * embeddings, [[graft.operators.Multimodal.videoEmbeddings]]).
    */
  def videoSemBackfill(spark: SparkSession, stateDir: String,
                       corpus: Dataset[MediaRecord],
                       cfg: VideoIncrementConfig = VideoIncrementConfig())
      : Long =
    mediaSemBackfill(spark, stateDir, VideoLayout, videoSemantic(cfg),
      corpus, "videoSemBackfill")

  // ---- retraction (right-to-be-forgotten) --------------------------------

  /** Remove documents/media from the ACCUMULATED increment state — the
    * deletion request a production corpus must honor (a retracted doc
    * must stop causing exact/near/semantic dup verdicts, and a
    * resubmission of the same content must admit fresh). Sweeps every
    * state sub-table present under `stateDir` (text, image, audio,
    * video, semantic — they share the id + batch_id-partition layout):
    * only the partitions actually holding the ids rewrite (dynamic
    * overwrite), partitions the retraction empties become zero-row
    * parquet, and everything else — including the commit markers — is untouched, so
    * batch visibility never changes. The LEDGER keeps its one-row-per-
    * submission accounting: retracted ids' rows flip to
    * (admitted = false, reason = "retracted") instead of vanishing.
    *
    * Contracts and caveats (documented, by design):
    *  - IDEMPOTENT and crash-rerunnable: a retraction that died mid-
    *    sweep reruns with the same ids to completion (each table's
    *    rewrite is independently idempotent).
    *  - `dup_of` audit pointers in OTHER docs' ledger rows may reference
    *    a retracted id — the verdict history is the record of what
    *    happened, not a live join target.
    *  - Docs REJECTED earlier as dups of a retracted doc are not
    *    resurrected (they were never admitted; their content re-enters
    *    by resubmission if wanted).
    */
  def retract(spark: SparkSession, stateDir: String,
              ids: DataFrame): Unit = {
    val idsN = ids.select(col(ids.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint(eager = true)
    for (sub <- StateHeavyTables)
      BatchTables.purge(spark, s"$stateDir/$sub", idsN)
    // the frozen centroid set stores FULL embedding vectors of sampled
    // docs (cid = doc id) — a deletion request covers that derived copy
    // too; run a semRetrain after retracting centroid members
    Maintain.retractCentroids(spark, s"$stateDir/sem/centroids", idsN)
    BatchTables.rewritePartitions(spark, s"$stateDir/ledger")(
      BatchTables.holding(idsN),
      _.join(idsN.withColumn("__r", lit(true)), Seq("id"), "left_outer")
        .select(col("id"),
          when(col("__r"), lit(false)).otherwise(col("admitted"))
            .as("admitted"),
          when(col("__r"), lit("retracted")).otherwise(col("reason"))
            .as("reason"),
          when(col("__r"), col("id")).otherwise(col("dup_of")).as("dup_of"),
          col("batch_id")))
  }

  /** Compact an increment state: after N increments every data table
    * holds N small batch_id partitions, and each new batch's state scan
    * opens all of them. This writes a fresh state at `destDir` with the
    * committed rows of every heavy table folded into ONE `base`
    * partition, preserving serving semantics exactly:
    *
    *  - heavy tables (exact keys, window claims, minhash bands/shingles,
    *    pHash sigs, audio fps/sizes, video frames/sizes per the family)
    *    fold committed-batch rows under batch_id `base`;
    *  - `ledger/` and `metrics/` copy VERBATIM — the audit trail and the
    *    per-batch funnel time series keep their original batch ids;
    *  - a `sem/` sub-state (text funnel) copies verbatim too: its own
    *    meta ∩ the marker's committed set governs its serving, and both
    *    survive because the dest marker keeps every original batch id;
    *  - the marker meta is written LAST, carrying the original committed
    *    rows PLUS a `base` row with the same pinned payload — a crash
    *    anywhere earlier leaves `destDir` without its marker, which
    *    `*stateExists` reads as no-state (loud at the orchestration
    *    layer, never a silently-empty serve), and a rerun overwrites
    *    everything idempotently.
    *
    * Folded batch ids are recorded in a `_folded` sentinel at `destDir`;
    * the increment entry points refuse a retry of a folded id (its rows
    * live under `base`, so the excludeBatch pre-batch view cannot hide
    * them — the rerun would self-dup the whole batch, ADVICE r16).
    *
    * Torn batches in `srcDir` (data without a marker row) are dropped by
    * the committed semi join — compaction is also the physical-erasure
    * completion point for retracted rows' emptied partitions. Run it
    * offline (no concurrent increment against `srcDir`); afterwards
    * point the ingest at `destDir` and decommission the old root.
    */
  def compactStateTo(spark: SparkSession, srcDir: String,
                     destDir: String): Unit = {
    val family = stateFamily(spark, srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"compactStateTo: $srcDir has no _family sentinel — not an " +
          "increment state root"))
    val layout = Layouts.find(_.marker == family).getOrElse(
      throw new IllegalArgumentException(
        s"compactStateTo: unknown state family '$family'"))
    val metaRel = s"$family/meta"
    require(!BatchTables.exists(spark, s"$destDir/$metaRel"),
      s"compactStateTo: $destDir already has a committed state")
    val meta = spark.read.parquet(s"$srcDir/$metaRel")
    val committed = meta.select("batch_id").distinct()
      .localCheckpoint(eager = true)
    // the payload every committed batch pinned, restated by the
    // family's own rule (sem: an empty first batch's dim 0 gives way)
    val payload = layout.family.restate(spark, s"$srcDir/$family")
    claimFamily(spark, destDir, family, "compactStateTo")
    for (rel <- Seq("ledger", "metrics") ++ layout.verbatim :+ "decontam"
         if BatchTables.exists(spark, s"$srcDir/$rel"))
      BatchTables.copyTree(spark, s"$srcDir/$rel", s"$destDir/$rel")
    // folded-batch sentinel BEFORE the marker: the ids whose rows now
    // live under `base` (plus any ids already folded in the source by a
    // prior compaction) — the entry points refuse retries of these
    import scala.jdk.CollectionConverters._
    val foldedIds = (committed.select("batch_id").as[String](
        org.apache.spark.sql.Encoders.STRING)
      .collectAsList().asScala.toSeq.filter(_ != "base") ++
      readFoldedSentinel(spark, srcDir)).distinct
    writeRootFile(spark, destDir, "_folded",
      foldedIds.sorted.mkString("\n"))
    // heavy tables fold under `base`, then the marker LAST: original
    // committed rows verbatim + the base row
    BatchTables.fold(spark, srcDir, destDir, "exact/keys" +: layout.heavy,
      committed, meta.unionByName(payload.withColumn("batch_id",
        lit("base"))), metaRel)
  }
}
