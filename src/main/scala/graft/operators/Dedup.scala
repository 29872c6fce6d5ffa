package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dedup family for the LLM-training-data pipeline north star: exact dedup
  * lives in `core.Ops.latestPerGroup` (hash-groupBy); this module adds the
  * near-dup operators — MinHash+LSH, SimHash, and n-gram Jaccard — built
  * entirely from codegen'd Catalyst built-ins (no UDFs), so every stage stays
  * inside whole-stage codegen and the only shuffles are the explicit
  * band-bucket / gram joins.
  *
  * Scale notes (the 100 TB design point):
  *  - MinHash+LSH: per-row signature work is embarrassingly parallel; the
  *    candidate join shuffles on (band, bandHash) — bucket sizes are bounded
  *    by collision probability, never a cross join.
  *  - the verify step joins candidates back to shingle sets on doc id — an
  *    equi-join Catalyst can plan as shuffle-hash; candidates are tiny
  *    relative to the corpus.
  *  - SimHash is a pure per-row map (one pass over tokens per bit).
  */
object Dedup {

  /** lower, strip non-alphanumerics, split; drop empty tokens: the
    * `[a-z0-9]` runs of Spark's `lower(text)` ([[graft.functions
    * .NormalizeWords]]; null text gives null).
    */
  def normalizeWords(text: Column): Column =
    graft.functions.NormalizeWords(lower(text))

  /** Plain-JVM form of [[normalizeWords]] for the executor-side /
    * driver-side code paths that cannot use a Column (the streaming
    * gates). Lowercases with `Locale.ROOT` so the SAME helper produces
    * the SAME tokens on every JVM regardless of default locale — both
    * sides of a gate built on this are self-consistent by construction
    * — then takes the runs with the batch kernel's own body.
    * Parity with the Spark expression ([[normalizeWords]]'s `lower()`):
    * identical wherever the lowercase mapping is locale-invariant —
    * all ASCII and almost all of Unicode; the known exceptions are the
    * Turkish/Azeri dotted/dotless I and Lithuanian accent special
    * cases, which diverge only when the BATCH job runs under one of
    * those default JVM locales (documented next to the gate's
    * spec-pinned batch-equivalence claim).
    */
  def normalizeWordsLocal(text: String): Array[String] =
    graft.functions.NormalizeWords.runs(lowerLocal(text)).map(_.toString)

  /** The stream side's lowercasing: `Locale.ROOT`, null as empty text. */
  def lowerLocal(text: String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))

  /** k-word shingles (k fixed at 3 — the common near-dup choice). The
    * n=3 case of [[Curation.wordNgrams]].
    */
  def shingles3(words: Column): Column = Curation.wordNgrams(words, 3)

  /** Affine-permutation modulus: the Mersenne prime 2³¹−1. Base values are
    * reduced mod p BEFORE the permutation, so `a·v + b ≤ 2²⁹·2³¹ + 2³¹ < 2⁶³`
    * — no BIGINT overflow in either engine (DuckDB `%` on non-negative
    * operands matches Spark's).
    */
  val MinhashP: Long = 2147483647L

  /** Permutation multiplier for hash `h`: an LCG-scrambled constant in
    * [1, 2²⁹) — bounded so the product stays in BIGINT range (see
    * [[MinhashP]]); +1 keeps it nonzero (a=0 would be a constant map).
    */
  def minhashA(h: Int): Long =
    (1103515245L * (h + 1) + 12345L) % 536870911L + 1L

  /** Permutation offset for hash `h`, in [0, p). */
  def minhashB(h: Int): Long = (69069L * (h + 7)) % MinhashP

  /** (id, sh) shingle table — the materialization point of the LSH
    * pipeline. Widened before the per-row-heavy normalize/shingle work so a
    * one-row-group parquet input doesn't serialize onto one core.
    *
    * NOTE: no `size(sh) > 0` filter here — a filter over the computed array
    * gets pushed below the exchange with the alias substituted, so the
    * whole normalize/shingle pipeline would run a second time per row
    * inside the filter. Callers filter after the persist barrier instead.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Ops.widen(df)
      .select(col(idCol), shingles3(normalizeWords(col(textCol))).as("sh"))

  /** LSH banding over a shingle table: compact rows (id, band, bandHash) —
    * one row per band, numHashes = bands * rowsPerBand. The band key is
    * the plain `'|'`-joined signature tuple ([[graft.functions
    * .MinhashBands]]: one md5 per shingle, then the affine permutations) —
    * equality on it is equality on the tuple.
    */
  def lshBands(shingled: DataFrame, idCol: String,
               bands: Int = 4, rowsPerBand: Int = 3): DataFrame =
    shingled
      .select(col(idCol), posexplode(
        graft.functions.MinhashBands(col("sh"), bands, rowsPerBand)))
      .select(col(idCol), col("pos").as("band"), col("col").as("bh"))

  /** Near-dup candidate pairs via the LSH bucket join, verified with exact
    * Jaccard over distinct 3-shingle sets. Returns (idA, idB, jacc_e4) with
    * idA < idB, jacc_e4 = floor(jaccard·10⁴ + 0.5) as BIGINT (fixed-point —
    * representation-stable across engines, unlike DECIMAL-from-double).
    *
    * The shingle and band tables are persisted: each is consumed by two or
    * three downstream branches (self-join sides, verify join), and without
    * pinning, Spark would re-run the full hash pipeline per consumer. At
    * cluster scale these are the "signature tables" an LSH system would
    * materialize anyway (MEMORY_AND_DISK — spills, never OOMs). The
    * `Managed` variant hands those persists back for cleanup — long-lived
    * sessions should consume the result, then `close()`; the plain variant
    * keeps them pinned (callers that `clearCache()` anyway, or one-shot
    * jobs, don't care).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bands: Int = 4, rowsPerBand: Int = 3): DataFrame =
    minhashNearDupPairsManaged(df, idCol, textCol, bands, rowsPerBand).df

  /** Band-bucket population profile of a set of LSH band rows
    * (`(id, band, bh)` — a batch's own rows, or an index's `bands`
    * table): one row of (buckets, band_rows, max_bucket). The LSH
    * bucket join's cost is Σ pop² per bucket, so `max_bucket` is the
    * early-warning dial for a pathological corpus (a mass-duplicated
    * boilerplate band collapses thousands of docs into one bucket and
    * skews the shuffle long before the join itself falls over at
    * 100 TB — VERDICT r17 #7). Pure aggregate, no plan change to the
    * dedup itself.
    */
  def bandBucketStats(bandRows: DataFrame): DataFrame =
    bandRows.groupBy("band", "bh").agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("buckets"),
        coalesce(sum("pop"), lit(0L)).as("band_rows"),
        coalesce(max("pop"), lit(0L)).as("max_bucket"))

  def minhashNearDupPairsManaged(df: DataFrame, idCol: String, textCol: String,
                                 bands: Int = 4, rowsPerBand: Int = 3)
      : graft.core.Managed =
    minhashNearDupPairsBanded(df, idCol, textCol, bands, rowsPerBand)._1

  /** [[minhashNearDupPairsManaged]] plus the PERSISTED band rows it
    * computed anyway (one of the Managed's pins, so consuming them for
    * a [[bandBucketStats]] metric costs one cheap aggregate, not a
    * second hash pipeline). Read the stats before `close()`.
    */
  def minhashNearDupPairsBanded(df: DataFrame, idCol: String,
                                textCol: String, bands: Int = 4,
                                rowsPerBand: Int = 3)
      : (graft.core.Managed, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val shRaw = shingleSets(df, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shRaw.filter(size(col("sh")) > 0) // above the cache barrier: no pushdown
    val b = lshBands(sh, idCol, bands, rowsPerBand).persist(StorageLevel.MEMORY_AND_DISK)
    val a = b.select(col(idCol).as("idA"), col("band"), col("bh"))
    val c = b.select(col(idCol).as("idB"), col("band"), col("bh"))
    val cand = a.join(c, Seq("band", "bh"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    val shSets = sh.select(col(idCol), array_distinct(col("sh")).as("shd"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jacc = graft.core.Ops.fixedPoint(inter * lit(1.0) /
      (size(col("sa")) + size(col("sb")) - inter), 4)
    val out = cand
      .join(shSets.select(col(idCol).as("idA"), col("shd").as("sa")), "idA")
      .join(shSets.select(col(idCol).as("idB"), col("shd").as("sb")), "idB")
      .select(col("idA"), col("idB"), jacc.as("jacc_e4"))
    (graft.core.Managed(out, Seq(shRaw, b)), b)
  }

  /** Persist a corpus snapshot's LSH signature tables — the INCREMENTAL
    * crawl-dedup shape: each new snapshot dedups against the accumulated
    * index ([[nearDupAgainstIndex]]) without re-scanning or re-hashing
    * the old corpus, then [[appendToMinhashIndex]] folds its own tables
    * in for the next round. This is exactly what an LSH system
    * materializes anyway (the [[minhashNearDupPairsManaged]] persists,
    * made durable) — at 100 TB the old corpus is read-never, only its
    * band keys (∼40 B/doc/band) and distinct-shingle sets move.
    *
    * Layout: `dir/bands` (id, band, bh), `dir/shingles` (id, shd),
    * `dir/meta` (bands, rows_per_band — banding is baked into the keys,
    * so queries must match; checked on read). Ids are stored under the
    * canonical name `id` whatever the input column was.
    *
    * Crash/retry safety (the BM25-index contract, see
    * [[graft.operators.TextStats.writeBm25Index]]): every table is
    * partitioned by `batch_id`, writes land shingles → bands → meta with
    * the batch's meta row as COMMIT MARKER, and a retried append reuses
    * its batch id under dynamic partition overwrite so partial writes are
    * replaced, never doubled. Readers see only committed batches.
    */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        dir: String, bands: Int = 4,
                        rowsPerBand: Int = 3): Unit =
    writeMinhashParts(df, idCol, textCol, dir, bands, rowsPerBand,
      overwrite = true, batchId = "base")

  /** Fold a new batch's signature tables into an existing index (append —
    * no old data is read or rewritten). Caller contract: batch ids are
    * disjoint from indexed ids (the crawl-snapshot invariant); retries of
    * a FAILED append reuse `batchId` (idempotent replace), distinct
    * batches use distinct ids.
    */
  def appendToMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, df: DataFrame, idCol: String,
                           textCol: String, batchId: String): Unit = {
    val (bands, rowsPerBand) = readMinhashMeta(spark, dir)
    writeMinhashParts(df, idCol, textCol, dir, bands, rowsPerBand,
      overwrite = false, batchId = batchId)
  }

  private[graft] def writeMinhashParts(df: DataFrame, idCol: String,
                                textCol: String, dir: String, bands: Int,
                                rowsPerBand: Int, overwrite: Boolean,
                                batchId: String): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "minhash index")
    def write(d: DataFrame, table: String): Unit =
      graft.core.BatchTables.write(d, s"$dir/$table", batchId, overwrite)
    val shRaw = shingleSets(df, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shRaw.filter(size(col("sh")) > 0)
    write(sh.select(col(idCol).as("id"), array_distinct(col("sh")).as("shd")),
      "shingles")
    write(lshBands(sh, idCol, bands, rowsPerBand)
        .select(col(idCol).as("id"), col("band"), col("bh")), "bands")
    // the commit marker — also re-states the banding so EVERY committed
    // batch pins the same (bands, rows_per_band); checked on read
    write(df.sparkSession.range(1)
        .select(lit(bands).as("bands"), lit(rowsPerBand).as("rows_per_band")),
      "meta")
    shRaw.unpersist(false)
  }

  private[graft] def readMinhashMeta(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int) = {
    val r = graft.core.BatchTables.pinnedMeta(spark, dir,
      Seq("bands", "rows_per_band"), "minhash index")
    (r.getInt(0), r.getInt(1))
  }

  /** Near-dup pairs of NEW docs against an indexed old snapshot:
    * (id_new, id_old, jacc_e4). The new batch shingles and bands ONCE
    * (persisted — two consumers, handed back via Managed); candidates
    * come from one equi join of new band rows against the index's band
    * rows on (band, bh); exact Jaccard verifies each candidate against
    * the STORED old shingle sets. New×new pairs are deliberately not
    * emitted (dedup the batch internally with [[minhashNearDupPairs]]
    * first if needed) and the old corpus never re-hashes — the cost per
    * snapshot is O(new + matching band rows).
    *
    * `excludeBatch`: ignore the named committed batch (the increment
    * retry's pre-batch view — a RETRY of a batch id must not see its own
    * prior partial append as "old" docs, or its verdicts would flip).
    */
  def nearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, newDocs: DataFrame, idCol: String,
                          textCol: String,
                          excludeBatch: Option[String] = None)
      : graft.core.Managed = {
    val (bands, rowsPerBand) = readMinhashMeta(spark, dir)
    val shRaw = shingleSets(newDocs, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = shRaw.filter(size(col("sh")) > 0)
    val committed =
      graft.core.BatchTables.committed(spark, dir, excludeBatch)
    val nb = lshBands(sh, idCol, bands, rowsPerBand)
      .select(col(idCol).as("id_new"), col("band"), col("bh"))
    val ob = graft.core.BatchTables
      .readCommitted(spark, s"$dir/bands", committed)
      .select(col("id").as("id_old"), col("band"), col("bh"))
    val cand = nb.join(ob, Seq("band", "bh"))
      .filter(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
    val newSets = sh.select(col(idCol).as("id_new"),
      array_distinct(col("sh")).as("sa"))
    val oldSets = graft.core.BatchTables
      .readCommitted(spark, s"$dir/shingles", committed)
      .select(col("id").as("id_old"), col("shd").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jacc = graft.core.Ops.fixedPoint(inter * lit(1.0) /
      (size(col("sa")) + size(col("sb")) - inter), 4)
    val out = cand
      .join(newSets, "id_new")
      .join(oldSets, "id_old")
      .select(col("id_new"), col("id_old"), jacc.as("jacc_e4"))
    graft.core.Managed(out, Seq(shRaw))
  }

  /** Connected components over near-dup pairs — the step that turns a pair
    * list (from [[minhashNearDupPairs]] / [[ngramJaccardPairs]] /
    * `Similarity.rpLshNearDupPairs`) into dedup GROUPS (keep one doc per
    * component, drop the rest). Min-label propagation: every node starts
    * labeled with its own id; each round takes the min label over
    * neighbors; converges in graph-diameter rounds (near-dup components
    * are shallow — duplicates of duplicates — so a handful of rounds).
    *
    * Scale shape: round one is one min-aggregate over the edges; each
    * later round is one equi-join (edges ⋈ labels on node id) plus a
    * min-aggregate — all distributed; the driver only reads the round's
    * changed-label count (one scalar, observed on the checkpoint job
    * itself). Labels are checkpointed per round —
    * NOT merely persisted: each round references the previous labels twice
    * (the update join and the left-outer label join), so without lineage
    * TRUNCATION the logical plan doubles per iteration and the driver OOMs
    * building plans near diameter ~24 (measured; a persist caches data but
    * keeps the full plan). `checkpointDir` selects the truncation flavor:
    * None (default) uses `localCheckpoint` — fast, but blocks live on
    * executors, so an executor loss kills the job; a directory (HDFS/object
    * store at cluster scale) uses reliable `checkpoint`, which survives
    * executor loss at the cost of a write per round. Same plan shape either
    * way. Returns (id, label) with label = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "idA",
                          idB: String = "idB", maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsManaged(pairs, idA, idB, maxIters, checkpointDir).df

  /** [[connectedComponents]] with the final label table handed back for
    * cleanup (the iteration has already materialized it; `close()` after
    * consuming).
    */
  def connectedComponentsManaged(pairs: DataFrame, idA: String = "idA",
                                 idB: String = "idB", maxIters: Int = 20,
                                 checkpointDir: Option[String] = None)
      : graft.core.Managed = {
    import org.apache.spark.storage.StorageLevel
    // setCheckpointDir is SparkContext-global; callers sharing a session
    // with other checkpoint users should pass the same directory
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def truncated(df: DataFrame): DataFrame = // eager: materializes AND truncates
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // both directions from ONE scan of the pairs: a union of two selects
    // would run the whole (lazy) pair pipeline once per branch
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = null
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // (convergence checked below; exhausting maxIters without it throws —
      // truncated labels would silently split one real component in two)
      // Each round's frame carries the previous label. Round one starts
      // from every node labelled with its own id, so it is seeded directly
      // from the edges (every node is a src): least of the id and its
      // neighbours' ids.
      val round =
        if (labels == null)
          edges.groupBy(col("src").as("id"))
            .agg(min(col("dst")).as("nlabel"))
            .select(col("id"), least(col("id"), col("nlabel")).as("label"),
              col("id").as("prev"))
        else {
          val nbrMin = edges
            .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
            .groupBy(col("src").as("id"))
            .agg(min(col("label")).as("nlabel"))
          labels
            .join(nbrMin, Seq("id"), "left_outer")
            .select(col("id"),
              least(col("label"), coalesce(col("nlabel"), col("label")))
                .as("label"),
              col("label").as("prev"))
        }
      // the changed-label count rides on the checkpoint's own job
      val changedObs = new Observation()
      val updated = truncated(round.observe(changedObs,
        count(when(col("label") < col("prev"), lit(1))).as("changed")))
      val changed = changedObs.get("changed").asInstanceOf[Long]
      // (no unpersist: localCheckpoint blocks aren't CacheManager entries;
      // the ContextCleaner reclaims each round's as its RDD drops out of
      // reference — the standard iterative pattern)
      labels = updated.drop("prev")
      converged = changed == 0
      iters += 1
    }
    edges.unpersist()
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations " +
          "(component diameter exceeds maxIters) — raise maxIters; " +
          "truncated labels would silently split real components")
    }
    // the checkpoint blocks behind intermediate rounds are reclaimed by the
    // ContextCleaner as their RDDs drop out of reference (standard iterative
    // pattern); the FINAL labels get an explicit persist so Managed.close()
    // frees them deterministically
    val out = labels.persist(StorageLevel.MEMORY_AND_DISK)
    graft.core.Managed(out, Seq(out))
  }

  /** 16-bit SimHash over the token multiset. Bit j (1-based, MSB first) is
    * the sign of the sum over tokens of ±1 from the parity of md5 nibble j.
    * Emitted as one generated SQL expression so the DuckDB oracle can be the
    * same text modulo list-function names.
    */
  val SimhashBits = 16

  /** Token-hash array for [[simhash16]]: md5 once per token. The naive form
    * (md5 inside each bit's aggregate lambda) recomputes md5 per token PER
    * BIT — 16× the hash work for identical output. Project this as its own
    * attribute (`wh`) before calling simhash16, so the transform evaluates
    * once per row.
    */
  def tokenHashes(words: Column): Column = transform(words, t => md5(t))

  /** 16-bit SimHash over a precomputed token-hash array column named `wh`
    * (see [[tokenHashes]]). Bit j (1-based, MSB first) is the sign of the
    * sum over tokens of ±1 from the parity of md5 nibble j. The DuckDB
    * oracle renders the same values directly from the words array.
    */
  def simhash16: Column = {
    val terms = (1 to SimhashBits).map { j =>
      val pm1 =
        s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) % 2 * 2 - 1"
      val bitSum = s"aggregate(wh, 0, (acc, h) -> acc + ($pm1))"
      val bit = s"(CASE WHEN ($bitSum) > 0 THEN 1 ELSE 0 END)"
      s"$bit * ${1L << (SimhashBits - j)}"
    }
    expr(s"CAST(${terms.mkString(" + ")} AS BIGINT)")
      .as("simhash")
  }

  /** DuckDB rendering of [[simhash16]] over a words column named `w`. */
  def simhash16DuckSql: String = {
    val terms = (1 to SimhashBits).map { j =>
      val pm1 =
        s"(strpos('0123456789abcdef', substr(md5(t), $j, 1)) - 1) % 2 * 2 - 1"
      val bitSum = s"list_sum(list_transform(w, t -> $pm1))"
      val bit = s"(CASE WHEN coalesce($bitSum, 0) > 0 THEN 1 ELSE 0 END)"
      s"$bit * ${1L << (SimhashBits - j)}"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** Batch SimHash near-dup pairs — the bucket-join form of what
    * [[graft.streaming.NearDupStream]] does incrementally: band each 16-bit
    * signature into `NumBands` 4-bit keys (pigeonhole: two sigs within
    * hamming NumBands−1 agree exactly on ≥1 band), equi-join on
    * (band, bits), verify with `bit_count(xor) <= maxHamming`. Output
    * (idA, idB, hamming) distinct pairs, idA < idB. The only shuffle is
    * the 4-row-per-doc band join — never all-pairs.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashNearDupPairsManaged(df, idCol, textCol, maxHamming).df

  def simhashNearDupPairsManaged(df: DataFrame, idCol: String,
                                 textCol: String, maxHamming: Int = 3)
      : graft.core.Managed = {
    require(maxHamming < 4, "pigeonhole over 4 bands needs maxHamming < 4")
    // persisted: the signature derivation (md5 per token + 16 folds per
    // doc) feeds BOTH self-join sides — same discipline as the other
    // near-dup operators
    val sigs = graft.core.Ops.widen(df)
      .withColumn("wh", tokenHashes(normalizeWords(col(textCol))))
      .withColumn("sig", simhash16)
      .select(col(idCol), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col(idCol), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 4).bitwiseAND(15).as("bits"))): _*))
        .as("bb"))
      .select(col(idCol), col("sig"), col("bb.band").as("band"),
        col("bb.bits").as("bits"))
    val a = bands.select(col(idCol).as("idA"), col("sig").as("sa"),
      col("band"), col("bits"))
    val b = bands.select(col(idCol).as("idB"), col("sig").as("sb"),
      col("band"), col("bits"))
    val out = a.join(b, Seq("band", "bits"))
      .filter(col("idA") < col("idB"))
      .withColumn("hamming",
        expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("idA", "idB", "hamming").distinct()
    graft.core.Managed(out, Seq(sigs))
  }

  /** n-gram Jaccard similarity join via the distributed explode-join shape:
    * explode distinct word-2-grams, self-join on gram (the shuffle key),
    * count intersections per pair, then Jaccard from per-doc gram counts.
    * Never materializes a cross join — pairs sharing zero grams never meet.
    */
  /** `maxGramDocFreq`: at corpus scale an ultra-common gram (a stop-bigram
    * present in most documents) turns its join bucket into |docs|² rows —
    * the classic hot-key blow-up. Capping gram document-frequency drops
    * those grams BEFORE the self-join; near-dup pairs still share plenty of
    * rare grams, so recall loss is negligible (standard practice). The cap
    * is ON by default — running uncapped at corpus scale is the hot-key
    * quadratic, so exact semantics is the opt-in (`None`), not the default.
    * Output: (idA, idB, jacc_e4) — Jaccard as scale-4 fixed-point BIGINT.
    */
  val DefaultMaxGramDocFreq = 1000L

  /** An ABSOLUTE cap mis-scales as the corpus grows (SCALE.md, measured:
    * recall collapses to zero at 10x when DF outgrows a fixed cap, while
    * raising the cap 10x re-admits the DF² hot-gram blowup). The FRACTION
    * form keeps the cap meaning "a gram present in more than this share of
    * documents is boilerplate, not evidence" at every corpus size — the
    * production dial. Costs one count() over the persisted gram table.
    */
  def ngramJaccardPairsByFraction(df: DataFrame, idCol: String,
                                  textCol: String, threshold: Double,
                                  maxGramDocFraction: Double = 0.01)
      : graft.core.Managed =
    ngramJaccardPairsManaged(df, idCol, textCol, threshold,
      maxGramDocFreq = None,
      maxGramDocFraction = Some(maxGramDocFraction))

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double,
                        maxGramDocFreq: Option[Long] =
                          Some(DefaultMaxGramDocFreq)): DataFrame =
    ngramJaccardPairsManaged(df, idCol, textCol, threshold, maxGramDocFreq).df

  def ngramJaccardPairsManaged(df: DataFrame, idCol: String, textCol: String,
                               threshold: Double,
                               maxGramDocFreq: Option[Long] =
                                 Some(DefaultMaxGramDocFreq),
                               maxGramDocFraction: Option[Double] = None)
      : graft.core.Managed = {
    maxGramDocFraction.foreach(f => require(f > 0 && f <= 1,
      "maxGramDocFraction must be in (0, 1]"))
    // same two-step projection + filter-above-cache discipline as
    // shingleSets (see the NOTE there)
    val gramsRaw = graft.core.Ops.widen(df)
      .select(col(idCol), normalizeWords(col(textCol)).as("__w"))
      .select(col(idCol), array_distinct(
        when(size(col("__w")) >= 2,
          transform(sequence(lit(1), size(col("__w")) - 1),
            i => concat_ws(" ", element_at(col("__w"), i),
              element_at(col("__w"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("__g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = gramsRaw.filter(size(col("__g")) > 0)
    val counts = grams.select(col(idCol), size(col("__g")).as("n"))
    val explodedAll = grams.select(col(idCol), explode(col("__g")).as("gram"))
    // fraction cap counts the PERSISTED gram table (one row per doc) —
    // not the raw input, whose upstream plan would re-run end to end
    val cap = maxGramDocFraction
      .map(f => math.max(1L, (gramsRaw.count() * f).toLong))
      .orElse(maxGramDocFreq)
    val exploded = cap.fold(explodedAll) { cap =>
      val df = explodedAll.groupBy("gram").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= cap).select("gram")
      explodedAll.join(df, Seq("gram"))
    }
    val inter = exploded.as("x").join(exploded.as("y"), Seq("gram"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("idA"), col(s"y.$idCol").as("idB"))
      .agg(count(lit(1)).as("ninter"))
    val out = inter
      .join(counts.select(col(idCol).as("idA"), col("n").as("na")), "idA")
      .join(counts.select(col(idCol).as("idB"), col("n").as("nb")), "idB")
      .withColumn("__raw",
        col("ninter") * lit(1.0) / (col("na") + col("nb") - col("ninter")))
      .filter(col("__raw") >= threshold)
      .select(col("idA"), col("idB"),
        graft.core.Ops.fixedPoint(col("__raw"), 4).as("jacc_e4"))
    graft.core.Managed(out, Seq(gramsRaw))
  }
}
