package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Ops

/** NN-Descent kNN graph construction (Dong, Moses & Li 2011, "Efficient
  * k-nearest neighbor graph construction for generic similarity
  * measures") — the CENTROID-FREE alternative the IVF-routed consumers
  * (SemDeDup, hard-negative mining) need when the corpus has no usable
  * cell structure: instead of probing quantizer cells, every node
  * refines its k-best list from its neighbors' neighbors, exploiting
  * the observation that a neighbor of a neighbor is likely a neighbor.
  *
  * Distributed re-expression, every step a keyed shuffle:
  *
  *  1. INIT — a deterministic md5 ring: ids ranked by
  *     `(md5(id), id)` ([[Ops.globalRank]], pinned), node r's initial
  *     candidates are ranks r+1..r+k (mod n). Hash order is
  *     content-independent, so the init is an arbitrary-but-replayable
  *     random graph — the q142 deterministic-replay discipline (the
  *     probe oracle replays init and every round verbatim).
  *  2. ROUND — undirect the current graph (forward ∪ reverse edges:
  *     the paper's N(v) ∪ R(v)), join it to itself for
  *     neighbor-of-neighbor candidates, union the incumbent edges,
  *     score by e4 cosine, keep each node's top k
  *     (`row_number` per id — bounded groups of ≤ (2k)² + k rows, no
  *     single-partition window). Each round localCheckpoints (the
  *     iterative-plan discipline).
  *
  * Cost per round: the self-join emits ≤ n·(2k)² candidate rows and the
  * scoring joins are k²-bounded per node — corpus-linear in n at fixed
  * k, against brute force's n². Convergence is the paper's: 2-3 rounds
  * reach high recall because the neighborhood relation is approximately
  * transitive; tools/Recall measures recall-vs-brute-force at 1×/10×.
  *
  * Output: (id, nbr, score_e4, rnk) — k rows per node, rank by
  * (score desc, nbr asc), ties deterministic.
  */
object KnnGraph {

  /** `warmCells`: 0 = the md5-ring cold init; > 0 = WARM init — a
    * one-pass IVF assignment into `warmCells` hash-sampled centroids,
    * ring-seeding WITHIN each cell (so initial candidates are already
    * locality-biased instead of uniform). The SCALE.md --nnd curve
    * measured the cold ring needing ~8 rounds to reach 0.8 in-cluster
    * edge mass because it starts at ~1.5%; a warm init starts each
    * node among quantizer-co-located peers and converges rounds
    * earlier (measured row alongside). Still deterministic: centroid
    * sample and ring order are both md5-derived.
    */
  def knnGraph(vectors: DataFrame, k: Int, iters: Int = 2,
               warmCells: Int = 0): DataFrame = {
    require(k >= 1 && iters >= 0,
      s"knnGraph: k ($k) must be >= 1, iters ($iters) >= 0")
    require(warmCells >= 0, s"knnGraph: warmCells ($warmCells) >= 0")
    val vecs = Ops.widen(vectors)
      .select(col("id"), Similarity.toDoubleVec(col("v")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def score(edges: DataFrame): DataFrame = edges
      .join(vecs.select(col("id"), col("v").as("__va")), Seq("id"))
      .join(vecs.select(col("id").as("nbr"), col("v").as("__vb")), Seq("nbr"))
      .withColumn("score_e4",
        Similarity.scoreE4(Similarity.cosine("__va", "__vb")))
      .select("id", "nbr", "score_e4")
    def topK(scored: DataFrame, kk: Int): DataFrame = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("id")
          .orderBy(col("score_e4").desc, col("nbr").asc)).cast("long"))
      .filter(col("rnk") <= kk)
      .select("id", "nbr", "score_e4", "rnk")
    try {
      val n = vecs.count()
      require(n >= 2, s"knnGraph: need >= 2 vectors, got $n")
      val kk = math.min(k.toLong, n - 1).toInt
      val ranked = Ops.globalRank(vecs.select("id"),
        Seq(md5(col("id").cast("string")), col("id")), "r")
      val coldInit = ranked
        .select(col("id"), col("r"),
          explode(sequence(lit(1), lit(kk))).as("off"))
        .withColumn("nr", (col("r") - 1 + col("off")) % n + 1)
        .drop("r")
        .join(ranked.select(col("id").as("nbr"), col("r").as("nr")),
          Seq("nr"))
        .select("id", "nbr")
      val init =
        if (warmCells == 0) coldInit
        else {
          // warm half: one IVF-assignment pass into the first warmCells
          // vectors (md5 order — arbitrary-but-replayable centroids),
          // then the same ring WITHIN each cell. Unioned with the cold
          // ring so tiny/singleton cells keep global connectivity and
          // quality is never below the cold init's.
          val cent = broadcast(vecs
            .join(ranked.filter(col("r") <= warmCells).select("id"),
              Seq("id"))
            .select(col("id").as("cid"), col("v").as("cv")))
          val cellRank = Similarity.ivfAssign(vecs.select("id", "v"), cent)
            .select(col("other_id").as("id"), col("cid"))
            .join(ranked, Seq("id"))
            .withColumn("cr", row_number().over(
              Window.partitionBy("cid").orderBy("r")).cast("long"))
            .select("cid", "id", "cr")
          val cellN = cellRank.groupBy("cid").agg(count(lit(1)).as("cn"))
          val warm = cellRank.join(cellN, Seq("cid"))
            .select(col("cid"), col("id"), col("cr"), col("cn"),
              explode(sequence(lit(1), lit(kk))).as("off"))
            .withColumn("nr", (col("cr") - 1 + col("off")) % col("cn") + 1)
            .join(cellRank.select(col("cid"), col("id").as("nbr"),
              col("cr").as("nr")), Seq("cid", "nr"))
            .filter(col("id") =!= col("nbr"))
            .select("id", "nbr")
          coldInit.unionByName(warm).distinct()
        }
      var g = topK(score(init), kk).localCheckpoint(eager = true)
      for (_ <- 1 to iters) {
        val und = g.select("id", "nbr")
          .unionByName(g.select(col("nbr").as("id"), col("id").as("nbr")))
        val cands = und.as("e1")
          .join(und.as("e2"), col("e1.nbr") === col("e2.id"))
          .select(col("e1.id").as("id"), col("e2.nbr").as("nbr"))
          .filter(col("id") =!= col("nbr"))
          .unionByName(g.select("id", "nbr"))
          .distinct()
        g = topK(score(cands), kk).localCheckpoint(eager = true)
      }
      g
    } finally vecs.unpersist()
  }

  // ---- query-time graph serving (beam search) ---------------------------

  /** Batched deterministic beam search over a kNN graph — the QUERY path
    * the graph family lacked (round-13 verdict #1): serving routed only
    * through IVF/PQ, whose recall is hostage to quantizer-cell structure;
    * a graph walk follows the manifold directly (the NSW/HNSW serving
    * idea — Malkov & Yashunin 2016 — re-expressed as bounded batch
    * joins rather than a per-query pointer chase).
    *
    * State is one pool frame: (qid, node, score_e4, visited), capped at
    * `beamWidth` rows per query. Each round expands EVERY unvisited pool
    * node at once (the batch analog of best-first's one-node pop — same
    * fixed point, one round per graph hop instead of one step per node):
    *
    *  1. frontier = pool where ¬visited (pool is already the top-`beamWidth`);
    *  2. candidates = frontier ⋈ graph edges, minus nodes already pooled
    *     (the bounded visited set IS the pool — dropped nodes may be
    *     rediscovered and re-scored, trading bounded state for bounded
    *     rework, both ≤ beamWidth·k rows per query per round);
    *  3. score candidates against the query vector (e4 cosine);
    *  4. pool ← top-`beamWidth` of (pool marked visited ∪ scored), rank
    *     by (score desc, node asc) — every pool member was either just
    *     expanded or already visited, so the whole frame flips visited.
    *
    * Deterministic by construction: fixed entry points (the md5 ring —
    * content-independent, replayable), total-order tiebreaks, fixed
    * `rounds` (extra rounds past convergence are no-ops: frontier is
    * empty). The probe oracle replays the walk verbatim (the q142/q149
    * discipline). Per-round cost: ≤ |Q|·beamWidth expansions × k edges —
    * queries never meet each other, the graph join is the only
    * corpus-sized shuffle, and each round localCheckpoints (the
    * iterative-plan discipline). Output (vec_id, other_id, score_e4,
    * rank), self-match excluded — [[Similarity.ivfTopK]]'s schema, so
    * recall grids compare directly (tools/Recall --beam).
    *
    * Entry-ring sizing: a converged kNN graph over well-separated
    * clusters has NO cross-cluster edges, so a walk reaches only the
    * components its entries land in — `entries` must cover the corpus's
    * connected components (uniform md5 seeds miss a component of mass p
    * with probability (1−p)^|entries|; KnnGraphSpec measures the miss).
    * More entries cost one scored row each, so err large.
    */
  def beamSearch(graph: DataFrame, vectors: DataFrame, queries: DataFrame,
                 entries: DataFrame, k: Int, beamWidth: Int,
                 rounds: Int): DataFrame = {
    val qs = Ops.widen(queries).select(col("id").as("qid"))
    // every query starts from the same fixed seeds — a bounded
    // broadcast cross (≤ numEntries rows on the built side)
    beamSearchFrom(graph, vectors, queries,
      qs.crossJoin(broadcast(entries.select(col("id").as("node")))),
      k, beamWidth, rounds)
  }

  /** [[beamSearch]] with PER-QUERY seeds `(qid, node)` instead of one
    * global entry ring — the production entry path: a cheap router
    * (typically the IVF coarse quantizer, [[beamSearchRouted]]) lands
    * each query's walk inside its own graph component, which a fixed
    * global ring can only cover probabilistically (the measured
    * component-coverage miss in SCALE.md's --beam grid).
    */
  def beamSearchFrom(graph: DataFrame, vectors: DataFrame,
                     queries: DataFrame, seeds: DataFrame, k: Int,
                     beamWidth: Int, rounds: Int): DataFrame = {
    require(k >= 1 && beamWidth >= k,
      s"beamSearch: need beamWidth ($beamWidth) >= k ($k) >= 1")
    require(rounds >= 0, s"beamSearch: rounds ($rounds) >= 0")
    val vecs = Ops.widen(vectors)
      .select(col("id").as("node"), Similarity.toDoubleVec(col("v")).as("__vn"))
    val qs = Ops.widen(queries)
      .select(col("id").as("qid"), Similarity.toDoubleVec(col("v")).as("__qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = graph.select(col("id").as("node"), col("nbr"))
    def scoreNodes(cand: DataFrame): DataFrame = cand // (qid, node)
      .join(vecs, Seq("node"))
      .join(qs, Seq("qid"))
      .withColumn("score_e4",
        Similarity.scoreE4(Similarity.cosine("__qv", "__vn")))
      .select("qid", "node", "score_e4")
    def cap(pool: DataFrame): DataFrame = pool
      .withColumn("__r", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("score_e4").desc, col("node").asc)))
      .filter(col("__r") <= beamWidth)
      .drop("__r")
    try {
      var pool = cap(scoreNodes(seeds.select("qid", "node").distinct())
        .withColumn("visited", lit(false)))
        .localCheckpoint(eager = true)
      for (_ <- 1 to rounds) {
        val cands = pool.filter(!col("visited")).select("qid", "node")
          .join(edges, Seq("node"))
          .select(col("qid"), col("nbr").as("node"))
          .distinct()
          .join(pool.select("qid", "node"), Seq("qid", "node"), "left_anti")
        val scored = scoreNodes(cands).withColumn("visited", lit(false))
        pool = cap(pool.withColumn("visited", lit(true)).unionByName(scored))
          .localCheckpoint(eager = true)
      }
      pool.filter(col("qid") =!= col("node"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score_e4").desc, col("node").asc)).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid").as("vec_id"), col("node").as("other_id"),
          col("score_e4"), col("rank"))
    } finally qs.unpersist()
  }

  /** Persist a kNN graph as a serving index: `<dir>/edges` (the
    * [[knnGraph]] output), `<dir>/vectors` (id, v — the walk scores
    * candidates against raw vectors), `<dir>/entries` (the first
    * `maxEntries` ids of the md5 ring with their rank — the corpus-side
    * rank is paid ONCE at build; query time slices `numEntries ≤
    * maxEntries` of it). Graph construction (the expensive part) happens
    * exactly once; every query batch pays only walk-side joins.
    */
  def writeKnnIndex(vectors: DataFrame, dir: String, k: Int,
                    iters: Int = 2, warmCells: Int = 0,
                    maxEntries: Int = 64): Unit = {
    require(maxEntries >= 1, s"writeKnnIndex: maxEntries ($maxEntries) >= 1")
    val vecs = Ops.widen(vectors)
      .select(col("id"), Similarity.toDoubleVec(col("v")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      knnGraph(vecs, k, iters, warmCells)
        .write.mode("overwrite").parquet(s"$dir/edges")
      vecs.write.mode("overwrite").parquet(s"$dir/vectors")
      Ops.globalRank(vecs.select("id"),
          Seq(md5(col("id").cast("string")), col("id")), "r")
        .filter(col("r") <= maxEntries)
        .write.mode("overwrite").parquet(s"$dir/entries")
      // meta LAST — appends require it (k is the append/compaction
      // degree contract), and its presence marks the append-capable
      // layout; base n anchors the staleness fraction
      vecs.sparkSession.range(1)
        .select(lit(k).as("k"), lit(vecs.count()).as("n"))
        .write.mode("overwrite").parquet(s"$dir/meta")
    } finally vecs.unpersist()
  }

  // ---- persisted-graph lifecycle: batch append + batch-union read --------

  /** Retraction tombstones for the FLAT base tables
    * ([[graft.pipeline.Maintain.retract]]): batch partitions purge
    * physically, but base vectors/edges/entries cannot be
    * partition-pruned by id — base reads exclude this list instead.
    * Batch reads are deliberately NOT filtered: a retracted id that is
    * later resubmitted lands in a fresh batch and must serve. Distinct
    * by id (a crash-rerun may append duplicates); bounded by the
    * retraction volume between maintenance publishes — compact/retrain
    * read through the tombstones and start a clean version.
    */
  private def retractedBase(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/retracted"))) None
    else Some(spark.read.parquet(s"$dir/retracted")
      .select("id").distinct())
  }

  /** The first `numEntries` LIVE entry-ring members: the stored ring
    * (ranked by the deterministic md5 rule at build time) minus
    * retraction tombstones, refilled from the deeper ring ranks — a
    * retracted entry point must not serve, and the ring stays full as
    * long as the stored `maxEntries` overprovisioning covers the
    * retractions (when it does not, this is loud: rebuild/compact).
    */
  private def entryRing(spark: org.apache.spark.sql.SparkSession,
                        dir: String, numEntries: Int,
                        op: String): DataFrame = {
    val stored0 = spark.read.parquet(s"$dir/entries")
    val stored = retractedBase(spark, dir).fold(stored0)(r =>
      stored0.join(broadcast(r), Seq("id"), "left_anti"))
    // bounded: the entries table holds maxEntries rows
    val ring = stored.orderBy(col("r").asc).limit(numEntries).select("id")
    val have = ring.count()
    require(have == numEntries.toLong,
      s"$op: index at $dir serves $have live entry points < requested " +
        s"$numEntries (retractions may have drained the ring — compact " +
        "or rebuild with a larger maxEntries)")
    ring
  }

  /** All stored vectors: base (minus retraction tombstones) + every
    * appended batch.
    */
  def readKnnVectors(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    val base0 = spark.read.parquet(s"$dir/vectors")
    val base = retractedBase(spark, dir).fold(base0)(r =>
      base0.join(broadcast(r), Seq("id"), "left_anti"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors_batches")))
      base.unionByName(spark.read.parquet(s"$dir/vectors_batches")
        .select("id", "v"))
    else base
  }

  /** All stored edges: base + every COMMITTED appended batch (new-node
    * k-lists and the reverse augments that make appended nodes
    * REACHABLE). Augmented old nodes carry more than k rows until
    * [[graft.pipeline.Maintain.knnCompact]] re-caps — the walk only
    * expands more candidates, so serving stays correct at any batch
    * count (the BM25 batch-union argument).
    *
    * A batch's `vectors_batches` partition is its commit marker
    * ([[appendToKnnIndex]] writes it LAST), so edge partitions are
    * semi-joined on the batch_ids present there: a torn append (crash
    * between the edges write and the vectors write) leaves orphan edge
    * partitions that would otherwise be baked into the flat base by
    * compaction — displacing real neighbors — with the retry unable to
    * replace them once compaction moved them out of the batch partition.
    */
  def readKnnEdges(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame =
    committedEdges(spark, dir, excludeBatch = None)

  /** Base edges ∪ committed batch edges, optionally excluding one
    * batch_id (the append retry's pre-batch view). Committed = the
    * batch_id has a `vectors_batches` partition; the committed-id side
    * is bounded by the compaction policy, so the semi join broadcasts.
    */
  private def committedEdges(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             excludeBatch: Option[String]): DataFrame = {
    val base0 = spark.read.parquet(s"$dir/edges")
    val base = retractedBase(spark, dir).fold(base0)(r =>
      base0.join(broadcast(r), Seq("id"), "left_anti")
        .join(broadcast(r.select(col("id").as("nbr"))), Seq("nbr"),
          "left_anti")
        .select(base0.columns.map(col).toIndexedSeq: _*))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val haveEdges =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/edges_batches"))
    val haveVecs =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/vectors_batches"))
    if (!haveEdges || !haveVecs) base
    else {
      val committed0 = spark.read.parquet(s"$dir/vectors_batches")
        .select("batch_id").distinct()
      val committed = excludeBatch
        .map(b => committed0.filter(col("batch_id") =!= b))
        .getOrElse(committed0)
      val batchEdges0 = spark.read.parquet(s"$dir/edges_batches")
      val batchEdges = excludeBatch
        .map(b => batchEdges0.filter(col("batch_id") =!= b))
        .getOrElse(batchEdges0)
      base.unionByName(batchEdges
        .join(broadcast(committed), Seq("batch_id"), "left_semi")
        .select("id", "nbr", "score_e4", "rnk"))
    }
  }

  /** Batch INSERT into a persisted kNN index — the graph member of the
    * index-append family (MinHash/BM25/IVF/pHash → now the graph), so an
    * incremental ingest extends serving without an NN-Descent rebuild.
    * Per-batch `batch_id`-partitioned with dynamic overwrite: a retried
    * append replaces its own partitions (the round-13 idempotence
    * discipline). The base `edges`/`vectors` dirs are never rewritten —
    * no layout break for existing indexes; appends land in
    * `edges_batches`/`vectors_batches` and the read path unions.
    *
    * Deterministic, three bounded pieces (the HNSW insert idea — find
    * neighbors by searching the current graph, connect both ways —
    * re-expressed as batch joins):
    *  1. OLD-side neighbors: every new vector beam-walks the CURRENT
    *     graph view from the stored entry ring (the serving path;
    *     no third index needed) — cost |batch| walks;
    *  2. WITHIN-batch edges: NN-Descent over the batch alone
    *     (corpus-linear in |batch|; skipped for singleton batches);
    *  3. new-node k-lists = top-k of (1) ∪ (2) by (score desc, nbr asc);
    *     REVERSE augments (old → new, ranked per old node) keep walks
    *     able to reach appended nodes.
    * New ids must be disjoint from stored ids (loud guard) — the
    * append contract every index in the family shares.
    *
    * `beamWidth` is a floor: the effective width is `max(beamWidth, k)`
    * with k read from the index meta, so the default call works on any
    * stored degree (beamSearch requires width ≥ k). `numEntries` larger
    * than the stored entry ring fails loudly (the beamSearchIndexed
    * guard) instead of silently seeding fewer walks.
    */
  def appendToKnnIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, newVectors: DataFrame, batchId: String,
                       beamWidth: Int = 20, rounds: Int = 3,
                       numEntries: Int = 4, batchIters: Int = 1): Unit = {
    graft.core.BatchTables.requireBatchId(batchId, "appendToKnnIndex")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")),
      s"appendToKnnIndex: index at $dir predates the append layout " +
        "(no meta) — rebuild with writeKnnIndex")
    val k = spark.read.parquet(s"$dir/meta")
      .select(col("k")).head().getInt(0)
    val width = math.max(beamWidth, k)
    // the PRE-batch view: a RETRY of this batchId must see the index as
    // if its partitions never committed (same inputs → same outputs →
    // the dynamic overwrite replaces them bit-identically), and the
    // id-clash guard must not trip on the batch's own prior attempt.
    // Edges additionally restrict to COMMITTED batches (vectors partition
    // present) so an earlier torn append's orphan edges never seed walks.
    def exceptSelf(sub: String, cols: Seq[String]): Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub")))
        Some(spark.read.parquet(s"$dir/$sub")
          .filter(col("batch_id") =!= batchId)
          .select(cols.map(col): _*))
      else None
    // base minus retraction tombstones (a retracted id is free to be
    // resubmitted — the clash check must see the LIVE store, and the
    // beam walk must not route through retracted nodes)
    val base = {
      val b = spark.read.parquet(s"$dir/vectors")
      retractedBase(spark, dir).fold(b)(r =>
        b.join(broadcast(r), Seq("id"), "left_anti"))
    }
    val old = exceptSelf("vectors_batches", Seq("id", "v"))
      .foldLeft(base)(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val graphView = committedEdges(spark, dir, excludeBatch = Some(batchId))
    val batch = Ops.widen(newVectors)
      .select(col("id"), Similarity.toDoubleVec(col("v")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val clash = batch.join(old, Seq("id"), "left_semi").count()
      require(clash == 0,
        s"appendToKnnIndex: $clash batch ids already stored at $dir")
      val nBatch = batch.count()
      val entries = entryRing(spark, dir, numEntries, "appendToKnnIndex")
      val oldSide = beamSearch(graphView, old, batch,
          entries, k, width, rounds)
        .select(col("vec_id").as("id"), col("other_id").as("nbr"),
          col("score_e4"))
      val cands =
        if (nBatch >= 2)
          oldSide.unionByName(
            knnGraph(batch, k, batchIters).select("id", "nbr", "score_e4"))
        else oldSide
      val newLists = cands
        .withColumn("rnk", row_number().over(
          Window.partitionBy("id")
            .orderBy(col("score_e4").desc, col("nbr").asc)).cast("long"))
        .filter(col("rnk") <= k)
        .localCheckpoint(eager = true) // two consumers: write + reverse
      // reverse augments: only the OLD-side members of the final lists
      // (batch-internal edges are already symmetric-ish via NN-Descent)
      val rev = newLists
        .join(batch.select(col("id").as("nbr")), Seq("nbr"), "left_anti")
        .select(col("nbr").as("id"), col("id").as("nbr"), col("score_e4"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("id")
            .orderBy(col("score_e4").desc, col("nbr").asc)).cast("long"))
      def writer(df: DataFrame, path: String): Unit =
        df.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(path)
      writer(newLists.select("id", "nbr", "score_e4", "rnk")
        .unionByName(rev), s"$dir/edges_batches")
      writer(batch, s"$dir/vectors_batches")
    } finally { old.unpersist(); batch.unpersist() }
  }

  /** [[beamSearch]] against a [[writeKnnIndex]] directory — bit-identical
    * to the fresh form on the same graph (spec-pinned), with the build
    * cost amortized across query batches.
    */
  def beamSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                        dir: String, queries: DataFrame, k: Int,
                        beamWidth: Int, rounds: Int,
                        numEntries: Int = 4): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/edges")),
      s"beamSearchIndexed: no graph index at $dir (writeKnnIndex first)")
    val entries = entryRing(spark, dir, numEntries, "beamSearchIndexed")
    // batch-union view: appended nodes serve immediately after
    // appendToKnnIndex (identical to the flat read when no batches exist)
    beamSearch(readKnnEdges(spark, dir), readKnnVectors(spark, dir),
      queries, entries, k, beamWidth, rounds)
  }

  /** Routed graph serving — the coarse-quantizer entry composition (the
    * published two-stage shape: a cheap router lands each query near its
    * answer, the graph walk refines): per-query seeds are the stored IVF
    * index's top `seedsPerQuery` at `eprobe` probes
    * ([[Similarity.ivfTopKIndexed]]), then [[beamSearchFrom]] over the
    * persisted graph. Composes the two EXISTING index lifecycles — the
    * IVF router keeps its append/drift/retrain machinery, the graph its
    * build — with no third index to maintain. The walk recovers exactly
    * the cell-boundary losses the quantizer causes (a query's true
    * neighbors in a cell the probe skipped are still graph-adjacent to
    * the seeds), and the fixed-ring component-coverage problem vanishes
    * because seeds are query-local by construction. Measured vs raw IVF
    * at equal probe budget: SCALE.md --beam grid.
    */
  def beamSearchRouted(spark: org.apache.spark.sql.SparkSession,
                       graphDir: String, ivfDir: String,
                       queries: DataFrame, k: Int, beamWidth: Int,
                       rounds: Int, eprobe: Int = 1,
                       seedsPerQuery: Int = 4): DataFrame = {
    val seeds = Similarity.ivfTopKIndexed(spark, ivfDir, queries,
        eprobe, seedsPerQuery)
      .select(col("vec_id").as("qid"), col("other_id").as("node"))
    beamSearchFrom(readKnnEdges(spark, graphDir),
      readKnnVectors(spark, graphDir), queries, seeds,
      k, beamWidth, rounds)
  }

  /** SemDeDup victims over the NN-Descent graph — the centroid-free
    * alternative to [[Curation.semDedupVictims]]'s IVF routing (same
    * downstream: ≥-threshold edges → connected components → min-id
    * canonical survives, everything else is a victim with its keeper).
    * Output (idCol, kept_id), Managed (close after consuming).
    */
  def semDedupVictimsNN(docs: DataFrame, idCol: String, textCol: String,
                        dim: Int = 64, thresholdE4: Long = 9000L,
                        k: Int = 10, iters: Int = 2): graft.core.Managed = {
    require(thresholdE4 >= 0 && thresholdE4 <= 10000,
      s"semDedupVictimsNN: thresholdE4 ($thresholdE4) must be in [0, 10000]")
    val emb = TextStats.hashEmbedVectors(docs, idCol, textCol, dim)
      .filter(expr("aggregate(v, 0D, (a, x) -> a + x * x)") > lit(0.0))
    val g = knnGraph(emb, k, iters) // materialized (checkpointed)
    val edges = g.filter(col("score_e4") >= thresholdE4)
      .select(least(col("id"), col("nbr")).as("idA"),
        greatest(col("id"), col("nbr")).as("idB"))
      .distinct()
    val compM = Dedup.connectedComponentsManaged(edges)
    val victims = compM.df.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol), col("label").as("kept_id"))
    graft.core.Managed(victims, compM.pinned)
  }

  /** Hard negatives over the NN-Descent graph — the centroid-free
    * alternative to [[Similarity.hardNegativesIvf]]: build the kNN
    * graph at `knnK` (wider than `k` so the label filter has slack),
    * then per anchor keep the top `k` DIFFERENT-label neighbors inside
    * [scoreFloorE4, scoreCeilE4] (the near-dup ceiling / easy-negative
    * floor of the exact form). Output (vec_id, other_id, score_e4,
    * rank) — [[Similarity.hardNegativesTopK]]'s schema; recall vs the
    * exact form is measured, not assumed (tools/Recall).
    */
  def hardNegativesNN(vectors: DataFrame, k: Int, knnK: Int = 20,
                      iters: Int = 2, scoreCeilE4: Long = 10000L,
                      scoreFloorE4: Long = -10000L): DataFrame = {
    val g = knnGraph(vectors.select("id", "v"), knnK, iters)
    val lbl = vectors.select(col("id"), col("label"))
    g.join(lbl.withColumnRenamed("label", "qlabel"), Seq("id"))
      .join(lbl.select(col("id").as("nbr"), col("label").as("clabel")),
        Seq("nbr"))
      .filter(col("qlabel") =!= col("clabel") &&
        col("score_e4").between(scoreFloorE4, scoreCeilE4))
      .withColumn("rank", row_number().over(
        Window.partitionBy("id")
          .orderBy(col("score_e4").desc, col("nbr").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id").as("vec_id"), col("nbr").as("other_id"),
        col("score_e4"), col("rank"))
  }
}
