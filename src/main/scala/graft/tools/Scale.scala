package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Empirical scale validation (VERDICT r2 item 8): replicate the sf0.1
  * corpus Nx with per-replica salted ids/text (replicas are DISTINCT docs —
  * no artificial 10-way dup cliques), re-plant the probes' %7 near-dups,
  * run the dedup/ANN family at 1x and Nx, and report wall-times plus a
  * single-partition-stage audit of every executed plan. Results land in
  * SCALE.md.
  *
  * Usage: sbt "runMain graft.tools.Scale <sfDir> <factor>"
  */
object Scale {

  /** Nx documents: replica k shifts ids by k*10^6. Replica 0 keeps the
    * original text; replicas k>0 remap every word through a k-salted md5
    * (genuinely DIFFERENT documents with the same length/shape — a
    * trailing-token salt would leave replicas 0.9-Jaccard near-dups of
    * each other and measure a 10-way-clique workload instead of a 10x
    * corpus). Then the probes' %7 near-dup planting applies over the
    * whole scaled corpus, one planted pair per kept doc.
    */
  private[tools] def scaledDocs(spark: SparkSession, sfDir: String,
                                n: Int): DataFrame = {
    val base = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val scaled = (0 until n).map { k =>
      val text =
        if (k == 0) col("text")
        else concat_ws(" ", expr(
          s"transform(split(text, ' '), w -> substr(md5(concat(w, '$k')), 1, 6))"))
      base.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        text.as("text"))
    }.reduce(_ unionByName _)
    val planted = scaled.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
    scaled.unionByName(planted)
  }

  /** Nx embeddings: replica 0 is the original; replicas k>0 sign-flip
    * each component on a (k, i)-keyed pattern — cosine between replicas
    * of the same base vector drops to ~0, so cross-replica pairs don't
    * pollute the near-dup counts. Planting (%13, x*1.05+0.001) applies
    * over the scaled corpus.
    */
  private[tools] def scaledVecs(spark: SparkSession, sfDir: String,
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
    val bpeMode = args.length > 2 && args(2) == "--bpe"
    require(bpeMode || factor < 100, "id offsets collide at factor >= 100")
    val curateMode = args.length > 2 && args(2) == "--curate"
    val skewMode = args.length > 2 && args(2) == "--skew"
    // any other 3rd arg: comma-separated label prefixes — run only those
    // sweep rows (local iteration on a new operator's rows)
    val onlyRows: Option[Seq[String]] =
      if (args.length > 2 && !args(2).startsWith("--"))
        Some(args(2).split(",").toSeq)
      else None
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    // Repeat-and-best (r8 verdict item 5): round-8's sweep recorded two
    // identical composed-funnel runs differing 10× (95 s vs 9.4 s lm_gate)
    // — a single-run row is one contention burst away from meaningless.
    // Every sweep row now runs n≥2 times and reports the BEST with a
    // spread column (max/min across repetitions), so a noisy row is
    // visible as such in SCALE.md instead of masquerading as a regression.
    val nRep = math.max(1,
      sys.env.get("SPARK_GRAFT_SCALE_RUNS").flatMap(_.toIntOption).getOrElse(2))

    def docs(n: Int): DataFrame = scaledDocs(spark, sfDir, n)
    def vecs(n: Int): DataFrame = scaledVecs(spark, sfDir, n)

    // one-off mode: `--pack` — padding/overflow fractions of the greedy
    // contiguous packer vs best-fit-decreasing on the ACTUAL sf token
    // length distribution (round-13 mandate): per (shard, pack), pad =
    // budget − fill (greedy can also OVERFLOW: a doc straddling a budget
    // boundary lands whole in the pack its start falls into). Fractions
    // are of total pack capacity (bins × budget).
    if (args.length > 2 && args(2) == "--pack") {
      import graft.operators.{Curation, TextStats}
      for (n <- Seq(1, factor); budget <- Seq(256, 512)) {
        val items = docs(n)
          .withColumn("toks",
            TextStats.wsTokenCount(col("text")).cast("long"))
        def report(tag: String, packed: DataFrame): Unit = {
          val per = packed.groupBy("shard", "pack")
            .agg(sum("toks").as("fill"))
          val r = per.agg(count(lit(1)).as("bins"),
            sum(greatest(lit(0L), lit(budget.toLong) - col("fill")))
              .as("pad"),
            sum(greatest(lit(0L), col("fill") - lit(budget.toLong)))
              .as("over")).head()
          val cap = r.getLong(0).toDouble * budget
          println(f"PACK $tag%-8s x$n%-3d budget=$budget%-4d " +
            f"bins=${r.getLong(0)}%-7d pad=${r.getLong(1) / cap}%6.4f " +
            f"overflow=${r.getLong(2) / cap}%6.4f")
        }
        report("greedy", Curation.packSequences(items, "doc_id",
          col("toks"), Curation.shardAssign(col("text")), budget))
        report("bestfit", Curation.packSequencesBestFit(items, "doc_id",
          col("toks"), Curation.shardAssign(col("text")), budget))
      }
      spark.stop()
      return
    }

    // one-off mode: `--audio` — the audio-fingerprint mutation-recall
    // grid plus a timing row. Clips are synthesized WAVs (md5-mixed
    // constant-valued windows, the q158 fixture); every %3==0 clip gains
    // a mutated twin and the grid reports the fraction of planted twins
    // audioNearDupPairs recovers per mutation severity: constant gain
    // (the invariance claim — expect 1.0), per-window additive noise at
    // rising amplitude (delta bits flip where adjacent windows are
    // close), and a front crop (window-aligned segment share).
    if (args.length > 2 && args(2) == "--audio") {
      import graft.operators.Multimodal
      import spark.implicits._
      def mix(src: Long, w: Int, salt: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$salt$src:$w".getBytes("UTF-8")).take(4)
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16)
      }
      def clips(n: Int, mut: String) =
        docs(n).select(col("doc_id")).as[Long].flatMap { id =>
          val nw = (60 + id % 8).toInt
          def v(w: Int): Int = (mix(id, w, "") % 997L).toInt + 1
          def wav(cid: Long, fw: Int, f: (Int, Int) => Int) =
            Multimodal.MediaRecord(cid, Multimodal.encodePcm16Wav(8000, 1,
              Array.tabulate[Short]((nw - fw) * 50)(i =>
                f(fw + i / 50, v(fw + i / 50)).toShort)), "audio/wav")
          val base = wav(id, 0, (_, x) => x)
          if (id % 3 != 0) Seq(base)
          else {
            val twin = mut match {
              case "gain2" => wav(id + 500000000L, 0, (_, x) => x * 2)
              case s if s.startsWith("noise") =>
                val d = s.stripPrefix("noise").toInt
                wav(id + 500000000L, 0, (w, x) =>
                  math.max(1, x + (mix(id, w, "n") % (2L * d + 1)).toInt - d))
              case "crop25" => wav(id + 500000000L, nw / 4, (_, x) => x)
            }
            Seq(base, twin)
          }
        }
      for (n <- Seq(1, factor)) {
        // k=20 (1M fp values): the k=8 grid collapsed to recall 0 at 10x
        // because 256 possible values ALL exceeded the DF cap — k must
        // scale with corpus size (recorded in SCALE.md). quant rows run
        // the coarse-energy dial against the same noise.
        for (mut <- Seq("gain2", "noise25", "noise100", "crop25");
             quant <- Seq(1L, 640000L)) {
          val cs = clips(n, mut)
          val planted = cs.filter(col("media_id") >= 500000000L).count()
          val found = Multimodal.audioNearDupPairs(cs, windowFrames = 50,
              k = 20, stride = 1, minMatchE4 = 5000L, quantE4 = quant)
            .filter(col("idB") === col("idA") + 500000000L).count()
          println(f"AUDIO x$n%-3d $mut%-9s quant=$quant%-7d " +
            f"planted=$planted%-6d recall=${found.toDouble / planted}%6.4f")
        }
        val t0 = System.nanoTime()
        val m = Multimodal.audioNearDupPairsManaged(clips(n, "gain2"),
          windowFrames = 50, k = 20, stride = 1, minMatchE4 = 5000L)
        val rows = m.df.collect().length
        val dt = (System.nanoTime() - t0) / 1e9
        val spx = "Exchange SinglePartition".r
          .findAllIn(m.df.queryExecution.executedPlan.toString).size
        m.close()
        println(f"AUDIO x$n%-3d timing    rows=$rows%-8d wall=$dt%6.2f s " +
          f"singlePartitionExchanges=$spx")
      }
      spark.stop()
      return
    }

    // one-off mode: `runMain graft.tools.Scale <sfDir> <factor> --curate`
    // runs the COMPOSED Curate pipeline (all optional gates on) at 1x and
    // Nx and prints the funnel count + wall time per stage — the judge's
    // "is any stage super-linear" question, measured
    if (curateMode) {
      // The generic Nx corpus (scaledDocs) remaps replica words through
      // md5 — right for dedup/ANN (replicas are genuinely distinct), but
      // the curate funnel's language gate would drop every replica as
      // gibberish and stages past the gate would measure 1x. Here replica
      // k instead PERMUTES words within the real corpus vocabulary
      // (w → vocab[(idx(w) + 7k) mod V]): every replica stays
      // in-distribution for the quality/language gates, near-dup
      // structure is preserved within a replica and broken across
      // replicas (a shifted permutation shares no shingles), and exact
      // dedup still sees each replica as distinct content. Vocabulary is
      // collected once (bounded: the corpus vocabulary of the synthetic
      // testdata; guarded).
      val vocab = graft.Tables.documents(spark, sfDir)
        .select(explode(graft.operators.Dedup.normalizeWords(col("text")))
          .as("w"))
        .distinct().orderBy("w").collect().map(_.getString(0))
      require(vocab.length > 0 && vocab.length < 100000,
        s"vocabulary localize guard: ${vocab.length}")
      val vlit = array(vocab.map(lit).toIndexedSeq: _*)
      def curateDocs(n: Int): DataFrame = {
        val base = graft.Tables.documents(spark, sfDir)
          .select("doc_id", "text")
        val scaled = (0 until n).map { k =>
          val text =
            if (k == 0) col("text")
            else concat_ws(" ", expr(
              "transform(filter(split(trim(regexp_replace(lower(text), " +
                "'[^a-z0-9]+', ' ')), ' '), x -> x != ''), " +
                s"w -> element_at(__v, CAST((array_position(__v, w) - 1 + ${7 * k}) % ${vocab.length} AS INT) + 1))"))
          base.withColumn("__v", vlit)
            .select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
              text.as("text"))
        }.reduce(_ unionByName _)
        val planted = scaled.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(col("text"), lit(" zz yy xx")).as("text"))
        scaled.unionByName(planted)
      }
      // classifier model: trained OUTSIDE the funnel timing (the
      // pipeline stage is SCORING — training is a separate job a real
      // run does once on labeled exemplars); base corpus, cheap label
      val clsModel = graft.operators.Classifier.train(
        graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"),
            (length(col("text")) >= 200).cast("int").as("y")),
        "doc_id", "text", "y", dim = 64, iters = 2, lrE6 = 500000L)
      for (n <- Seq(1, factor)) {
        // C4 needs sentence structure the word-permuted corpus lacks
        // (normalization strips punctuation): a constant three-sentence
        // suffix makes every doc one kept line with three sentence marks
        // — the c4 stage then does its real per-row work without
        // emptying the funnel. (Rows are NOT comparable to the
        // pre-suffix funnel table — noted in SCALE.md.)
        val d = curateDocs(n).select(col("doc_id"),
          concat(col("text"), lit(" alpha one. beta two. gamma three."))
            .as("text"))
        // benchmark set: every 97th base doc's text (bounded, disjoint
        // sample role — same text domain so decontamination does real work)
        val bench = graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 97 === 0)
          .select(col("text").as("btext"))
        // DSIR target: a fixed slice of the base corpus (replica-0
        // domain) — the selection stage scores the whole scaled pool
        // against it
        val target = graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 11 === 0).select("doc_id", "text")
        // repeat-and-best: stages reported from the run with the best
        // total; totals' max/min spread shown so a burst-poisoned run is
        // legible in the artifact (round-8's 10× lm_gate discrepancy)
        val runs = (0 until nRep).map { _ =>
          val t0 = System.nanoTime()
          val res = graft.pipeline.Curate.run(d, "doc_id", "text",
            bench, "btext", graft.pipeline.CurateConfig(
              c4Clean = true,
              gopherRules = Some(graft.operators.TextStats.GopherConfig()),
              maxSelfXentE4 = Some(200000L),
              // all three buckets kept: the stage pays its full KN-score
              // + tercile cost (the thing this sweep measures) without
              // changing the funnel rows other stages are compared on
              pplBucketsKeep = Some(Set("head", "middle", "tail")),
              dedupLinesWithinDocs = true,
              dedupWindowsW = Some(8),
              // round-11: the precise instrument behind the window
              // screen — most repeats are gone by here, so this prices
              // the suffix pipeline's CONSTANT on a mostly-clean pool
              // (the composed-deployment shape the operator doc
              // prescribes)
              exactSubstrMinLen = Some(50),
              exactSubstrCap = 128,
              // threshold just under exact: the stage pays its full
              // embed + assignment + verify + CC cost while dropping
              // only true re-embeddings (word-permuted replicas have
              // identical bags — the planted suffix docs differ)
              semDedupThresholdE4 = Some(9999L),
              dsirKeepFracE4 = 8000L,
              // threshold 0: the gate drops nothing (funnel rows stay
              // interpretable) but pays the full scoring cost — the thing
              // this sweep measures
              minClassifierPE6 = 0L),
            dsirTarget = Some(target),
            classifierModel = Some(clsModel))
          val total = (System.nanoTime() - t0) / 1e9
          val out = (total, res.stageSeconds.toMap, res.stageCounts)
          res.chunks.unpersist()
          spark.catalog.clearCache()
          out
        }
        val (total, secs, counts) = runs.minBy(_._1)
        val spread = runs.map(_._1).max / runs.map(_._1).min
        for ((name, c) <- counts)
          println(f"SCALE curate_$name%-18s x$n%-3d ${secs(name)}%8.2f s  rows=$c")
        println(f"SCALE curate_total        x$n%-3d $total%8.2f s  (n=$nRep spread=$spread%4.2fx)")
      }
      spark.stop()
      return
    }

    // one-off mode: `--ckpt` — stage-checkpoint overhead of the
    // resumable funnel (round 14): the same always-on funnel with
    // in-memory barriers vs parquet-committed stage checkpoints
    // (emitLedger on, so ledger pieces are committed too), plus the
    // pure resume cost when every stage is already committed. The
    // overhead is the durable-write tax a crash-resumable 100 TB run
    // pays; the resume row is what a crash at the END recovers for free.
    if (args.length > 2 && args(2) == "--ckpt") {
      for (n <- Seq(1, factor)) {
        val d = docs(n)
        val bench = graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 97 === 0).select(col("text").as("btext"))
        val base = graft.pipeline.CurateConfig(emitLedger = true)
        var lastDir: Option[String] = None
        def one(tag: String,
                mkCfg: Int => graft.pipeline.CurateConfig): Unit = {
          val times = (0 until nRep).map { i =>
            val t0 = System.nanoTime()
            val res = graft.pipeline.Curate.run(d, "doc_id", "text",
              bench, "btext", mkCfg(i))
            res.ledger.foreach(_.count())
            val dt = (System.nanoTime() - t0) / 1e9
            res.chunks.unpersist(); spark.catalog.clearCache(); dt
          }
          println(f"SCALE ckpt_$tag%-17s x$n%-3d ${times.min}%8.2f s  " +
            f"(n=$nRep spread=${times.max / times.min}%4.2fx)")
        }
        one("off", _ => base)
        one("on", { i =>
          val wh = java.nio.file.Files
            .createTempDirectory(s"graft_ck_${n}_$i").toString
          lastDir = Some(wh)
          base.copy(stageCheckpointDir = Some(wh))
        })
        // resume over a fully-committed store: pure read-back cost
        one("resume", i => base.copy(stageCheckpointDir = lastDir,
          resume = true, runToken = s"r$i"))
      }
      spark.stop()
      return
    }

    // one-off mode: `runMain graft.tools.Scale <sfDir> <factor> --skew`
    // measures Ops.saltedJoin against the unsalted shuffle join on a
    // pathologically hot key (90% of fact rows on ONE key), with the dim
    // side forced past the broadcast threshold (autoBroadcast=-1 — at
    // 100 TB the interesting dim is the one too big to broadcast). Three
    // baselines bound the answer: AQE's own skew-join fix ON, OFF (the
    // naive straggler plan), and salt ∈ {4, 8, 16}. Task-time spread
    // (p50/max over the job's tasks) is the straggler evidence; wall
    // time is the cost of the dim replication the salt pays for it.
    if (skewMode) {
      val durs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null) durs.add(t.taskInfo.duration)
      }
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        for (n <- Seq(1, factor)) {
          // fact: lineitem replicated Nx with 99% of rows folded onto ONE
          // key (the pathological regime AQE's per-partition splitting
          // and the salt both exist for); dim: the fact's own distinct
          // keys + a payload — small relative to the fact (the salt's
          // dim-replication cost is then visible but not dominant, which
          // is the regime where salting is the right call at all)
          val base = graft.Tables.lineitem(spark, sfDir)
            .select("l_orderkey", "l_extendedprice")
          val fact = (0 until n).map { k =>
            base.select(
              when(col("l_orderkey") % 100 < 99, lit(0L))
                .otherwise(col("l_orderkey") + lit(k * 10000000L)).as("k"),
              col("l_extendedprice").as("value"))
          }.reduce(_ unionByName _)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val factN = fact.count()
          val dim = fact.select("k").distinct()
            .select(col("k"), md5(col("k").cast("string")).as("tag"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val dimN = dim.count()
          println(s"SCALE skew_corpus            x$n  fact=$factN dim=$dimN")
          def measure(label: String, skewFix: Boolean)(mk: => DataFrame): Unit = {
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
              skewFix.toString)
            durs.clear()
            spark.sparkContext.addSparkListener(listener)
            val t0 = System.nanoTime()
            val out = mk.groupBy(substring(col("tag"), 1, 1).as("t"))
              .agg(count(lit(1)).as("rows"), sum("value").as("sv"))
              .collect().length
            val dt = (System.nanoTime() - t0) / 1e9
            Thread.sleep(500) // listener bus drains async
            spark.sparkContext.removeSparkListener(listener)
            val ds = durs.toArray(Array.empty[java.lang.Long])
              .map(_.longValue).sorted
            val p50 = if (ds.isEmpty) 0L else ds(ds.length / 2)
            val max = if (ds.isEmpty) 0L else ds.last
            println(f"SCALE skew_$label%-22s x$n%-3d $dt%8.2f s  groups=$out%-3d " +
              f"tasks=${ds.length}%-4d taskMs(p50/max)=$p50%d/$max%d")
          }
          measure("join_aqe_skewfix", skewFix = true)(fact.join(dim, Seq("k")))
          measure("join_no_skewfix", skewFix = false)(fact.join(dim, Seq("k")))
          for (s <- Seq(4, 8, 16))
            measure(s"salted_$s", skewFix = false)(
              graft.core.Ops.saltedJoin(fact, dim, Seq("k"), s, "value"))
          fact.unpersist(); dim.unpersist()
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      }
      spark.stop()
      return
    }

    // one-off mode: `runMain graft.tools.Scale <sfDir> <merges> --bpe`
    // times Bpe.train's driver-local form vs the distributed per-merge
    // loop at a production-ish merge count, on the real sf corpus
    // vocabulary — the "1 job vs numMerges jobs" claim, measured
    if (bpeMode) {
      val merges = factor
      val vocab = graft.operators.Bpe.wordFreqs(
        graft.Tables.documents(spark, sfDir).select("doc_id", "text"), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"BPE vocab rows: ${vocab.count()}")
      val t0 = System.nanoTime()
      val (mLocal, _) = graft.operators.Bpe.train(vocab, merges)
      println(f"SCALE bpe_train_local      m$merges ${(System.nanoTime() - t0) / 1e9}%8.2f s  merges=${mLocal.size}")
      val t1 = System.nanoTime()
      val (mDist, _) = graft.operators.Bpe.train(vocab, merges, localizeBytes = 0L)
      println(f"SCALE bpe_train_distrib    m$merges ${(System.nanoTime() - t1) / 1e9}%8.2f s  merges=${mDist.size}")
      require(mLocal == mDist, "forms diverged — BpeSpec parity broken")
      spark.stop()
      return
    }

    /** Time one run and audit its plan for single-partition exchanges.
      * The action is a collect ON m.df ITSELF (outputs here are pair/label
      * lists, small relative to the corpus) so the df's OWN QueryExecution
      * is the one that ran: with AQE on, `executedPlan` then shows the
      * final adaptive plan (isFinalPlan=true), not the static pre-AQE one,
      * and the row count comes for free instead of re-running the
      * downstream join work a second time.
      */
    def run(label: String, scale: Int)(mk: => graft.core.Managed): Unit = {
      if (!onlyRows.forall(_.exists(label.startsWith))) return
      // time INCLUDING construction: iterative operators (pageRank,
      // connectedComponents, Bpe.train) do their work in eager
      // checkpoints during the call itself — timing only the final
      // collect would report near-zero for exactly the loops this tool
      // exists to measure. Plan construction for the one-shot operators
      // is milliseconds, lost in the noise. Repeated nRep times (mk is
      // by-name — each repetition rebuilds the operator from scratch);
      // the row reports the BEST with the max/min spread beside it.
      var rows = 0; var spx = 0; var fin = "final"
      val times = (0 until nRep).map { _ =>
        val t0 = System.nanoTime()
        val m = mk
        rows = m.df.collect().length
        val dt = (System.nanoTime() - t0) / 1e9
        val plan = m.df.queryExecution.executedPlan.toString
        spx = "Exchange SinglePartition".r.findAllIn(plan).size
        fin = if (plan.contains("isFinalPlan=false")) "partial" else "final"
        m.close()
        spark.catalog.clearCache()
        dt
      }
      val spread = times.max / times.min
      println(f"SCALE $label%-22s x$scale%-3d ${times.min}%8.2f s  (n=$nRep spread=$spread%4.2fx)  rows=$rows%-8d singlePartitionExchanges=$spx plan=$fin")
    }

    for (n <- Seq(1, factor)) {
      val d = docs(n); val v = vecs(n)
      run("minhash_lsh", n)(Dedup.minhashNearDupPairsManaged(d, "doc_id", "text"))
      // Default DF cap at both scales: replica vocabularies are disjoint
      // here, so gram DF does not grow with the corpus. (Two measured cap
      // pathologies recorded in SCALE.md: a shared-vocab corpus at 10x
      // pushes DF past a FIXED cap and recall collapses to zero, while
      // scaling the cap 10x admits DF^2 pair blowup from hot grams —
      // 84.5 s vs 8.7 s here. The cap is a recall/cost dial that must be
      // set as a corpus-size fraction, not an absolute.)
      run("ngram_jaccard", n)(Dedup.ngramJaccardPairsManaged(
        d, "doc_id", "text", 0.6))
      run("dedup_components", n) {
        val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text")
          .filter(col("jacc_e4") >= 8000)
        Dedup.connectedComponentsManaged(pairs)
      }
      run("rplsh_neardup", n)(Similarity.rpLshNearDupPairsManaged(
        v, numPlanes = 8, threshold = 0.8, dim = Some(64)))
      run("ivf_topk", n) {
        val cent = Similarity.buildIvf(v, numCells = 16, iters = 1)
        val queries = v.filter(col("id") % 50 === 0)
        graft.core.Managed(
          Similarity.ivfTopK(v, cent, queries, nprobe = 2, k = 5), Seq.empty)
      }
      // round-11 hard-negative mining: q141's serving shape at corpus
      // scale — label-aware IVF probe with the score band; labels are a
      // deterministic hash stripe (8 classes)
      run("hard_negatives", n) {
        val lv = v.withColumn("label", pmod(xxhash64(col("id")), lit(8)))
        val cent = Similarity.buildIvf(v, numCells = 16, iters = 1)
        graft.core.Managed(
          Similarity.hardNegativesIvf(lv, cent,
            lv.filter(col("id") % 50 === 0), nprobe = 2, k = 10,
            scoreCeilE4 = 9990L), Seq.empty)
      }
      run("simhash", n) {
        graft.core.Managed(
          graft.core.Ops.widen(d)
            .withColumn("wh", Dedup.tokenHashes(Dedup.normalizeWords(col("text"))))
            .withColumn("simhash", Dedup.simhash16)
            .select("doc_id", "simhash"), Seq.empty)
      }
      // incremental index maintenance vs full rebuild: pre-build the index
      // OUTSIDE timing (it is the standing state a daily append meets),
      // then time appending a ~1% batch vs re-indexing corpus+batch with
      // the same frozen centroids
      if (onlyRows.forall(ps => Seq("ivf_append_1pct", "ivf_rebuild_all")
          .exists(l => ps.exists(l.startsWith)))) {
        val cent = Similarity.buildIvf(v, numCells = 16, iters = 1)
        val base = java.nio.file.Files
          .createTempDirectory("graft_scale_ivf_base").toString
        Similarity.writeIvfIndex(v, cent, base)
        val batch = v.filter(col("id") % 97 === 0)
          .select((col("id") + 500000000L).as("id"), col("v"))
        run("ivf_append_1pct", n)(graft.core.Managed(
          Similarity.appendToIvfIndex(spark, base, batch, "b1"), Seq.empty))
        run("ivf_rebuild_all", n) {
          val reb = java.nio.file.Files
            .createTempDirectory("graft_scale_ivf_reb").toString
          Similarity.writeIvfIndex(v.unionByName(batch), cent, reb)
          graft.core.Managed(spark.range(1).toDF("ok"), Seq.empty)
        }
      }

      // round-6: PQ encode (per-row map + one partial-agg argmin exchange)
      // and the composed IVF-PQ query path (cell probe + in-cell ADC)
      run("pq_encode", n) {
        val cb = Similarity.pqCodebookDf(spark,
          Similarity.pqCodebook(m = 8, numCodes = 8, subDim = 8))
        graft.core.Managed(
          Similarity.pqEncode(v, cb, m = 8, subDim = 8)
            .groupBy(col("id") % 32).agg(count(lit(1)).as("codes")),
          Seq.empty)
      }
      run("ivfpq_topk", n) {
        val cb = Similarity.pqCodebookDf(spark,
          Similarity.pqCodebook(m = 8, numCodes = 8, subDim = 8))
        val cent = Similarity.buildIvf(v, numCells = 16, iters = 1)
        val queries = v.filter(col("id") % 50 === 0)
        graft.core.Managed(
          Similarity.ivfPqTopK(v, cent, cb, queries, nprobe = 2,
            m = 8, subDim = 8, k = 5), Seq.empty)
      }

      // round-6 text ops: line dedup (doc-keyed reductions), gopher rules
      // (pure per-row), bigram LM (vocab-bounded model + corpus score)
      run("line_dedup", n) {
        val lined = d.select(col("doc_id"),
          concat_ws("\n", col("text"), lit("== BANNER =="), col("text"))
            .as("text"))
        graft.core.Managed(
          graft.operators.Curation.dedupLines(lined, "doc_id", "text")
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("n_removed").as("removed")),
          Seq.empty)
      }
      // round-7: duplicate-window substring dedup (explode + min-agg +
      // 1:N hash join + per-doc window) and TF-IDF top terms (explode +
      // two hash aggs + vocab join + per-doc top-k window)
      run("dup_windows", n) {
        graft.core.Managed(
          graft.operators.Curation.duplicateWindows(d, "doc_id", "text",
              w = 8)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("dup_tokens").as("dt")),
          Seq.empty)
      }
      // multi-scale variant (ws = {8, 32, 128}): the any-length-repeat
      // approximation — one scan emits all three scales, so the row
      // prices the |ws|× window fan-out against the single-w baseline
      run("dup_windows_multi", n) {
        graft.core.Managed(
          graft.operators.Curation.duplicateWindowsMulti(d, "doc_id",
              "text", ws = Seq(8, 32, 128))
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("dup_tokens").as("dt")),
          Seq.empty)
      }
      // round-11 EXACT any-length repeats (prefix-doubling suffix
      // ranks): the precise instrument priced against the one-scan
      // windowed screens above — ~log2(cap) doubling rounds + LCP
      // descent, all key-partitioned
      run("suffix_dedup", n) {
        graft.core.Managed(
          graft.operators.Suffix.suffixDuplicateStats(d, "doc_id",
              "text", minLen = 50, cap = 128)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("dup_tokens").as("dt")),
          Seq.empty)
      }
      // round-13 SHARDED deployment shape: per-shard suffix ranks (4
      // content-defined doc shards, concurrent job chains) + one
      // corpus-global cross-shard window screen — coverage identical
      // to suffix_dedup (spec-pinned), priced head-to-head here
      run("suffix_sharded", n) {
        graft.core.Managed(
          graft.operators.Suffix.suffixDuplicateStatsSharded(d, "doc_id",
              "text", minLen = 50, cap = 128, numShards = 4)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("dup_tokens").as("dt")),
          Seq.empty)
      }
      run("tfidf_top3", n) {
        graft.core.Managed(
          graft.operators.TextStats.tfidfTopTerms(d, "doc_id", "text", 3)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("rows"), sum("score_e6").as("s")),
          Seq.empty)
      }
      run("gopher_rules", n) {
        graft.core.Managed(
          d.select(col("doc_id"), graft.operators.TextStats.gopherFlags(
              col("text"), Dedup.normalizeWords(col("text"))).as("g"))
            .groupBy(col("g.pass")).agg(count(lit(1)).as("docs")),
          Seq.empty)
      }
      // round-7 late adds: C4 rules (pure per-row map over a multi-line
      // construction) and the classifier (2 GD iterations INSIDE the
      // timing — the driver-loop cost is the thing to measure — then a
      // full-corpus score)
      run("c4_clean", n) {
        graft.core.Managed(
          graft.operators.Curation.c4Clean(
              d.select(col("doc_id"), concat_ws("\n",
                concat(col("text"), lit(" end of part one.")),
                lit("no terminal punctuation banner"),
                concat(col("text"), lit(" end of part two!"))).as("text")),
              "doc_id", "text")
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("n_lines_kept").as("k"),
              sum(col("keep").cast("long")).as("pages")),
          Seq.empty)
      }
      run("classifier_2it", n) {
        val labeled = d.withColumn("y",
          (length(col("text")) >= 200).cast("int"))
        val model = graft.operators.Classifier.train(labeled, "doc_id",
          "text", "y", dim = 64, iters = 2, lrE6 = 500000L)
        graft.core.Managed(
          graft.operators.Classifier.score(d, "doc_id", "text", model)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("p_e6").as("sp")),
          Seq.empty)
      }
      run("bigram_lm", n) {
        val grams = graft.operators.TextStats.bigramCounts(d, "text")
        graft.core.Managed(
          graft.operators.TextStats.lmCrossEntropy(d, "doc_id", "text",
              grams, vocabSize = 1000L)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("xent_e4").as("sx")),
          Seq.empty)
      }
      // --- round-9: learned mixture weights -----------------------------
      run("doremi_weights", n) {
        // 8 synthetic domains over the scaled corpus; the T=3 Group-DRO
        // loop (ONE corpus explode, then vocab-bounded model passes +
        // D-row collects) runs inside the timing, classifier_2it-style
        val dd = d.withColumn("dom",
          concat(lit("d"), (col("doc_id") % 8).cast("string")))
        graft.core.Managed(
          graft.operators.TextStats.doremiMixtureWeights(dd, "dom", "text",
            vocabSize = 1000L, steps = 3),
          Seq.empty)
      }
      // --- round-9: incremental minhash index (vs the minhash_lsh row's
      // full-corpus re-pair cost) — index built OUTSIDE timing (it is the
      // standing state a daily snapshot meets), the ~1% batch queries it
      if (onlyRows.forall(_.exists("mh_incr_1pct".startsWith))) {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_scale_mh_base").toString
        Dedup.writeMinhashIndex(d, "doc_id", "text", dir)
        val batch = d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 500000000L).as("doc_id"),
            concat(col("text"), lit(" zz tail")).as("text"))
        run("mh_incr_1pct", n)(
          Dedup.nearDupAgainstIndex(spark, dir, batch, "doc_id", "text"))
      }
      // --- round-15: incremental batch CURATION against persisted state
      // (Increment.curateIncrement) vs re-curating the whole union — the
      // batch-vs-recurate comparison the composed funnel exists for. The
      // state is the standing Nx corpus (seeded outside timing); the ~3%
      // batch mixes near-dups of state, exact dups of state, and fresh
      // docs. Repetitions reuse the batch id, so rep 2 measures the RETRY
      // path (pre-batch view + partition replace) — same shape by design.
      if (onlyRows.forall(ps => Seq("incr_curate_3pct",
          "recurate_publish", "incr_recurate_all")
          .exists(l => ps.exists(l.startsWith)))) {
        val sdir = java.nio.file.Files
          .createTempDirectory("graft_scale_incr").toString
        graft.pipeline.Increment.initStateFromCurated(
          spark, sdir, d, "doc_id", "text")
        val batchI = d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 600000000L).as("doc_id"),
            concat(col("text"), lit(" zz tail")).as("text"))
          .unionByName(d.filter(col("doc_id") % 97 === 1)
            .select((col("doc_id") + 700000000L).as("doc_id"), col("text")))
          .unionByName(d.filter(col("doc_id") % 97 === 2)
            .select((col("doc_id") + 800000000L).as("doc_id"),
              concat_ws(" ", expr("transform(split(text, ' '), " +
                "w -> substr(md5(concat(w, 'fr')), 1, 6))")).as("text")))
        run("incr_curate_3pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateIncrement(batchI, "doc_id",
            "text", sdir, "sweep").ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
        run("recurate_publish", n) {
          // round-17: the ORCHESTRATED periodic re-curation — full
          // funnel over the accumulated pool + complete state rebuild
          // (exact keys, minhash, ledger, metrics) + atomic pointer
          // swap (Recurate.run). Compare against incr_curate_3pct (the
          // per-snapshot increment: batch-proportional) and
          // incr_recurate_all below (the bare recompute without the
          // rebuild): the delta over the latter is the price of
          // persisting a serving-ready root.
          val union = d.unionByName(batchI)
          val whR = java.nio.file.Files
            .createTempDirectory(s"graft_recurw_$n").toString
          val r = graft.pipeline.Recurate.run(spark, whR, "state", "t",
            union, "doc_id", "text",
            spark.range(1).select(lit("benchmark eval only").as("text")),
            "text", graft.pipeline.CurateConfig(minQualityE4 = 0))
          graft.core.Managed(
            r.ledger.groupBy("reason").agg(count(lit(1)).as("docs")),
            Seq.empty)
        }
        run("incr_recurate_all", n) {
          // what a non-incremental shop re-runs on every snapshot: the
          // union's full exact + near-dup recompute
          val union = d.unionByName(batchI)
          val hashed = union.withColumn("__h", md5(col("text")))
          val kept = graft.core.Ops.latestPerGroup(hashed, Seq("__h"),
            Seq(col("doc_id").asc)).drop("__h")
          val pairs = Dedup.minhashNearDupPairs(kept, "doc_id", "text")
            .filter(col("jacc_e4") >= 8000)
          val comp = Dedup.connectedComponentsManaged(pairs)
          graft.core.Managed(
            comp.df.groupBy(col("id") % 32).agg(count(lit(1)).as("docs")),
            comp.pinned)
        }
      }
      // --- round-18: a FIXED-size batch against a growing state. The
      // steady-state rows above scale the batch WITH the state (a 3%
      // slice of the Nx corpus); production increments are the other
      // shape: a fixed-size snapshot against a state that grows without
      // bound — batch at the x{1, 10, 30, N} slice, state at Nx. The
      // SCALEMETA line records the committed heavy-table bytes and the
      // batch rows behind each row.
      if (onlyRows.forall(_.exists(p =>
          p.startsWith("incr_fixedbatch") ||
            "incr_fixedbatch".startsWith(p)))) {
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_scale_incrfb_$n").toString
        graft.pipeline.Increment.initStateFromCurated(
          spark, sdir, d, "doc_id", "text")
        for (bf <- (Seq(1, 10, 30) :+ factor).distinct
             if onlyRows.forall(_.exists(p =>
               p.startsWith(s"incr_fixedbatch_b$bf") ||
                 s"incr_fixedbatch_b$bf".startsWith(p)))) {
          val db = docs(bf)
          val batchF = db.filter(col("doc_id") % 97 === 0)
            .select((col("doc_id") + 600000000L).as("doc_id"),
              concat(col("text"), lit(" zz tail")).as("text"))
            .unionByName(db.filter(col("doc_id") % 97 === 1)
              .select((col("doc_id") + 700000000L).as("doc_id"),
                col("text")))
            .unionByName(db.filter(col("doc_id") % 97 === 2)
              .select((col("doc_id") + 800000000L).as("doc_id"),
                concat_ws(" ", expr("transform(split(text, ' '), " +
                  "w -> substr(md5(concat(w, 'fr')), 1, 6))")).as("text")))
            .localCheckpoint(eager = true)
          val nb = batchF.count()
          println(s"SCALEMETA incr_fixedbatch_b$bf x$n heavyBytes=" +
            graft.pipeline.Increment.stateHeavyBytes(spark, sdir) +
            s" batchRows=$nb")
          run(s"incr_fixedbatch_b$bf", n)(graft.core.Managed(
            graft.pipeline.Increment.curateIncrement(batchF, "doc_id",
              "text", sdir, "sweep").ledger
              .groupBy("reason").agg(count(lit(1)).as("docs")),
            Seq.empty))
        }
      }
      // --- round-9: KN LM, CCNet buckets, Hilbert layout, binary ANN ----
      run("quality_signals", n) {
        // the attributes-file pass: every stateless signal in one scan
        graft.core.Managed(
          graft.operators.TextStats.qualitySignals(d, "doc_id", "text")
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"),
              sum(col("gopher_pass").cast("long")).as("gp"),
              sum("quality_e4").as("sq")),
          Seq.empty)
      }
      run("kn_lm", n) {
        val m = graft.operators.TextStats.selfKnCrossEntropyManaged(
          d, "doc_id", "text", vocabSize = 1000L)
        graft.core.Managed(
          m.df.groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("kn_e4").as("sx")),
          m.pinned)
      }
      run("ppl_buckets", n) {
        // the q119 composition: slice-trained KN model scores the pool,
        // per-group terciles label it — both persists handed back
        val grams = graft.operators.TextStats.bigramCounts(
            d.filter(col("doc_id") % 5 === 0), "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t = grams.count()
        val scored = graft.operators.TextStats.knCrossEntropy(
          d, "doc_id", "text", grams, vocabSize = 1000L, bigramTypes = t)
          .withColumn("grp", (col("doc_id") % 4).cast("string"))
        val m = graft.operators.Curation.perplexityBucketsManaged(
          scored, "grp", "kn_e4")
        graft.core.Managed(
          m.df.groupBy("grp", "bucket").agg(count(lit(1)).as("docs")),
          m.pinned :+ grams)
      }
      run("hilbert_layout", n) {
        // pure per-row 10-step unroll + the range-shuffle write path
        graft.core.Managed(
          graft.operators.Layout.hilbertByRange(
              d.select(col("doc_id"), (col("doc_id") % 1024).as("hx0"),
                (length(col("text")) % 1024).as("hy0")),
              "hx0", "hy0", bits = 10, numFiles = 32, keepH = true)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("rows"), sum("__h").as("sh")),
          Seq.empty)
      }
      run("hilbert3d", n) {
        // id-arithmetic inputs only: the row measures the 24-step curve
        // unroll, not scaledDocs' synthetic text construction (measured:
        // with length(text) as an input the text mangling dominated 10:1)
        graft.core.Managed(
          graft.operators.Layout.withHilbertN(
              d.select(col("doc_id"), (col("doc_id") % 256).as("hx0"),
                ((col("doc_id") * 31) % 256).as("hy0"),
                ((col("doc_id") / 7).cast("long") % 256).as("hz0")),
              Seq("hx0", "hy0", "hz0"), "__h", bits = 8)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("rows"), sum("__h").as("sh")),
          Seq.empty)
      }
      // the SemDeDup funnel's text→embedding stage, both formulations:
      // dense = crossJoin every (doc, pos) then gather (dim× row
      // amplification through the shuffle), sparse = non-zero buckets
      // only + per-row zero-fill (hashEmbedVectors, the serving default
      // since round 11). Identical output values; the row pair measures
      // the embed stage's constant.
      run("embed_dense", n) {
        graft.core.Managed(
          graft.operators.TextStats.hashEmbedGather(
            graft.operators.TextStats.hashEmbed(d, "doc_id", "text", 64),
            "doc_id")
            .select(count(lit(1)).as("rows"),
              sum(expr("aggregate(v, 0D, (a, x) -> a + x * x)")).as("s2")),
          Seq.empty)
      }
      run("embed_sparse", n) {
        graft.core.Managed(
          graft.operators.TextStats.hashEmbedVectors(d, "doc_id", "text", 64)
            .select(count(lit(1)).as("rows"),
              sum(expr("aggregate(v, 0D, (a, x) -> a + x * x)")).as("s2")),
          Seq.empty)
      }
      run("embed_cov", n) {
        graft.core.Managed(
          Similarity.covarianceUpper(v, dim = 64)
            .groupBy(col("i") % 8)
            .agg(count(lit(1)).as("cells"), sum("cov_e6").as("sc")),
          Seq.empty)
      }
      run("power_iter", n) {
        // covariance + 3 power steps INSIDE the timing (the iterative-
        // operator convention: the loop is the thing to measure)
        graft.core.Managed(
          Similarity.powerIterationTop(
            Similarity.covarianceUpper(v, dim = 64), dim = 64, steps = 3),
          Seq.empty)
      }
      run("hamming_topk", n) {
        // 2% of the corpus as queries (the ivf_topk row's set), shortlist
        // 4x k, exact rerank — the packed-word first pass is the measure
        val queries = v.filter(col("id") % 50 === 0)
        graft.core.Managed(
          Similarity.hammingTopK(v, queries, dim = 64, k = 5,
              shortlist = 20)
            .groupBy(col("vec_id") % 32)
            .agg(count(lit(1)).as("rows"), sum("score_e4").as("s")),
          Seq.empty)
      }
      // --- round-9: journey analytics over the scaled events table ------
      locally {
        def ev(k: Int): DataFrame = {
          val base = graft.Tables.events(spark, sfDir)
            .select("user_id", "ts", "event_type")
          (0 until k).map { i =>
            base.select((col("user_id") + lit(i * 1000000L)).as("user_id"),
              col("ts"), col("event_type"))
          }.reduce(_ unionByName _)
        }
        run("funnel_steps", n)(graft.core.Managed(
          graft.operators.Journeys.funnelSteps(ev(n), "user_id", "ts",
              "event_type", Seq("view", "click", "purchase"))
            .groupBy("steps_reached").agg(count(lit(1)).as("users")),
          Seq.empty))
        // the k-pass join-form twin on identical inputs — the row pair
        // is the evidence for the one-pass default (r10: one-pass 2.5x
        // faster at 1x and 10x)
        run("funnel_k_pass", n)(graft.core.Managed(
          graft.operators.Journeys.funnelStepsKPass(ev(n), "user_id",
              "ts", "event_type", Seq("view", "click", "purchase"))
            .groupBy("steps_reached").agg(count(lit(1)).as("users")),
          Seq.empty))
        run("cohort_retention", n)(graft.core.Managed(
          graft.operators.Journeys.cohortRetention(ev(n), "user_id", "ts"),
          Seq.empty))
      }
      // --- round-8: retrieval, sketches, crawl ingest -------------------
      run("bm25_top5", n) {
        val queries = d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("qid"),
            explode(slice(Dedup.normalizeWords(col("text")), 1, 3))
              .as("term"))
        graft.core.Managed(
          graft.operators.TextStats.bm25TopK(d, "doc_id", "text",
              queries, "qid", "term", k = 5)
            .groupBy(col("qid") % 32)
            .agg(count(lit(1)).as("rows"), sum("score_e6").as("s")),
          Seq.empty)
      }
      // index built OUTSIDE timing (the standing state a query batch
      // meets); the row measures the serving path the bm25_top5 row
      // pays per call
      if (onlyRows.forall(_.exists("bm25_indexed".startsWith))) {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_scale_bm25_idx").toString
        graft.operators.TextStats.writeBm25Index(d, "doc_id", "text", dir)
        run("bm25_indexed", n) {
          val queries = d.filter(col("doc_id") % 97 === 0)
            .select(col("doc_id").as("qid"),
              explode(slice(Dedup.normalizeWords(col("text")), 1, 3))
                .as("term"))
          graft.core.Managed(
            graft.operators.TextStats.bm25AgainstIndex(spark, dir, queries,
                "qid", "term", k = 5)
              .groupBy(col("qid") % 32)
              .agg(count(lit(1)).as("rows"), sum("score_e6").as("s")),
            Seq.empty)
        }
      }
      // corpus materialized OUTSIDE timing: train + encode both scan it,
      // and the synthetic md5 word-mangling of scaledDocs would otherwise
      // dominate the row 2:1 at 10x (the hilbert3d lesson)
      if (onlyRows.forall(_.exists("wordpiece_encode".startsWith))) {
        val dm = d.localCheckpoint(true)
        run("wordpiece_encode", n) {
          val vocab = graft.operators.Subword.trainWordPiece(
            graft.operators.Bpe.wordFreqs(dm, "text"), vocabSize = 200)
          val model = graft.operators.Subword.collectWpModel(vocab)
          graft.core.Managed(
            graft.operators.Subword.wordPieceEncode(dm, "doc_id", "text",
                model)
              .groupBy(col("doc_id") % 32)
              .agg(count(lit(1)).as("docs"), sum("n_pieces").as("np")),
            Seq.empty)
        }
        dm.unpersist(false)
      }
      // round-10 third tokenizer family: unigram-LM train (seed + one
      // distributed E-step + prune) and likelihood-greedy encode — same
      // checkpointed-corpus discipline as the wordpiece row
      if (onlyRows.forall(_.exists("unigram_lm".startsWith))) {
        val dm = d.localCheckpoint(true)
        run("unigram_lm", n) {
          val vocab = graft.operators.Unigram.trainUnigram(
            graft.operators.Bpe.wordFreqs(dm, "text"), vocabSize = 150)
          val model = graft.operators.Unigram.collectUniModel(vocab)
          graft.core.Managed(
            graft.operators.Unigram.unigramEncode(dm, "doc_id", "text",
                model)
              .groupBy(col("doc_id") % 32)
              .agg(count(lit(1)).as("docs"), sum("n_pieces").as("np")),
            Seq.empty)
        }
        dm.unpersist(false)
      }
      // full-EM variant: the lattice forward–backward E-step in place of
      // the greedy one — train cost only (both are vocabulary-bounded;
      // the row pair prices the E-step swap)
      if (onlyRows.forall(_.exists("unigram_em".startsWith))) {
        val dm = d.localCheckpoint(true)
        run("unigram_em", n) {
          graft.core.Managed(
            graft.operators.Unigram.trainUnigramEM(
              graft.operators.Bpe.wordFreqs(dm, "text"), vocabSize = 150),
            Seq.empty)
        }
        dm.unpersist(false)
      }
      // round-11 subword-regularization sampling: the backward-sampling
      // walk priced against the unigram_lm row's greedy fold (same
      // trained model, same corpus, same output agg)
      if (onlyRows.forall(_.exists("sample_encode".startsWith))) {
        val dm = d.localCheckpoint(true)
        run("sample_encode", n) {
          val vocab = graft.operators.Unigram.trainUnigram(
            graft.operators.Bpe.wordFreqs(dm, "text"), vocabSize = 150)
          val model = graft.operators.Unigram.collectUniModel(vocab)
          graft.core.Managed(
            graft.operators.Unigram.sampleEncode(dm, "doc_id", "text",
                model, seed = 7L)
              .groupBy(col("doc_id") % 32)
              .agg(count(lit(1)).as("docs"), sum("n_pieces").as("np")),
            Seq.empty)
        }
        dm.unpersist(false)
      }
      run("cms_heavy", n) {
        // sketch build from the vocabulary agg + top-20 point estimates;
        // the 20-row result is collected directly (TakeOrderedAndProject,
        // no single-partition exchange)
        val cnt = d
          .select(explode(Dedup.normalizeWords(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("exact"))
        val counters =
          graft.operators.Sketches.cmsCounters(cnt, "term", "exact")
        val cand = cnt.orderBy(col("exact").desc, col("term").asc).limit(20)
        graft.core.Managed(
          graft.operators.Sketches.cmsEstimates(cand.select("term"), "term",
            counters),
          Seq.empty)
      }
      run("hll_distinct", n) {
        // 1-row global estimate: the two SinglePartition exchanges are
        // the operator's own bounded reductions (≤64 register rows), not
        // a measurement artifact
        graft.core.Managed(
          graft.operators.Sketches.hllEstimate(
            graft.operators.Sketches.hllRegisters(
              d.select(explode(Dedup.normalizeWords(col("text")))
                .as("term")), "term")),
          Seq.empty)
      }
      run("warc_parse", n) {
        import spark.implicits._
        val files = d
          .select(col("doc_id"), col("text"),
            expr("doc_id div 10").cast("long").as("fid"))
          .as[(Long, String, Long)]
          .groupByKey(_._3).mapGroups { (fid, it) =>
            graft.sources.Warc.buildFile(fid,
              it.toSeq.sortBy(_._1).map(t => (t._1, t._2)))
          }
        graft.core.Managed(
          graft.sources.Warc.parseRecords(files).toDF()
            .groupBy(col("file_id") % 32)
            .agg(count(lit(1)).as("recs"),
              sum("content_length").as("payload_bytes")),
          Seq.empty)
      }
      // round-10 gzip twin of warc_parse on the SAME corpus: mixed
      // .warc.gz member / whole-file layouts, so the row prices the
      // inflate walk against the plain byte scan
      run("warc_gz_parse", n) {
        import spark.implicits._
        val files = d
          .select(col("doc_id"), col("text"),
            expr("doc_id div 10").cast("long").as("fid"))
          .as[(Long, String, Long)]
          .groupByKey(_._3).mapGroups { (fid, it) =>
            val payload = it.toSeq.sortBy(_._1).map(t => (t._1, t._2))
            if (fid % 2 == 0) graft.sources.Warc.buildFileGz(fid, payload)
            else graft.sources.Warc.buildFileWholeGz(fid, payload)
          }
        graft.core.Managed(
          graft.sources.Warc.parseRecords(files).toDF()
            .groupBy(col("file_id") % 32)
            .agg(count(lit(1)).as("recs"),
              sum("content_length").as("payload_bytes")),
          Seq.empty)
      }
      run("image_neardup", n) {
        // q104's full probe shape: PNG synthesis + decode + aHash + the
        // 16-bit banded candidate join + hamming verify — the sub-linear
        // claim is on the BANDED join (candidates ≈ same-band pairs, not
        // all pairs); decode stays per-row linear
        val media = graft.probes.ExtProbes.q103Media(
          d.select(col("doc_id"), col("text")))
        graft.core.Managed(
          graft.operators.Multimodal.imageNearDupPairs(media, 3)
            .groupBy(col("idA") % 32)
            .agg(count(lit(1)).as("pairs"), sum("hamming").as("h")),
          Seq.empty)
      }
      run("trigram_backoff", n) {
        // q110's cross-model shape: train slice = replica-0 base docs
        // (bounded — model tables stay ~1x while the scored pool grows
        // Nx, the real "score the crawl under a fixed LM" proportions)
        val train = graft.Tables.documents(spark, sfDir)
          .filter(col("lang") === "en").select("text")
        graft.core.Managed(
          graft.operators.TextStats.stupidBackoffScores(
              d, "doc_id", "text", train, "text")
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("nats_e6").as("nats")),
          Seq.empty)
      }
      run("dsir_slice", n) {
        // q97's reshaped one-explode slice path (round-8): target =
        // replica-0 ids (doc_id < 1e6 in the scaled corpus)
        val m = graft.operators.TextStats.importanceWeightsSliceManaged(
          d, "doc_id", "text", col("doc_id") < 1000000L, 1000L)
        graft.core.Managed(
          m.df.groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("logw_e4").as("lw")),
          m.pinned)
      }
      run("html_text", n) {
        graft.core.Managed(
          d.select(col("doc_id"), graft.operators.Curation.htmlToText(
              concat(
                lit("<html><head><script>if (a &lt; b) {}</script>" +
                  "<style>p{}</style></head><body><nav>home</nav><p>"),
                col("text"), lit("</p></body></html>"))).as("clean"))
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"),
              sum(length(col("clean"))).as("chars")),
          Seq.empty)
      }

      // --- round-4 operators: temporal joins on Nx-deep per-key history,
      // exact percentiles on Nx groups ---------------------------------
      // events scaled on the HOT-KEY axis: user_id folded to FOUR hot
      // keys and history replicated N times at 90-day offsets — per-key
      // rows grow Nx over a handful of keys, which is exactly the
      // workload asofJoin's per-key window sort degrades on and
      // asofJoinBucketed exists for. The keyed count-per-user action
      // keeps the audit clean (a scalar count would add its own
      // SinglePartition exchange).
      val ev = {
        val base = graft.Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type", "value")
        (0 until n).map { k =>
          base.select((col("event_id") + lit(k * 1000000000L)).as("event_id"),
            (col("user_id") % 4).as("user_id"),
            (col("ts") + expr(s"INTERVAL ${k * 90} DAYS")).as("ts"),
            col("event_type"), col("value"))
        }.reduce(_ unionByName _)
      }
      def clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      def purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      def matched(df: DataFrame): DataFrame =
        df.groupBy("user_id").agg(count(col("purchase_id")).as("n_matched"))
      run("asof_window_hot", n)(graft.core.Managed(
        matched(graft.operators.Temporal.asofJoin(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("purchase_id"), "purchase_id")),
        Seq.empty))
      run("asof_bucketed_hot", n)(graft.core.Managed(
        matched(graft.operators.Temporal.asofJoinBucketed(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("purchase_id"), "purchase_id",
          bucketSec = 86400L)), Seq.empty))
      run("asof_native_hot", n)(graft.core.Managed(
        matched(graft.operators.Temporal.asofJoinNative(clicks, "user_id", "ts",
          purchases, "user_id", "ts", Seq("purchase_id"), "purchase_id")),
        Seq.empty))
      run("pctl_buffered", n)(graft.core.Managed(
        ev.groupBy("event_type").agg(
          graft.core.Ops.fixedPoint(
            expr("percentile(value, array(0.25, 0.5, 0.75, 0.99))")
              .getItem(0), 4).as("p25_e4")), Seq.empty))
      run("pctl_distributed", n)(graft.core.Managed(
        graft.core.Ops.exactPercentiles(ev, Seq("event_type"), "value",
          Seq(0.25, 0.5, 0.75, 0.99)), Seq.empty))

      // --- round-4 text/graph operators ---------------------------------
      // chunking is corpus-linear per-row work; BPE pair counts are
      // vocabulary-sized (replica vocabularies are disjoint here, so the
      // vocab grows ~Nx too — the honest worst case); pagerank rounds are
      // edge-linear joins (graph = Nx replicas of a 50-node community)
      run("chunk_overlap", n)(graft.core.Managed(
        graft.operators.Curation.chunkByTokens(d, "doc_id", "text", 512, 64)
          .groupBy(col("doc_id") % 32) // keyed summary: no SinglePartition
          .agg(count(lit(1)).as("chunks"), sum("n_tokens").as("tokens")),
        Seq.empty))
      run("bpe_pair_counts", n)(graft.core.Managed(
        graft.operators.Bpe.pairCounts(
          graft.operators.Bpe.wordFreqs(d, "text")
            .withColumn("syms",
              graft.operators.Bpe.charSymbols(col("w"))),
          "syms", "freq"), Seq.empty))
      // --- round-5: q47's exact side and the media decode path ----------
      // countDistinct beside approx_count_distinct is q47's shape: Spark
      // plans the mixed distinct/non-distinct aggregate via Expand (rows
      // ×2) — the exact side the sketch replaces at scale. Media rows:
      // header metadata over Nx text payloads, and the full PNG
      // encode→ImageIO-decode round trip (encode stands in for payload
      // IO; both sides are per-row batch work, corpus-linear).
      run("approx_vs_exact_cd", n)(graft.core.Managed(
        ev.groupBy("event_type").agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users")), Seq.empty))
      run("media_meta", n) {
        import spark.implicits._
        val media = d.selectExpr("doc_id AS media_id",
          "CAST(text AS BINARY) AS media", "'text/plain' AS mime")
          .as[graft.operators.Multimodal.MediaRecord]
        graft.core.Managed(graft.operators.Multimodal.extractMeta(media)
          .groupBy("kind").agg(count(lit(1)).as("n")), Seq.empty)
      }
      run("png_roundtrip", n) {
        // q82's own synthesis — the scale row measures the probe's mix
        val media = graft.probes.ExtProbes.q82Media(d)
        graft.core.Managed(graft.operators.Multimodal.decodeImages(media)
          .groupBy("bands").agg(count(lit(1)).as("n"),
            sum("mean_e4").as("s")), Seq.empty)
      }
      run("mjpeg_decode", n) {
        // q94's own synthesis: MJPEG-in-MP4 per doc, keyframe JPEG decode
        val media = graft.probes.ExtProbes.q94Media(d)
        graft.core.Managed(
          graft.operators.Multimodal.decodeMjpegKeyframes(media)
            .groupBy(col("media_id") % 32)
            .agg(count(lit(1)).as("n"), sum("gray_sum_e4").as("g")),
          Seq.empty)
      }
      // --- round-14 graph serving + video + phash-index rows -------------
      run("knn_graph_build", n)(graft.core.Managed(
        graft.operators.KnnGraph.knnGraph(v, 6, iters = 2, warmCells = 64)
          .groupBy(col("id") % 32)
          .agg(count(lit(1)).as("edges"), sum("score_e4").as("s")),
        Seq.empty))
      if (onlyRows.forall(_.exists("beam_routed_hot".startsWith))) {
        // serving row: graph + router prebuilt (the asof _hot convention
        // — an index's build cost is its own row above), so the row
        // prices the WALK: seed probe + rounds x bounded joins
        val gPre = graft.operators.KnnGraph
          .knnGraph(v, 6, iters = 2, warmCells = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        gPre.count()
        val centPre = Similarity.buildIvf(v, iters = 1).localCheckpoint(true)
        val queries = v.filter(col("id") % 50 === 0)
        run("beam_routed_hot", n)(graft.core.Managed(
          graft.operators.KnnGraph.beamSearchFrom(gPre, v, queries,
            Similarity.ivfTopK(v, centPre, queries, nprobe = 1, k = 4)
              .select(col("vec_id").as("qid"), col("other_id").as("node")),
            k = 5, beamWidth = 20, rounds = 4)
            .groupBy(col("vec_id") % 32)
            .agg(count(lit(1)).as("n"), sum("score_e4").as("s")),
          Seq.empty))
        gPre.unpersist()
      }
      if (onlyRows.forall(_.exists("knn_append_hot".startsWith))) {
        // the incremental-ingest claim for the graph family: a 1/50
        // batch against a prebuilt index costs |batch| walks + batch
        // NN-Descent — NOT a corpus rebuild (compare knn_graph_build)
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_knn_$n").toString
        graft.operators.KnnGraph.writeKnnIndex(
          v.filter(col("id") % 50 =!= 1), dir, k = 6, iters = 2,
          warmCells = 64)
        val batch = v.filter(col("id") % 50 === 1)
          .select((col("id") + 300000000L).as("id"), col("v"))
        run("knn_append_hot", n) {
          graft.operators.KnnGraph.appendToKnnIndex(spark, dir, batch,
            s"b$n", beamWidth = 12, rounds = 3, batchIters = 1)
          graft.core.Managed(
            spark.read.parquet(s"$dir/edges_batches")
              .groupBy(col("id") % 32)
              .agg(count(lit(1)).as("edges"), sum("score_e4").as("s")),
            Seq.empty)
        }
      }
      run("video_neardup", n) {
        // MIXED-pixel fixture (the r13 synthetic-fixture lesson: q153's
        // id-linear pattern makes every frame a near-shift of every
        // other at corpus scale and the band join degenerates — measured
        // as an x10 heap blowout): splitmix64 noise per (video, frame,
        // pixel) keeps unrelated hashes independent; every 13th video
        // plants a frame-0-nudged copy. The row prices decode +
        // per-frame hash + the banded frame join + temporal agg on the
        // realistic sparse-collision regime.
        import spark.implicits._
        def mix(a: Long, b: Long): Int = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          ((z ^ (z >>> 27)) & 0xffL).toInt
        }
        val media = d.select(col("doc_id")).as[Long].flatMap { id =>
          def vid(vid0: Long, nudge: Int) =
            graft.operators.Multimodal.encodeSamplesMp4(1000, 3000,
              (0 to 2).map(f =>
                graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
                  Array.tabulate(256)(p =>
                    math.min(255, mix(vid0 * 3 + f, p.toLong) +
                      (if (f == 0 && p < 40) nudge else 0))))))
          val base = graft.operators.Multimodal.MediaRecord(
            id, vid(id, 0), "video/mp4")
          if (id % 13 == 0)
            Seq(base, graft.operators.Multimodal.MediaRecord(
              id + 100000000L, vid(id, 7), "video/mp4"))
          else Seq(base)
        }
        val m = graft.operators.Multimodal.videoNearDupPairsManaged(
          media, 3, 4, 3000L)
        graft.core.Managed(m.df.groupBy(col("idA") % 32)
          .agg(count(lit(1)).as("pairs"), sum("sim_e4").as("s")),
          m.pinned)
      }
      // mixed-pixel image fixture for the pHash index rows (the same
      // r13 fixture lesson as video_neardup above: q103Media's
      // id-linear pattern degenerates at corpus scale); every 13th
      // image plants a nudged near-dup copy
      def mixPng(seed: Long, nudge: Int): Array[Byte] = {
        def mix(a: Long, b: Long): Int = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          ((z ^ (z >>> 27)) & 0xffL).toInt
        }
        graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
          Array.tabulate(256)(p => math.min(255,
            mix(seed, p.toLong) + (if (p < 40) nudge else 0))))
      }
      def mixedImages(src: DataFrame): org.apache.spark.sql.Dataset[
          graft.operators.Multimodal.MediaRecord] = {
        import spark.implicits._
        src.select(col("doc_id")).as[Long].flatMap { id =>
          val base = graft.operators.Multimodal.MediaRecord(
            id, mixPng(id, 0), "image/png")
          if (id % 13 == 0)
            Seq(base, graft.operators.Multimodal.MediaRecord(
              id + 100000000L, mixPng(id, 7), "image/png"))
          else Seq(base)
        }
      }
      run("phash_idx_build", n) {
        // index the whole image corpus once: decode + hash + sig write
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_phb_$n").toString
        graft.operators.Multimodal.writePhashIndex(mixedImages(d), dir)
        graft.core.Managed(spark.read.parquet(s"$dir/sigs")
          .groupBy(col("id") % 32).agg(count(lit(1)).as("n")), Seq.empty)
      }
      if (onlyRows.forall(_.exists("phash_batch_hot".startsWith))) {
        // the incremental-ingest claim: a 1/50 batch against the
        // prebuilt index costs batch decode + one band join — NOT a
        // corpus re-hash (compare against phash_idx_build's wall)
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_phq_$n").toString
        graft.operators.Multimodal.writePhashIndex(mixedImages(d), dir)
        // the batch REPLAYS indexed seeds under fresh ids with a nudge,
        // so every batch image near-matches its indexed original — the
        // row prices a join that actually pairs, not an empty screen
        val batch = {
          import spark.implicits._
          d.filter(col("doc_id") % 50 === 1).select(col("doc_id")).as[Long]
            .map(id => graft.operators.Multimodal.MediaRecord(
              id + 200000000L, mixPng(id, 5), "image/png"))
        }
        run("phash_batch_hot", n)(graft.core.Managed(
          graft.operators.Multimodal.phashNearDupAgainstIndex(
              spark, dir, batch, 3)
            .groupBy(col("id_new") % 32).agg(count(lit(1)).as("n")),
          Seq.empty))
      }
      run("gopher_repetition", n)(graft.core.Managed(
        graft.operators.TextStats.repetitionSignals(d, "doc_id", "text")
          .groupBy(col("doc_id") % 32)
          .agg(count(lit(1)).as("docs"),
            sum(when(col("rep_pass"), 1L).otherwise(0L)).as("passing"),
            sum("dup5_gram_frac_e4").as("s5")),
        Seq.empty))
      run("gpt2_wordfreqs", n)(graft.core.Managed(
        graft.operators.Bpe.wordFreqsGpt2(d, "text")
          .groupBy(length(col("w")).as("len"))
          .agg(count(lit(1)).as("n"), sum("freq").as("f")),
        Seq.empty))
      run("image_curate", n) {
        // the composed image funnel (decode → exact → near-dup) over the
        // mixed-image fixture with planted exact+near structure
        val res = graft.pipeline.CurateImages.run(mixedImages(d))
        graft.core.Managed(res.kept.groupBy(col("media_id") % 32)
          .agg(count(lit(1)).as("n")), Seq(res.kept))
      }
      // --- round-15 post-close: video increment + corpus tokenization ----
      if (onlyRows.forall(_.exists("video_incr_2pct".startsWith))) {
        // the video modality twin of phash_batch_hot/incr_curate_3pct:
        // state seeded OUTSIDE timing (the bootstrap increment decodes
        // and indexes the whole mixed-video corpus); the timed row runs
        // a 1/50 batch of nudged replays through the full funnel —
        // batch decode + exact keys + one banded frame join against
        // committed state. Repetitions reuse the batch id (retry path).
        import spark.implicits._
        def mix(a: Long, b: Long): Int = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          ((z ^ (z >>> 27)) & 0xffL).toInt
        }
        def vid(vid0: Long, nudge: Int) =
          graft.operators.Multimodal.encodeSamplesMp4(1000, 3000,
            (0 to 2).map(f =>
              graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
                Array.tabulate(256)(p =>
                  math.min(255, mix(vid0 * 3 + f, p.toLong) +
                    (if (f == 0 && p < 40) nudge else 0))))))
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_vincr_$n").toString
        graft.pipeline.Increment.curateVideoIncrement(
          d.select(col("doc_id")).as[Long].map(id =>
            graft.operators.Multimodal.MediaRecord(
              id, vid(id, 0), "video/mp4")),
          sdir, "seed")
        val batchV = d.filter(col("doc_id") % 50 === 1)
          .select(col("doc_id")).as[Long].map(id =>
            graft.operators.Multimodal.MediaRecord(
              id + 200000000L, vid(id, 7), "video/mp4"))
        run("video_incr_2pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateVideoIncrement(batchV, sdir,
              "sweep").ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("img_incr_sem_2pct".startsWith))) {
        // round-16: the image increment with the SEMANTIC stage on —
        // state seeded OUTSIDE timing (bootstrap decodes, pHash-indexes
        // and sem-indexes a quarter of the Nx corpus as unique noise
        // images); the timed row runs a ~2% batch of RE-GRAINS (same
        // base pixels + a fresh ±20 noise field: block-mean cosine
        // ~0.96 to the original, pHash hamming typically > 3 — the
        // regime the sem stage exists for) through the full funnel.
        // Cost shape: batch decode+embed is batch-linear; the sem probe
        // is centroid-routed (broadcast assign + one shared-cell join
        // against committed vectors).
        import spark.implicits._
        def mixb(a: Long, b: Long): Long = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z ^ (z >>> 27)
        }
        def img(id: Long, base: Long, grain: Long) =
          graft.operators.Multimodal.MediaRecord(id,
            graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
              Array.tabulate(256) { p =>
                val b = (mixb(base, p.toLong) & 0xffL).toInt
                val nz =
                  if (grain == 0L) 0
                  else ((mixb(grain, p.toLong) % 41L) - 20L).toInt
                math.max(0, math.min(255, b + nz))
              }), "image/png")
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_iincr_$n").toString
        val cfgI = graft.pipeline.Increment.ImageIncrementConfig(
          semDedupThresholdE4 = Some(9000L), semGrid = 8,
          semCentroidEvery = 100)
        graft.pipeline.Increment.curateImageIncrement(
          d.filter(col("doc_id") % 4 === 0).select(col("doc_id"))
            .as[Long].map(id => img(id, id, 0L)),
          sdir, "seed", cfgI)
        val batchI = d.filter(col("doc_id") % 200 === 0)
          .select(col("doc_id")).as[Long]
          .map(id => img(id + 500000000L, id, id + 77L))
        run("img_incr_sem_2pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateImageIncrement(batchI, sdir,
              "sweep", cfgI).ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("aud_incr_sem_2pct".startsWith))) {
        // round-17: the audio increment with the SEMANTIC stage on —
        // state seeded OUTSIDE timing (bootstrap decodes, fingerprints
        // and sem-indexes the Nx corpus as unique level-pattern clips);
        // the timed row runs a ~2% batch of 2× RESAMPLES (same waveform
        // at double rate: time-fraction-pooled profile cosine ≈ 1,
        // fingerprint value overlap 0 — the regime the sem stage
        // exists for) through the full funnel. Cost shape: batch decode
        // + embed is batch-linear; the sem probe is centroid-routed.
        import spark.implicits._
        def mixa(a: Long, b: Long): Long = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z ^ (z >>> 27)
        }
        val nWin = 64; val wf = 50
        def amp(seed: Long, i: Int, grain: Long): Int =
          (1200 + math.floorMod(mixa(seed, (i / 4).toLong), 1600L) +
            (if (grain == 0L) 0L
             else math.floorMod(mixa(grain, i.toLong), 61L) - 30L)).toInt
        def wavC(cid: Long, seed: Long, dup: Int, grain: Long) =
          graft.operators.Multimodal.MediaRecord(cid,
            graft.operators.Multimodal.encodePcm16Wav(8000 * dup, 1,
              Array.tabulate(dup * nWin * wf)(f =>
                amp(seed, f / (dup * wf), grain).toShort)), "audio/wav")
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_aincr_$n").toString
        val cfgA = graft.pipeline.Increment.AudioIncrementConfig(
          semDedupThresholdE4 = Some(9000L), semDim = 16,
          semCentroidEvery = 100)
        graft.pipeline.Increment.curateAudioIncrement(
          d.filter(col("doc_id") % 4 === 0).select(col("doc_id"))
            .as[Long].map(id => wavC(id, id, 1, 0L)),
          sdir, "seed", cfgA)
        val batchA = d.filter(col("doc_id") % 200 === 0)
          .select(col("doc_id")).as[Long]
          .map(id => wavC(id + 500000000L, id, 2, id + 77L))
        run("aud_incr_sem_2pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateAudioIncrement(batchA, sdir,
              "sweep", cfgA).ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("vid_incr_sem_2pct".startsWith))) {
        // round-17: the video increment with the SEMANTIC stage on —
        // the img_incr_sem_2pct shape one temporal pooling up: state
        // seeded OUTSIDE timing as unique-noise 3-keyframe MP4s; the
        // timed row runs a ~2% batch of RE-GRAINS (same base pixels +
        // a fresh per-frame noise field: pooled block-mean cosine high,
        // per-frame pHash hamming typically > 3 — temporal Jaccard 0).
        import spark.implicits._
        def mixv(a: Long, b: Long): Long = {
          var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z ^ (z >>> 27)
        }
        def vidG(base: Long, grain: Long) =
          graft.operators.Multimodal.encodeSamplesMp4(1000, 3000,
            (0 to 2).map(f =>
              graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
                Array.tabulate(256) { p =>
                  val b = (mixv(base * 3 + f, p.toLong) & 0xffL).toInt
                  val nz =
                    if (grain == 0L) 0
                    else (math.floorMod(
                      mixv(grain * 3 + f, p.toLong), 41L) - 20L).toInt
                  math.max(0, math.min(255, b + nz))
                })))
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_vsincr_$n").toString
        val cfgV = graft.pipeline.Increment.VideoIncrementConfig(
          semDedupThresholdE4 = Some(9000L), semGrid = 8,
          semCentroidEvery = 100)
        graft.pipeline.Increment.curateVideoIncrement(
          d.filter(col("doc_id") % 4 === 0).select(col("doc_id"))
            .as[Long].map(id => graft.operators.Multimodal.MediaRecord(
              id, vidG(id, 0L), "video/mp4")),
          sdir, "seed", cfgV)
        val batchV = d.filter(col("doc_id") % 200 === 0)
          .select(col("doc_id")).as[Long]
          .map(id => graft.operators.Multimodal.MediaRecord(
            id + 500000000L, vidG(id, id + 77L), "video/mp4"))
        run("vid_incr_sem_2pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateVideoIncrement(batchV, sdir,
              "sweep", cfgV).ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("embed_incr_2pct".startsWith))) {
        // the embedding increment vs persisted semantic state: state
        // seeded OUTSIDE timing (bootstrap over the Nx vector corpus);
        // the timed row runs a 1/50 batch of planted near-copies
        // (x*1.1+0.01, the q30 transform) through the full funnel —
        // batch-sized assignment against frozen centroids + one
        // shared-cell join against committed state.
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_eincr_$n").toString
        graft.pipeline.Increment.curateEmbeddingIncrement(
          v.select(col("id"), col("v")), sdir, "seed")
        val batchE = v.filter(col("id") % 50 === 1)
          .select((col("id") + 300000000L).as("id"),
            expr("transform(v, x -> x * 1.1D + 0.01D)").as("v"))
        run("embed_incr_2pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateEmbeddingIncrement(batchE, sdir,
              "sweep").ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("win_incr_3pct".startsWith))) {
        // round-16: the substring-dedup stage in the text increment —
        // state seeded WITH window claims OUTSIDE timing; the timed row
        // runs a ~3% batch (fresh docs + docs that re-ingest a 12-token
        // passage lifted from the standing corpus) through the funnel
        // with dedupWindowsW on. Cost shape: batch-window hashing is
        // batch-linear; the claim probe is one h-equi semi join against
        // the committed claims table (corpus-scan side, no pairing).
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_wincr_$n").toString
        graft.pipeline.Increment.initStateFromCurated(
          spark, sdir, d, "doc_id", "text", claimsW = Some(8))
        val wcfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
          dedupWindowsW = Some(8))
        val batchW = d.filter(col("doc_id") % 97 === 3)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat_ws(" ", expr("transform(split(text, ' '), " +
              "w -> substr(md5(concat(w, 'wf')), 1, 6))")).as("text"))
          .unionByName(d.filter(col("doc_id") % 97 === 4)
            .select((col("doc_id") + 950000000L).as("doc_id"),
              concat(
                concat_ws(" ", expr("transform(split(text, ' '), " +
                  "w -> substr(md5(concat(w, 'wg')), 1, 6))")),
                lit(" "),
                expr("array_join(slice(filter(split(trim(regexp_replace(" +
                  "lower(text), '[^a-z0-9]+', ' ')), ' '), x -> x != ''), " +
                  "1, 12), ' ')")).as("text")))
        run("win_incr_3pct", n)(graft.core.Managed(
          graft.pipeline.Increment.curateIncrement(batchW, "doc_id",
            "text", sdir, "sweep", wcfg).ledger
            .groupBy("reason").agg(count(lit(1)).as("docs")),
          Seq.empty))
      }
      if (onlyRows.forall(_.exists("idx_retract_1pct".startsWith))) {
        // round-16: right-to-be-forgotten over a STANDALONE index
        // (Maintain.retract, bm25 family): index seeded OUTSIDE timing
        // (Nx corpus as base + one appended batch); the timed row
        // retracts ~half the appended batch — cost is that batch's
        // postings-partition rewrite + its terms recompute + the
        // tombstone append, never a corpus re-read. Rep 2 is the
        // idempotent rerun (no-op partition detection), the retract_1pct
        // contract.
        val bdir = java.nio.file.Files
          .createTempDirectory(s"graft_idxrtx_$n").toString
        graft.operators.TextStats.writeBm25Index(d, "doc_id", "text",
          bdir)
        val batchB = d.filter(col("doc_id") % 97 === 5)
          .select((col("doc_id") + 990000000L).as("doc_id"), col("text"))
        graft.operators.TextStats.appendToBm25Index(spark, bdir, batchB,
          "doc_id", "text", "b1")
        val victimsB = batchB.filter(col("doc_id") % 2 === 0)
          .select("doc_id").localCheckpoint(eager = true)
        run("idx_retract_1pct", n)(graft.core.Managed({
          graft.pipeline.Maintain.retract(spark, bdir, victimsB)
          spark.read.parquet(s"$bdir/retracted")
            .agg(count(lit(1)).as("tombstones"))
        }, Seq.empty))
      }
      if (onlyRows.forall(_.exists("shard_retract".startsWith))) {
        // round-16 second arc: RTBF over committed training shards
        // (Shards.retract). Packed sequences synthesized directly (the
        // retract path reads spans + rewrites partitions; token values
        // are irrelevant): Nx-scaled base snapshot of 512-id sequences
        // with 4 doc spans each, plus one small appended batch holding
        // the victims. Timed: the retract sweep — flat across corpus
        // scale when victims live in an appended batch (that batch's
        // shard partitions rewrite); a base-snapshot victim costs
        // corpus/numShards per affected shard (documented, not timed).
        val nSeq = (docs(n).count() / 2).max(64L)
        def mkPacked(nn: Long, off: Long) = spark.range(nn)
          .select((col("id") + off).as("seq_id"),
            expr("transform(sequence(1, 512), x -> CAST(x AS INT))")
              .as("ids"),
            lit(512L).as("n_tokens"), lit(4L).as("n_docs"),
            expr("transform(sequence(0, 3), k -> named_struct(" +
              "'doc_id', id * 4 + k, 'start', CAST(k * 128 AS BIGINT), " +
              "'len', CAST(128 AS BIGINT)))").as("spans"))
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_shrtx_$n").toString
        graft.pipeline.Shards.writePackedShards(mkPacked(nSeq, 0L),
          sdir, numShards = 16)
        graft.pipeline.Shards.writePackedShards(
          mkPacked(64L, 10000000L), sdir, numShards = 16,
          batchId = "b1")
        // victims: docs of 8 appended sequences
        val victimsS = spark.range(8)
          .select(((col("id") + 10000000L) * 4).as("doc_id"))
          .localCheckpoint(eager = true)
        run("shard_retract", n)(graft.core.Managed({
          graft.pipeline.Shards.retract(spark, sdir, victimsS)
          graft.pipeline.Shards.readPackedShards(spark, sdir)
            .groupBy("batch_id").agg(count(lit(1)).as("seqs"))
        }, Seq.empty))
      }
      if (onlyRows.forall(_.exists("retract_1pct".startsWith))) {
        // right-to-be-forgotten sweep over accumulated text state: state
        // seeded OUTSIDE timing (one bootstrap increment, semantic stage
        // on so all three text families are present); the timed row
        // retracts a 1% id sample — cost is one affected-partition
        // rewrite per state table, never a corpus re-read
        val sdir = java.nio.file.Files
          .createTempDirectory(s"graft_retract_$n").toString
        graft.pipeline.Increment.curateIncrement(d, "doc_id", "text",
          sdir, "seed", graft.pipeline.IncrementConfig(minQualityE4 = 0,
            semDedupThresholdE4 = Some(9999L)))
        val victims = d.filter(col("doc_id") % 97 === 0).select("doc_id")
          .localCheckpoint(eager = true)
        run("retract_1pct", n)(graft.core.Managed({
          graft.pipeline.Increment.retract(spark, sdir, victims)
          graft.pipeline.Increment.readLedger(spark, sdir)
            .groupBy("reason").agg(count(lit(1)).as("docs"))
        }, Seq.empty))
      }
      if (onlyRows.forall(o => o.exists("corpus_tokenize".startsWith) ||
          o.exists("token_packing".startsWith))) {
        // merge table trained once on the BASE corpus outside timing
        // (the tokenizer is a shipped artifact, not a per-snapshot job)
        val gptMerges = {
          val vocab = graft.operators.Bpe.wordFreqsGpt2(
            graft.Tables.documents(spark, sfDir)
              .select("doc_id", "text"), "text")
          graft.operators.Bpe.train(vocab, 64, byteLevel = true)._1
        }
        // the apply-side tokenize job: distinct-pretoken encode + join
        // back + per-doc assembly; the thing every corpus byte flows
        // through — must be corpus-linear with no hot key
        run("corpus_tokenize", n)(graft.core.Managed(
          graft.operators.Bpe.encodeCorpusGpt2(d, "doc_id", "text",
              gptMerges)
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens")),
          Seq.empty))
        // tokenize + materialize 1024-id training sequences (the
        // composed shard job; delta vs corpus_tokenize prices packing)
        run("token_packing", n) {
          val enc = graft.operators.Bpe.encodeCorpusGpt2(d, "doc_id",
            "text", gptMerges)
          graft.core.Managed(
            graft.operators.Curation.packTokenIds(enc, "doc_id", "ids",
                seqLen = 1024, eosId = 256 + gptMerges.length)
              .groupBy(col("seq_id") % 32)
              .agg(count(lit(1)).as("seqs"), sum("n_tokens").as("tokens")),
            Seq.empty)
        }
      }
      run("bpe_encode", n) {
        import spark.implicits._
        val table = graft.operators.Bpe.DemoMerges.toVector
        val ranks = table.zipWithIndex.map { case (m, i) => m -> i }.toMap
        graft.core.Managed(
          d.select(col("doc_id"),
              graft.operators.Dedup.normalizeWords(col("text")).as("ws"))
            .as[(Long, Seq[String])]
            .map { case (id, ws) =>
              (id, ws.map(w =>
                graft.operators.Bpe.encodeOne(w, table, ranks).length.toLong).sum)
            }
            .toDF("doc_id", "n_tokens")
            .groupBy(col("doc_id") % 32)
            .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens")),
          Seq.empty)
      }
      run("pagerank_3r", n) {
        val edges = (0 until n).map { k =>
          graft.Tables.customer(spark, sfDir).select(
            (col("c_custkey") % 50 + k * 50).as("src"),
            ((col("c_custkey") * 7 + 3) % 50 + k * 50).as("dst"))
        }.reduce(_ unionByName _).filter(col("src") =!= col("dst")).distinct()
        graft.core.Managed(
          graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3),
          Seq.empty)
      }
    }
    spark.stop()
  }
}
