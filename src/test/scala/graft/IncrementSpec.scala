package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.pipeline.{Increment, IncrementConfig}
import graft.streaming.CurateStream

/** Incremental batch curation against persisted state: verdict parity
  * with the streaming gate on the same arrival order, retry
  * idempotence under one batch id, torn-increment invisibility, and
  * the funnel-rate metrics time series.
  */
class IncrementSpec extends SparkSpec {
  import spark.implicits._

  private def goodText(salt: String): String =
    s"the table row scan key " +
      (1 to 24).map(i => s"$salt$i").mkString(" ") + " the a"

  private def verdictMap(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "admitted", "reason", "dup_of")
      .as[(Long, Boolean, String, Long)].collect()
      .map(v => v._1 -> ((v._2, v._3, v._4))).toMap

  test("increment(A) then increment(B) against the accumulated state " +
      "equals the stream gate's ledger on A-then-B (shared stages)") {
    val a = Seq(
      1L -> goodText("one"),
      2L -> goodText("one"),                 // exact dup within A
      3L -> goodText("two"),
      5L -> "short junk!!!")                 // quality reject
    val b = Seq(
      10L -> goodText("one"),                // exact dup of state doc 1
      11L -> (goodText("two") + " appended"),// near-dup of state doc 3
      12L -> goodText("three"),              // fresh → admitted
      13L -> goodText("three"),              // exact dup within B of 12
      14L -> (goodText("four") + " x"),      // near-dup within B of 15? no:
      15L -> goodText("five"),               // fresh → admitted
      16L -> "more short junk!!!")           // quality reject
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr").toString
    val ra = Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    val rb = Increment.curateIncrement(b.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2")
    val got = verdictMap(ra.ledger) ++ verdictMap(rb.ledger)
    // stream twin: same docs, A's batch before B's
    val input = MemoryStream[(Long, String)](spark)
    val q = CurateStream.gate(input.toDF().toDF("id", "text"), "id", "text")
      .writeStream.format("memory").queryName("incr_parity")
      .outputMode(OutputMode.Append()).start()
    val want =
      try {
        input.addData(a: _*)
        q.processAllAvailable()
        input.addData(b: _*)
        q.processAllAvailable()
        verdictMap(spark.table("incr_parity").toDF())
      } finally q.stop()
    assert(got.size == a.size + b.size, s"ledger incomplete: $got")
    assert(got == want, s"increment $got vs stream $want")
    // the persisted ledger carries both committed batches
    assert(verdictMap(Increment.readLedger(spark, dir)) == got)
    // near-dup within B: 14 is unrelated to 15 (distinct salts) — both
    // admitted; state now holds 1, 3, 12, 15, 14
    assert(rb.admitted.select("id").as[Long].collect().toSet ==
      Set(12L, 14L, 15L))
  }

  test("a retried increment under the same batch id recomputes identical " +
      "verdicts and replaces its partitions; a DIFFERENT id re-ingesting " +
      "the same docs dups against state") {
    val a = Seq(1L -> goodText("one"), 3L -> goodText("two"))
    val b = Seq(10L -> (goodText("one") + " appended"),
      12L -> goodText("three"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_retry").toString
    Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    val first = verdictMap(Increment.curateIncrement(
      b.toDF("doc_id", "text"), "doc_id", "text", dir, "b2").ledger)
    assert(first(10L)._2 == "near_dup" && first(10L)._3 == 1L)
    assert(first(12L)._2 == "admitted")
    // retry: same batch id — the pre-batch view hides the prior attempt,
    // verdicts identical, partitions replaced not doubled
    val again = verdictMap(Increment.curateIncrement(
      b.toDF("doc_id", "text"), "doc_id", "text", dir, "b2").ledger)
    assert(again == first)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b2").count() == b.size)
    val keys = spark.read.parquet(s"$dir/exact/keys")
      .filter(col("batch_id") === "b2")
    assert(keys.count() == 1 && keys.select("id").as[Long].head() == 12L)
    // a FIRST-increment retry (the state-creating one) also replays
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_incr_retry0").toString
    val f1 = verdictMap(Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir2, "b1").ledger)
    val f2 = verdictMap(Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir2, "b1").ledger)
    assert(f1 == f2)
    // same docs under a DIFFERENT batch id = a re-ingest, not a retry:
    // every doc dups against its own prior admission
    val re = verdictMap(Increment.curateIncrement(a.toDF("doc_id", "text")
        .select((col("doc_id") + 100L).as("doc_id"), col("text")),
      "doc_id", "text", dir2, "b2").ledger)
    assert(re(101L) == ((false, "exact_dup", 1L)))
    assert(re(103L) == ((false, "exact_dup", 3L)))
  }

  test("torn increment (no minhash meta marker) is invisible to reads " +
      "and to later increments; metrics accumulate per committed batch") {
    val a = Seq(1L -> goodText("one"), 3L -> goodText("two"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_torn").toString
    Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    Increment.curateIncrement(
      Seq(20L -> goodText("six")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2")
    // simulate the tear: b2's keys/ledger/metrics landed but the minhash
    // meta partition (the commit marker, written last) did not
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$dir/minhash/meta/batch_id=b2"), true)
    assert(Increment.readLedger(spark, dir)
      .filter(col("batch_id") === "b2").count() == 0)
    assert(Increment.readMetrics(spark, dir)
      .filter(col("batch_id") === "b2").count() == 0)
    // a new doc identical to the torn batch's admits fresh (the torn
    // keys never read)
    val r3 = verdictMap(Increment.curateIncrement(
      Seq(30L -> goodText("six")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b3").ledger)
    assert(r3(30L) == ((true, "admitted", 30L)))
    // metrics: one committed row set per batch, the funnel time series
    val m = Increment.readMetrics(spark, dir)
      .select("batch_id", "stage", "rows")
      .as[(String, String, Long)].collect().toSet
    assert(m.map(_._1) == Set("b1", "b3"))
    assert(m.contains(("b1", "ingest", 2L)) &&
      m.contains(("b1", "near_dup", 2L)))
  }

  test("optional SEMANTIC stage: word-permuted twins that MinHash misses " +
      "fall to sem_dup (vs state and within batch), the sem sub-state " +
      "accumulates, retry replays identically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_sem").toString
    val cfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
      semDedupThresholdE4 = Some(9500L))
    def rev(t: String): String = t.split(" ").reverse.mkString(" ")
    // b1 bootstraps the sem sub-state (single doc -> the empty-sample
    // centroid fallback path)
    val r1 = verdictMap(Increment.curateIncrement(
      Seq(1L -> goodText("one")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1", cfg).ledger)
    assert(r1(1L) == ((true, "admitted", 1L)))
    // b2: 10 = word-permuted twin of stored 1 (identical bag-of-words
    // embedding, near-zero shingle overlap -> past MinHash, caught by
    // the semantic gate); 20/21 a within-batch permuted pair; 30 fresh
    val b2 = Seq(10L -> rev(goodText("one")),
      20L -> goodText("two"), 21L -> rev(goodText("two")),
      30L -> goodText("three")).toDF("doc_id", "text")
    def runB2() = Increment.curateIncrement(b2, "doc_id", "text", dir,
      "b2", cfg)
    val res2 = runB2()
    val m2 = verdictMap(res2.ledger)
    assert(m2(10L) == ((false, "sem_dup", 1L)))
    assert(m2(20L) == ((true, "admitted", 20L)))
    assert(m2(21L) == ((false, "sem_dup", 20L)))
    assert(m2(30L) == ((true, "admitted", 30L)))
    assert(res2.stageCounts.toMap.get("semantic").contains(2L))
    // retry replays identically (pre-batch view + partition replace)
    assert(verdictMap(runB2().ledger) == m2)
    // the sem sub-state accumulated: b3 permutes b2's admitted 20
    val r3 = verdictMap(Increment.curateIncrement(
      Seq(40L -> (rev(goodText("two")) + " ")).toDF("doc_id", "text")
        .select(col("doc_id"), expr("trim(text)").as("text")),
      "doc_id", "text", dir, "b3", cfg).ledger)
    assert(r3(40L) == ((false, "sem_dup", 20L)))
  }

  test("torn FIRST sem-enabled increment (sem written, minhash marker " +
      "missing) reads as uncommitted and the same-batch retry " +
      "re-bootstraps cleanly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_torn_sem").toString
    val cfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
      semDedupThresholdE4 = Some(9500L))
    val b1 = Seq(1L -> goodText("one"), 2L -> goodText("two"))
      .toDF("doc_id", "text")
    Increment.curateIncrement(b1, "doc_id", "text", dir, "b1", cfg)
    // simulate the crash between the sem write and the minhash marker:
    // drop the ENTIRE minhash dir (the earliest torn-bootstrap state)
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dir/minhash"), true)
    // the family sentinel names minhash as the authoritative marker, so
    // the torn ledger must NOT fall through to the sem meta
    assert(Increment.readLedger(spark, dir).count() == 0)
    // the retry re-bootstraps (sem sub-state statically replaced)
    val r = Increment.curateIncrement(b1, "doc_id", "text", dir, "b1",
      cfg)
    assert(verdictMap(r.ledger) == Map(
      1L -> ((true, "admitted", 1L)), 2L -> ((true, "admitted", 2L))))
    assert(Increment.readLedger(spark, dir).count() == 2)
    // and the recovered state gates: a permuted twin falls to sem_dup
    val r2 = verdictMap(Increment.curateIncrement(
      Seq(10L -> goodText("one").split(" ").reverse.mkString(" "))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b2", cfg).ledger)
    assert(r2(10L) == ((false, "sem_dup", 1L)))
  }

  test("semBackfill: retroactive semantic coverage — pre-enablement " +
      "admitted docs participate in sem dedup, incomplete corpus is " +
      "loud, and the backfill is re-entrant") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_backfill").toString
    def rev(t: String): String = t.split(" ").reverse.mkString(" ")
    // two increments WITHOUT the semantic stage
    val b1 = Seq(1L -> goodText("one"), 3L -> goodText("two"))
    val b2 = Seq(12L -> goodText("three"))
    Increment.curateIncrement(b1.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    Increment.curateIncrement(b2.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2")
    assert(!Increment.semStateExists(spark, dir))
    // incomplete corpus (doc 12 missing) is refused loudly
    intercept[IllegalArgumentException] {
      Increment.semBackfill(spark, dir, b1.toDF("doc_id", "text"),
        "doc_id", "text")
    }
    // full admitted history: all three docs embed under their ORIGINAL
    // ledger batch ids
    val corpus = (b1 ++ b2).toDF("doc_id", "text")
    assert(Increment.semBackfill(spark, dir, corpus,
      "doc_id", "text") == 3L)
    assert(Increment.semStateExists(spark, dir))
    // re-entrant: every ledger batch already sem-committed → no-op
    assert(Increment.semBackfill(spark, dir, corpus,
      "doc_id", "text") == 0L)
    // the next sem-enabled increment dedups against PRE-enablement
    // history: a word-permuted twin of b1's doc 1 (past MinHash — near
    // zero shingle overlap) falls to sem_dup with the historical parent
    val cfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
      semDedupThresholdE4 = Some(9500L))
    val m = verdictMap(Increment.curateIncrement(
      Seq(50L -> rev(goodText("one")), 51L -> goodText("nine"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b3", cfg).ledger)
    assert(m(50L) == ((false, "sem_dup", 1L)), s"$m")
    assert(m(51L) == ((true, "admitted", 51L)), s"$m")
  }

  test("windowBackfill: retroactive claims — passages of pre-enablement " +
      "batches strip from later increments; incomplete corpus is loud; " +
      "rerun is idempotent") {
    import graft.operators.Curation
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_wbf").toString
    val passage = (1 to 10).map(i => s"wb$i").mkString(" ")
    // two increments WITHOUT the window stage
    val b1 = Seq(1L -> (goodText("one") + " " + passage))
    val b2 = Seq(12L -> goodText("three"))
    Increment.curateIncrement(b1.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    Increment.curateIncrement(b2.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2")
    // incomplete corpus → loud
    intercept[IllegalArgumentException] {
      Increment.windowBackfill(spark, dir, b1.toDF("doc_id", "text"),
        "doc_id", "text", w = 8)
    }
    val corpus = (b1 ++ b2).toDF("doc_id", "text")
    val n1 = Increment.windowBackfill(spark, dir, corpus,
      "doc_id", "text", w = 8)
    assert(n1 > 0L)
    // rerun rewrites the same claims (idempotent)
    assert(Increment.windowBackfill(spark, dir, corpus,
      "doc_id", "text", w = 8) == n1)
    // the next window-enabled increment strips the HISTORICAL passage
    val cfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
      dedupWindowsW = Some(8))
    val r = Increment.curateIncrement(
      Seq(30L -> (goodText("five") + " " + passage))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b3", cfg)
    val t30 = r.admitted.select("id", "text").as[(Long, String)]
      .collect().toMap.apply(30L)
    assert(!t30.contains("wb1") && t30.contains("five1"),
      s"historical passage must strip: $t30")
    // sanity: backfilled claims carry the claiming ids for retraction
    val claims = spark.read.parquet(s"$dir/windows")
    assert(claims.columns.toSet == Set("id", "h", "batch_id"))
    assert(claims.filter(col("id") === 1L).count() > 0)
    // and Curation.windowClaims agrees with what b1's doc claims
    val expect1 = Curation.windowClaims(b1.toDF("id", "text"),
      "id", "text", 8).count()
    assert(claims.filter(col("batch_id") === "b1").count() == expect1)
  }

  test("substring-dedup stage: empty-state run matches the funnel's " +
      "removeDuplicateSpans, accumulated claims strip re-ingested " +
      "passages, retry replays identically, retraction frees the claims") {
    import graft.operators.Curation
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_windows").toString
    val cfg = graft.pipeline.IncrementConfig(minQualityE4 = 0,
      dedupWindowsW = Some(8))
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    def texts(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("id", "text").as[(Long, String)].collect().toMap
    // batch A: docs 1/2 share the 10-token passage — within-batch
    // canonical (doc 1) keeps it, doc 2 loses it
    val a = Seq(1L -> (goodText("one") + " " + passage),
      2L -> (goodText("two") + " " + passage))
    val ra = Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1", cfg)
    val gotA = texts(ra.admitted)
    // STAGE PARITY: an empty state is exactly the batch funnel's
    // window stage over the same pool
    val wantA = Curation.removeDuplicateSpans(
        a.toDF("id", "text"), "id", "text", 8)
      .select(col("id"), col("cleaned_text"))
      .as[(Long, String)].collect().toMap
    assert(gotA == wantA, s"$gotA vs $wantA")
    assert(gotA(1L).contains("p1") && !gotA(2L).contains("p1"),
      s"canonical keeps the passage, the twin loses it: $gotA")
    // batch B: doc 20 re-ingests the passage (claimed by state doc 1)
    // — removed with NO within-batch twin; doc 21 is untouched
    val b = Seq(20L -> (goodText("three") + " " + passage),
      21L -> goodText("four"))
    def runB() = Increment.curateIncrement(b.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2", cfg)
    val rb = runB()
    val gotB = texts(rb.admitted)
    assert(!gotB(20L).contains("p1") && gotB(20L).contains("three1"),
      s"state claim must strip the passage only: $gotB")
    assert(gotB(21L) ==
      Curation.removeDuplicateSpans(Seq(21L -> goodText("four"))
          .toDF("id", "text"), "id", "text", 8)
        .select(col("cleaned_text")).as[String].head(),
      "doc without claimed content must pass through")
    assert(rb.stageCounts.toMap.get("window_dedup").contains(2L))
    // retry replays identically (pre-batch claim view + partition
    // replace: doc 20's span still strips, claims don't double)
    assert(texts(runB().admitted) == gotB)
    // RETRACTION frees the claims: after retracting doc 1 (and doc 2,
    // the only other holder of batch-A content), a resubmission of the
    // passage admits with the passage intact
    Increment.retract(spark, dir, Seq(1L, 2L).toDF("id"))
    val rc = Increment.curateIncrement(
      Seq(30L -> (goodText("five") + " " + passage))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b3", cfg)
    val gotC = texts(rc.admitted)
    assert(gotC(30L).contains("p1") && gotC(30L).contains("p10"),
      s"retracted claims must stop stripping: $gotC")
  }

  test("window, exact and near stages against state in one increment: " +
      "claimed spans strip first, then exact and MinHash dedup") {
    val passage = (1 to 10).map(i => s"q$i").mkString(" ")
    val a = Seq(
      1L -> (goodText("one") + " " + passage),
      2L -> goodText("two"),
      3L -> "short junk!!!")                    // quality reject
    val b = Seq(
      10L -> goodText("one"),                   // spans claimed by state 1
      11L -> (goodText("two") + " appended"),   // near-dup of state 2
      12L -> goodText("two"),                   // exact dup of state 2
      13L -> (goodText("three") + " " + passage), // claimed passage strips
      14L -> goodText("four"))                  // fresh → admitted
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_window").toString
    val cfg = IncrementConfig(minQualityE4 = 0, dedupWindowsW = Some(8),
      semDedupThresholdE4 = Some(9500L), semDim = 16)
    Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1", cfg)
    val rb = Increment.curateIncrement(b.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2", cfg)
    val txt = rb.admitted.select("id", "text").as[(Long, String)]
      .collect().toMap
    val led = verdictMap(Increment.readLedger(spark, dir))
    // the window stage runs FIRST, so state-claimed content strips
    // before exact/minhash (11's goodText("two") prefix is claimed by
    // state doc 2 — its remnant admits; 10 and 12 strip to twin
    // remnants and exact-dedup within batch)
    assert(led(11L)._2 == "admitted")
    assert(led.values.count(_._2 == "exact_dup") >= 1)
    assert(led(14L)._2 == "admitted")
    assert(!txt(13L).contains("q1"), "claimed passage must strip")
  }

  test("the funnel's stateless gates (gopher, classifier, arpa, " +
      "decontamination, line dedup) run in the increment with identical " +
      "verdicts on a first batch") {
    import graft.operators.{Classifier, TextStats}
    import graft.pipeline.{Curate, CurateConfig}
    val fluent = "the table row scan key " +
      Seq.fill(12)("the table row scan key").flatMap(_.split(" "))
        .mkString(" ") + " the a"
    val spamText = "buy now cheap pills " +
      (1 to 12).map(i => s"offer$i").mkString(" ") + " the deal"
    // classifier trained on labeled exemplars: fluent-like positive,
    // spam-like negative
    val labeled = (
      (1 to 4).map(i => (100L + i, fluent + s" p$i", 1)) ++
      (1 to 4).map(i => (200L + i, spamText + s" n$i", 0))
    ).toDF("doc_id", "text", "y")
    val model = Classifier.train(labeled, "doc_id", "text", "y",
      dim = 64, iters = 8, lrE6 = 500000L)
    val arpa = TextStats.parseArpa(
      "\\data\\\nngram 1=6\nngram 2=4\n\n\\1-grams:\n" +
        "-0.7 the -0.2\n-0.9 table -0.2\n-0.9 row -0.2\n-0.9 scan\n" +
        "-0.9 key\n-2.0 <unk>\n\n\\2-grams:\n" +
        "-0.3 the table\n-0.3 table row\n-0.3 row scan\n-0.3 scan key\n" +
        "\n\\end\\\n")
    val passage5 = "the secret eval passage tokens appear here exactly now"
    val benchmark = Seq("benchmark prelude " + passage5).toDF("btext")
    val docs = Seq(
      1L -> (fluent + " unique1 tail"),   // admitted
      2L -> "zz yy xx",                   // gopher minWords → quality
      3L -> spamText,                     // classifier
      4L -> goodText("four"),             // salted tokens = unk → arpa
      5L -> (fluent + " " + passage5))    // shares the benchmark 8-gram
      .toDF("doc_id", "text")
    val gopher = TextStats.GopherConfig(minWords = 5, minStopHits = 1,
      minMeanLenE4 = 10000)
    def vmap(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "admitted", "reason")
        .as[(Long, Boolean, String)].collect()
        .map(v => v._1 -> ((v._2, v._3))).toMap
    val funnel = Curate.run(docs, "doc_id", "text", benchmark, "btext",
      CurateConfig(minQualityE4 = 0, gopherRules = Some(gopher),
        maxArpaE4 = Some(30000L), dedupLinesWithinDocs = true,
        emitLedger = true),
      classifierModel = Some(model), arpaModel = Some(arpa))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_gates").toString
    val r = Increment.curateIncrement(docs, "doc_id", "text", dir, "b1",
      IncrementConfig(minQualityE4 = 0, gopherRules = Some(gopher),
        maxArpaE4 = Some(30000L), dedupLinesWithinDocs = true),
      classifierModel = Some(model), arpaModel = Some(arpa),
      benchmark = Some((benchmark, "btext")))
    val got = vmap(r.ledger)
    assert(got == vmap(funnel.ledger.get), s"$got vs funnel")
    assert(got(1L) == ((true, "admitted")))
    assert(got(2L) == ((false, "quality")))
    assert(got(3L) == ((false, "classifier")))
    assert(got(4L) == ((false, "arpa")))
    assert(got(5L) == ((false, "decontaminated")))
    funnel.chunks.unpersist()
    // the line-dedup rewrite is the funnel's: admitted text equals
    // Curation.dedupLines on the same doc
    val want = graft.operators.Curation
      .dedupLines(Seq(1L -> (fluent + " unique1 tail"))
        .toDF("id", "text"), "id", "text")
      .select("cleaned_text").as[String].head()
    assert(r.admitted.select("text").as[String].head() == want)
  }

  test("compactStateTo folds the heavy tables into one base partition, " +
      "keeps ledger/metrics verbatim, serves identically, and a torn " +
      "compact (no marker) is loud-rerunnable") {
    val passage = (1 to 10).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_compact_src").toString
    val dest = java.nio.file.Files
      .createTempDirectory("graft_incr_compact_dst").toString + "/state"
    val cfg = IncrementConfig(minQualityE4 = 0, dedupWindowsW = Some(8))
    Increment.curateIncrement(
      Seq(1L -> (goodText("one") + " " + passage), 2L -> goodText("two"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b1", cfg)
    Increment.curateIncrement(
      Seq(5L -> goodText("five"), 6L -> goodText("six"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, "b2", cfg)
    Increment.compactStateTo(spark, dir, dest)
    // heavy tables: exactly one base partition each
    for (rel <- Seq("exact/keys", "windows", "minhash/bands",
        "minhash/shingles")) {
      val parts = spark.read.parquet(s"$dest/$rel")
        .select("batch_id").distinct().as[String].collect().toSet
      assert(parts == Set("base"), s"$rel partitions: $parts")
      assert(spark.read.parquet(s"$dest/$rel").count() ==
        spark.read.parquet(s"$dir/$rel").count(), s"$rel rows differ")
    }
    // audit trail verbatim
    assert(verdictMap(Increment.readLedger(spark, dest)) ==
      verdictMap(Increment.readLedger(spark, dir)))
    assert(Increment.readMetrics(spark, dest)
      .select("batch_id", "stage", "rows")
      .as[(String, String, Long)].collect().toSet ==
      Increment.readMetrics(spark, dir)
        .select("batch_id", "stage", "rows")
        .as[(String, String, Long)].collect().toSet)
    // serving parity: the next increment sees the same state
    val b3 = Seq(
      10L -> goodText("two"),                     // exact dup of 2
      11L -> (goodText("five") + " appended"),    // near-dup of 5
      13L -> (goodText("seven") + " " + passage), // claimed passage strips
      14L -> goodText("eight"))                   // fresh
    def verdicts(state: String) = {
      val r = Increment.curateIncrement(b3.toDF("doc_id", "text"),
        "doc_id", "text", state, "b3", cfg)
      (verdictMap(r.ledger),
        r.admitted.select("id", "text").as[(Long, String)].collect().toMap)
    }
    val (ledSrc, txtSrc) = verdicts(dir)
    val (ledDst, txtDst) = verdicts(dest)
    assert(ledDst == ledSrc, s"$ledDst vs $ledSrc")
    assert(txtDst == txtSrc)
    assert(!txtDst(13L).contains("c1"), "compacted claims must strip")
    // torn compact: marker missing ⇒ no state; rerun completes it
    val dest2 = java.nio.file.Files
      .createTempDirectory("graft_incr_compact_torn").toString + "/state"
    Increment.compactStateTo(spark, dir, dest2)
    val fsys = new org.apache.hadoop.fs.Path(dest2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dest2/minhash/meta"), true)
    assert(!Increment.stateExists(spark, dest2))
    Increment.compactStateTo(spark, dir, dest2)
    assert(verdictMap(Increment.readLedger(spark, dest2)) ==
      verdictMap(Increment.readLedger(spark, dir)))
  }

  test("a retry of a batch id FOLDED by compaction is refused loudly; " +
      "post-compaction batches keep the retry contract") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_fold_src").toString
    val dest = java.nio.file.Files
      .createTempDirectory("graft_incr_fold_dst").toString + "/state"
    val a = Seq(1L -> goodText("one"), 3L -> goodText("two"))
    Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    Increment.compactStateTo(spark, dir, dest)
    // b1's state rows now live under 'base' in dest: the excludeBatch
    // pre-batch view cannot hide them, so the rerun would self-dup the
    // whole batch and stomp its committed ledger — refuse instead
    val e = intercept[IllegalArgumentException] {
      Increment.curateIncrement(a.toDF("doc_id", "text"),
        "doc_id", "text", dest, "b1")
    }
    assert(e.getMessage.contains("compacted"), e.getMessage)
    // the original root is untouched: b1 retries still work there
    val v = verdictMap(Increment.curateIncrement(a.toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1").ledger)
    assert(v(1L)._2 == "admitted" && v(3L)._2 == "admitted")
    // a batch committed AFTER compaction retries fine against dest
    val b = Seq(10L -> goodText("three"))
    val f1 = verdictMap(Increment.curateIncrement(b.toDF("doc_id", "text"),
      "doc_id", "text", dest, "b2").ledger)
    val f2 = verdictMap(Increment.curateIncrement(b.toDF("doc_id", "text"),
      "doc_id", "text", dest, "b2").ledger)
    assert(f1 == f2 && f1(10L)._2 == "admitted")
    // compacting the compacted root carries the folded set forward
    val dest2 = java.nio.file.Files
      .createTempDirectory("graft_incr_fold_dst2").toString + "/state"
    Increment.compactStateTo(spark, dest, dest2)
    val e2 = intercept[IllegalArgumentException] {
      Increment.curateIncrement(a.toDF("doc_id", "text"),
        "doc_id", "text", dest2, "b1")
    }
    assert(e2.getMessage.contains("compacted"))
    // ... and b2 (folded by the SECOND compaction) is now refused too
    val e3 = intercept[IllegalArgumentException] {
      Increment.curateIncrement(b.toDF("doc_id", "text"),
        "doc_id", "text", dest2, "b2")
    }
    assert(e3.getMessage.contains("compacted"))
  }

  test("band-bucket skew metric (r17 #7): a boilerplate-flooded batch " +
      "surfaces as band_bucket_max ≈ batch size in the per-batch " +
      "funnel metrics; a diverse batch stays at 1") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_bandskew").toString
    val cfg = IncrementConfig(minQualityE4 = 0)
    // near-identical boilerplate (distinct texts — exact dedup keeps
    // them all; the shared shingles collapse their band keys into the
    // same buckets, the skew the metric exists to surface)
    val boiler = (1 to 30).map(i => s"bp$i").mkString(" ")
    Increment.curateIncrement(
      (1L to 8L).map(i => i -> s"$boiler tail$i").toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1", cfg)
    def bandMax(b: String): Long = Increment.readMetrics(spark, dir)
      .filter(col("batch_id") === b && col("stage") === "band_bucket_max")
      .select("rows").as[Long].head()
    assert(bandMax("b1") >= 4L && bandMax("b1") <= 8L, bandMax("b1"))
    // a diverse batch: every band bucket holds exactly one doc
    Increment.curateIncrement(
      (100L to 107L).map(i => i -> goodText(s"u$i"))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2", cfg)
    assert(bandMax("b2") == 1L)
  }

  test("decontam state family (r17 verdict #1): benchmark-less " +
      "increments default to the persisted grams; caller benchmark " +
      "overrides; retraction purges by provenance but shared grams " +
      "survive; torn registration is invisible; mixed n refused") {
    val b1t = "secret eval answer alpha beta gamma delta epsilon " +
      "zeta eta"
    val b2t = "unrelated holdout probe kilo lima mike november " +
      "oscar papa quebec"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_decontam").toString
    Increment.initStateFromCurated(spark, dir,
      Seq(1L -> goodText("one")).toDF("doc_id", "text"),
      "doc_id", "text")
    Increment.writeDecontamState(spark, dir,
      Seq(100L -> b1t).toDF("bid", "text"), "text", 8, "base")
    Increment.writeDecontamState(spark, dir,
      Seq(101L -> b2t).toDF("bid", "text"), "text", 8, "ev2")
    val cfg = IncrementConfig(minQualityE4 = 0)
    // the q176 gap, closed: NO caller benchmark, yet funnel-rejected
    // content from EITHER registered eval set is rejected
    val v = verdictMap(Increment.curateIncrement(Seq(
        10L -> (goodText("c") + " " + b1t),
        11L -> (goodText("d") + " " + b2t),
        12L -> goodText("e")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1", cfg).ledger)
    assert(v(10L) == ((false, "decontaminated", 10L)))
    assert(v(11L) == ((false, "decontaminated", 11L)))
    assert(v(12L) == ((true, "admitted", 12L)))
    // an EXPLICIT caller benchmark takes precedence over the family
    val v2 = verdictMap(Increment.curateIncrement(
      Seq(20L -> (goodText("c2") + " " + b1t)).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b2", cfg,
      benchmark = Some((Seq("caller supplied benchmark words one two " +
        "three four five six").toDF("text"), "text"))).ledger)
    assert(v2(20L) == ((true, "admitted", 20L)))
    // register a benchmark whose text CONTAINS b1t (so its grams
    // duplicate b1t's), then rotate it and bench2 out
    Increment.writeDecontamState(spark, dir,
      Seq(102L -> (b1t + " surplus tail")).toDF("bid", "text"),
      "text", 8, "ev3")
    assert(Increment.retractDecontamBenchmark(spark, dir,
      Seq(201L -> b2t, 202L -> (b1t + " surplus tail"))
        .toDF("bid", "text"), "text") > 0L)
    val v3 = verdictMap(Increment.curateIncrement(Seq(
        30L -> (goodText("f") + " " + b2t),   // rotated out → clean
        31L -> (goodText("g") + " " + b1t)    // shared grams survive
      ).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b3", cfg).ledger)
    assert(v3(30L) == ((true, "admitted", 30L)))
    assert(v3(31L) == ((false, "decontaminated", 31L)))
    // a TORN registration (grams landed, meta never did) is invisible
    val tornGram = (1 to 8).map(i => s"torn$i").mkString(" ")
    Seq(("zz", tornGram)).toDF("bench_key", "gram")
      .withColumn("batch_id", lit("torn"))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$dir/decontam/grams")
    val v4 = verdictMap(Increment.curateIncrement(
      Seq(40L -> (goodText("h") + " " + tornGram)).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b4", cfg).ledger)
    assert(v4(40L) == ((true, "admitted", 40L)))
    // a second registration under a DIFFERENT gram size is refused at
    // read (one pinned n per family)
    Increment.writeDecontamState(spark, dir,
      Seq(103L -> b2t).toDF("bid", "text"), "text", 5, "ev5")
    val e = intercept[IllegalArgumentException] {
      Increment.readDecontamGrams(spark, dir)
    }
    assert(e.getMessage.contains("inconsistent gram size"))
  }
}
