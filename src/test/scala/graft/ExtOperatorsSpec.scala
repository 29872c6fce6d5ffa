package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextStats}

class ExtOperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = docA + " tail words appended"   // near-dup of A
  private val docC = "completely different content about spark catalyst plans"

  test("minhashNearDupPairs finds the planted near-dup and not the unrelated doc") {
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text")
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash index: incremental query ≡ batch cross pairs; append ≡ " +
       "rebuild") {
    // old snapshot: A and C; new batch: a near-dup of A and an unrelated doc
    val old = Seq((1L, docA), (3L, docC)).toDF("doc_id", "text")
    val fresh = Seq((10L, docB), (11L, "entirely novel text about rivers " +
      "and mountains flowing forever")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mh_idx").toString
    Dedup.writeMinhashIndex(old, "doc_id", "text", dir)
    val gotM = Dedup.nearDupAgainstIndex(spark, dir, fresh, "doc_id", "text")
    val got = gotM.df.select("id_new", "id_old", "jacc_e4")
      .as[(Long, Long, Long)].collect().toSet
    gotM.close()
    // ground truth: the batch operator over old ∪ new, restricted to
    // cross pairs (new ids are > old ids, so idB is always the new side)
    val expected = Dedup.minhashNearDupPairs(
        old.unionByName(fresh), "doc_id", "text")
      .filter(col("idB") >= 10L && col("idA") < 10L)
      .select(col("idB"), col("idA"), col("jacc_e4"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected && got.exists(_._1 == 10L), s"$got vs $expected")
    assert(!got.exists(p => p._1 == 11L), "unrelated doc must not match")

    // append the first batch, then a second batch near-dup of doc 10:
    // the index now answers for BOTH snapshots without any rebuild
    Dedup.appendToMinhashIndex(spark, dir, fresh, "doc_id", "text", "b1")
    // a RETRY of the same batch id replaces, not doubles: band rows for
    // doc 10 must stay unique per (band, bh)
    Dedup.appendToMinhashIndex(spark, dir, fresh, "doc_id", "text", "b1")
    val bandRows = spark.read.parquet(s"$dir/bands")
      .filter(col("id") === 10L).count()
    val bandRowsDistinct = spark.read.parquet(s"$dir/bands")
      .filter(col("id") === 10L).dropDuplicates("band", "bh").count()
    assert(bandRows == bandRowsDistinct, "retried append doubled band rows")
    val second = Seq((20L, docB + " extra")).toDF("doc_id", "text")
    val got2M = Dedup.nearDupAgainstIndex(spark, dir, second, "doc_id", "text")
    val got2 = got2M.df.select("id_new", "id_old")
      .as[(Long, Long)].collect().toSet
    got2M.close()
    // the direct near-dup (one mutation away) MUST band-match; doc 1 is
    // two mutations away — banding may or may not catch it (LSH recall)
    assert(got2.contains((20L, 10L)), got2.toString)
  }

  test("simhash16 is equal for identical text, in [0, 2^16)") {
    val df = Seq((1L, docA), (2L, docA), (3L, docC)).toDF("doc_id", "text")
      .withColumn("wh", Dedup.tokenHashes(Dedup.normalizeWords(col("text"))))
      .withColumn("sh", Dedup.simhash16)
    val got = df.select("doc_id", "sh").as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert(got.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("ngramJaccardPairs scores the near-dup high") {
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 0.3)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(got.head._3 > 5000L) // jacc_e4 scale-4 fixed point
  }

  test("ngramJaccardPairs df-cap drops hot grams but keeps rare-gram pairs") {
    // "the quick" etc. appear in docs 1,2 only; a gram in ALL docs gets capped
    val common = "zz yy"
    val df = Seq((1L, s"$docA $common"), (2L, s"$docB $common"),
      (3L, s"$docC $common")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 0.3,
        maxGramDocFreq = Some(2))
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)))       // rare shared grams survive
    assert(!capped.exists(p => p._2 == 3L)) // doc 3 only shared the hot gram
  }

  test("cosine is 1 for parallel vectors, 0 for orthogonal") {
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)), (3L, Seq(0.0, 5.0))
    ).toDF("id", "v")
    val pairs = Similarity.cosineNearDupPairs(df, 0.99)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bruteForceTopK and ivfTopK agree when every cell is probed") {
    val vecs = (0L until 20L).map(i =>
      (i, Seq(math.cos(i * 0.3), math.sin(i * 0.3), (i % 5) * 0.1)))
      .toDF("id", "v")
    val queries = vecs.filter(col("id") < 3)
    val brute = Similarity.bruteForceTopK(vecs, queries, 3)
      .select("vec_id", "other_id", "rank").as[(Long, Long, Long)].collect().toSet
    // 2 centroids, probe both => exhaustive => must equal brute force
    val cent = vecs.filter(col("id") % 10 === 0)
    val ivf = Similarity.ivfTopK(vecs, cent, queries, nprobe = 2, k = 3)
      .select("vec_id", "other_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ivf == brute)
  }

  test("bruteForceTopK refuses a corpus-sized query side (scale guard)") {
    import graft.operators.Similarity
    // spark.range gives the optimizer an exact 8-bytes/row size estimate:
    // 2^30 rows ~ 8 GiB >> the 64 MiB default guard. Plan-only — nothing
    // executes, the require fires during construction.
    val big = spark.range(1L << 30)
      .select(col("id"), array(lit(1.0), lit(0.0)).as("v"))
    val small = Seq((1L, Seq(1.0, 0.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(small, big, 3)
    }
    assert(e.getMessage.contains("ivfTopK"))
    // the sampled direction stays legal: big corpus, small query set
    Similarity.bruteForceTopK(big, small, 3)
    // a FILTER-SAMPLED query side over-estimates (basic stats pass the
    // Filter through at full child size) — the bounded count probe must
    // accept it rather than false-positive
    val sampled = spark.range(1L << 20)
      .select(col("id"), array(lit(1.0), lit(0.0)).as("v"))
      .filter(col("id") % (1L << 15) === 0) // 32 actual rows
    Similarity.bruteForceTopK(small, sampled, 3, maxQueryBytes = 1024)
  }

  test("connectedComponents: min-label over chains, pairs and isolates") {
    // components: {1,2,3} (chain), {10,11}, {20,21,22,23} (star on 20)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("idA", "idB")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents with a reliable checkpoint dir: same labels, " +
       "checkpoint files actually written") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("idA", "idB")
    val got = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // reliable mode really wrote its rounds to the directory
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, s"no checkpoint files under $dir")
  }

  test("packSequences: start-offset chunking per shard in id order") {
    import graft.operators.Curation
    // one shard: toks 100,100,100 with budget 256 → starts 0,100,200 →
    // packs 0,0,0; fourth doc starts at 300 → pack 1
    val df = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L))
      .toDF("doc_id", "toks")
    val got = Curation.packSequences(df, "doc_id", col("toks"), lit(0), 256)
      .select("doc_id", "pack").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  test("bm25 index: serving equals the per-call operator; append equals " +
       "a rebuild over the union") {
    val docs = Seq(
      (1L, "spark catalyst optimizer plans queries"),
      (2L, "spark shuffles and joins at scale"),
      (3L, "ducks swim on the quiet lake"),
      (4L, "catalyst rules rewrite spark plans")).toDF("doc_id", "text")
    val queries = Seq((100L, "spark"), (100L, "catalyst"), (200L, "lake"))
      .toDF("qid", "term")
    val direct = TextStats.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "term", k = 3)
      .select("qid", "doc_id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_idx").toString
    TextStats.writeBm25Index(docs, "doc_id", "text", dir)
    val indexed = TextStats.bm25AgainstIndex(spark, dir, queries,
        "qid", "term", k = 3)
      .select("qid", "id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(indexed == direct)

    // append a batch: serving over (A appended B) == per-call over A ∪ B
    val batch = Seq((10L, "another spark document about catalyst internals"))
      .toDF("doc_id", "text")
    TextStats.appendToBm25Index(spark, dir, batch, "doc_id", "text", "b1")
    // a RETRIED append (same batch id) is a no-op on the statistics: n,
    // dlsum, df partials must not double, so scores stay identical
    TextStats.appendToBm25Index(spark, dir, batch, "doc_id", "text", "b1")
    val afterAppend = TextStats.bm25AgainstIndex(spark, dir, queries,
        "qid", "term", k = 3)
      .select("qid", "id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val rebuilt = TextStats.bm25TopK(docs.unionByName(batch), "doc_id",
        "text", queries, "qid", "term", k = 3)
      .select("qid", "doc_id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterAppend == rebuilt)

    // an UNCOMMITTED batch (postings landed, meta never did — a crash
    // between writes) is invisible to serving
    val ghost = Seq((99L, "spark spark spark catalyst"))
      .toDF("doc_id", "text")
    val words = ghost.select(col("doc_id").as("id"),
      graft.operators.Dedup.normalizeWords(col("text")).as("__w"))
    words.select(col("id"), size(col("__w")).as("dl"),
        explode(col("__w")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("batch_id", lit("ghost"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$dir/postings")
    val afterGhost = TextStats.bm25AgainstIndex(spark, dir, queries,
        "qid", "term", k = 3)
      .select("qid", "id", "score_e6", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterGhost == rebuilt, "uncommitted batch leaked into serving")
  }

  test("index rebuild drops stale batch partitions even when the SESSION " +
       "runs partitionOverwriteMode=dynamic (write-local static pin)") {
    val docs = Seq((1L, docA), (2L, docC)).toDF("doc_id", "text")
    val batch = Seq((10L, docB)).toDF("doc_id", "text")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // BM25: build → append b1 → REBUILD. Under an inherited dynamic
      // mode the rebuild would only replace batch_id=base and the stale
      // b1 meta partial would double-count n/dlsum.
      val bdir = java.nio.file.Files
        .createTempDirectory("graft_bm25_static").toString
      TextStats.writeBm25Index(docs, "doc_id", "text", bdir)
      TextStats.appendToBm25Index(spark, bdir, batch, "doc_id", "text", "b1")
      TextStats.writeBm25Index(docs, "doc_id", "text", bdir)
      val metaBatches = spark.read.parquet(s"$bdir/meta")
        .select("batch_id").distinct().as[String].collect().toSet
      assert(metaBatches == Set("base"),
        s"stale bm25 meta partitions survived rebuild: $metaBatches")

      // MinHash: same shape over bands/meta
      val mdir = java.nio.file.Files
        .createTempDirectory("graft_mh_static").toString
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mdir)
      Dedup.appendToMinhashIndex(spark, mdir, batch, "doc_id", "text", "b1")
      Dedup.writeMinhashIndex(docs, "doc_id", "text", mdir)
      val bandBatches = spark.read.parquet(s"$mdir/bands")
        .select("batch_id").distinct().as[String].collect().toSet
      assert(bandBatches == Set("base"),
        s"stale minhash band partitions survived rebuild: $bandBatches")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("rrfFuse: agreement beats single-system rank 1; ties by id; topK") {
    import graft.operators.Fusion
    def c(r: Long) = math.floor(1e6 / (60.0 + r) + 0.5).toLong
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("qid", "doc_id", "rnk")
    val dense = Seq((1L, 11L, 1L), (1L, 13L, 2L), (1L, 12L, 3L))
      .toDF("qid", "doc_id", "rnk")
    val got = Fusion.rrfFuse(Seq(lex, dense), "qid", "doc_id", "rnk",
        k0 = 60, topK = 3)
      .orderBy("rnk").select("doc_id", "rrf_e6", "rnk")
      .as[(Long, Long, Long)].collect().toSeq
    // agreement dominates: doc 11 (ranks 2+1) first, doc 12 (3+3) second
    // — both beat doc 10's single rank-1 (2·c(3) > c(1) at k0=60, the
    // flat-contribution regime that makes RRF favor consensus)
    assert(got.head == ((11L, c(2) + c(1), 1L)))
    assert(got(1) == ((12L, 2 * c(3), 2L)))
    assert(got(2) == ((10L, c(1), 3L)))
    assert(got.size == 3) // topK=3 cuts doc 13's single c(2)
  }

  test("rrfFuse: duplicate (qid, id) rows within one ranking collapse to " +
      "their best rank — an upstream fan-out cannot stuff the ballot") {
    import graft.operators.Fusion
    def c(r: Long) = math.floor(1e6 / (60.0 + r) + 0.5).toLong
    // doc 10 appears twice in lex (join fan-out at ranks 1 and 2)
    val lex = Seq((1L, 10L, 1L), (1L, 10L, 2L), (1L, 11L, 3L))
      .toDF("qid", "doc_id", "rnk")
    val dense = Seq((1L, 11L, 1L)).toDF("qid", "doc_id", "rnk")
    val got = Fusion.rrfFuse(Seq(lex, dense), "qid", "doc_id", "rnk",
        k0 = 60, topK = 10)
      .select("doc_id", "rrf_e6").as[(Long, Long)].collect().toMap
    assert(got(10L) == c(1)) // best rank only, not c(1)+c(2)
    assert(got(11L) == c(3) + c(1))
  }

  test("qualitySignals: one-scan attributes equal the individual operators") {
    val fluent = (1 to 60).map(i => s"word$i").mkString("the table row scan key ", " ", " the a end.") + "\nsecond proper sentence with many more words here today.\nthird full sentence rounds out the c4 minimum nicely."
    val degenerate = "zz " * 6 // 4 identical 3-shingles → repetition > 0
    val docs = Seq((1L, fluent), (2L, degenerate), (3L, "")).toDF("doc_id", "text")
    val got = TextStats.qualitySignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getAs[Long]("doc_id") -> r).toMap

    // cross-check each signal against its standalone operator
    val solo = docs
      .withColumn("w", Dedup.normalizeWords(col("text")))
      .select(col("doc_id"),
        TextStats.qualityScore(col("text"), col("w")).as("q"),
        TextStats.gopherFlags(col("text"), col("w")).getField("pass").as("gp"),
        TextStats.piiHits(col("text")).cast("long").as("pii"),
        TextStats.wsTokenCount(col("text")).cast("long").as("ws"))
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(byId(id).getAs[Long]("quality_e4") == solo(id).getAs[Long]("q"))
      assert(byId(id).getAs[Boolean]("gopher_pass") == solo(id).getAs[Boolean]("gp"))
      assert(byId(id).getAs[Long]("pii_hits") == solo(id).getAs[Long]("pii"))
      assert(byId(id).getAs[Long]("ws_toks") == solo(id).getAs[Long]("ws"))
    }
    // the verdict columns separate the fluent doc from the degenerate one
    assert(byId(1L).getAs[Boolean]("gopher_pass"))
    assert(byId(1L).getAs[Boolean]("c4_keep"))
    assert(!byId(2L).getAs[Boolean]("gopher_pass"))
    assert(!byId(2L).getAs[Boolean]("c4_keep"))
    assert(byId(2L).getAs[Long]("rep_e4") > 0L) // "zz zz zz" repeats
    assert(byId(3L).getAs[Long]("ws_toks") == 0L) // empty doc still rows
  }

  test("quality score falls within [0,10000] e4 and penalizes punctuation") {
    val df = Seq((1L, "the plain simple readable text goes here"),
                 (2L, "@@## !!%% ??^^ &&**")).toDF("doc_id", "text")
      .withColumn("w", Dedup.normalizeWords(col("text")))
      .withColumn("score_e4", TextStats.qualityScore(col("text"), col("w")))
    val got = df.select("doc_id", "score_e4")
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(s => s >= 0L && s <= 10000L))
    assert(got(1L) > got(2L))
  }

  test("token counts: bpe-ish splits punctuation, whitespace does not") {
    val df = Seq((1L, "hello, world! x2")).toDF("doc_id", "text")
    val got = df.select(TextStats.wsTokenCount(col("text")).as("ws"),
      TextStats.bpeTokenCount(col("text")).as("bpe"))
      .as[(Int, Int)].head()
    assert(got._1 == 3)          // hello, | world! | x2
    assert(got._2 == 6)          // hello , world ! x 2
  }

  test("redactPii scrubs emails, urls, phone runs; plain text untouched") {
    val df = Seq(
      (1L, "mail me at bob.smith+x@corp.example.org today"),
      (2L, "see https://docs.example.com/a_b/c.html#x now"),
      (3L, "call +41 22 123 4567 please"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextStats.redactPii(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail me at <EMAIL> today")
    assert(got(2L).startsWith("see <URL>"))
    assert(got(3L) == "call <PHONE> please")
    assert(got(4L) == "nothing sensitive here")
  }

  test("encodeGradientPng round trip: mean matches the closed form and " +
      "differs from the uniform tile of the same mean") {
    // 4×3 base 10: pixels 10..15, sum = 12·10 + 3·(0+1+2+3) + 4·(0+1+2)
    val recs = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeGradientPng(4, 3, 10), "image/png"))
    val got = Multimodal.decodeImages(recs.toDS(), batchSize = 2)
      .collect().head
    assert(got.width == 4 && got.height == 3 && got.bands == 1)
    val sum = 12L * 10 + 3 * 6 + 4 * 3
    assert(got.mean_e4 == math.floor(sum * 10000.0 / 12 + 0.5).toLong)
    // the gradient is NOT uniform: a raster-order bug could not hide
    assert(got.mean_e4 != 10L * 10000)
    intercept[IllegalArgumentException] {
      Multimodal.encodeGradientPng(100, 100, 100) // 100+99+99 > 255
    }
  }

  test("decodeImages: ImageIO round trip recovers dims, bands and pixels") {
    import graft.operators.Multimodal
    val recs = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeGrayPng(7, 3, 200), "image/png"),
      Multimodal.MediaRecord(2L, Multimodal.encodeGrayPng(1, 1, 0), "image/png"),
      Multimodal.MediaRecord(3L, "not an image".getBytes("UTF-8"), "text/plain"))
    val got = Multimodal.decodeImages(recs.toDS(), batchSize = 2)
      .collect().sortBy(_.media_id).toSeq
    assert(got == Seq(
      Multimodal.DecodedImage(1L, 7, 3, 1, 2000000L),
      Multimodal.DecodedImage(2L, 1, 1, 1, 0L),
      Multimodal.DecodedImage(3L, 0, 0, 0, -1L)))
  }

  test("decodeImages refuses decompression bombs before allocating") {
    import graft.operators.Multimodal
    // a valid PNG signature + IHDR CLAIMING 40000x40000 (1.6e9 px) with a
    // garbage body: the header guard must yield the marker row without
    // ever asking ImageIO to allocate the raster
    val bomb = {
      val b = java.nio.ByteBuffer.allocate(33)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes("US-ASCII"))
      b.putInt(40000).putInt(40000) // width, height (big-endian)
      b.put(Array(8, 6, 0, 0, 0).map(_.toByte))
      b.array()
    }
    // GIF and BMP are ImageIO-decodable too: their claimed dims must be
    // guarded the same way (40000 = 0x9C40 little-endian)
    val gifBomb = "GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x9c, 0x40, 0x9c, 0, 0, 0).map(_.toByte)
    val bmpBomb = "BM".getBytes("US-ASCII") ++ new Array[Byte](16) ++
      Array(0x40, 0x9c, 0, 0, 0x40, 0x9c, 0, 0).map(_.toByte)
    val ok = Multimodal.encodeGrayPng(3, 2, 9)
    val got = Multimodal.decodeImages(Seq(
        Multimodal.MediaRecord(1L, bomb, "image/png"),
        Multimodal.MediaRecord(2L, ok, "image/png"),
        Multimodal.MediaRecord(3L, gifBomb, "image/gif"),
        Multimodal.MediaRecord(4L, bmpBomb, "image/bmp")).toDS())
      .collect().sortBy(_.media_id).toSeq
    assert(got == Seq(
      Multimodal.DecodedImage(1L, 0, 0, 0, -1L),
      Multimodal.DecodedImage(2L, 3, 2, 1, 90000L),
      Multimodal.DecodedImage(3L, 0, 0, 0, -1L),
      Multimodal.DecodedImage(4L, 0, 0, 0, -1L)))
  }

  test("resizeImages: hand-computed box means — uneven boxes, split " +
      "straddle, upscale clamp, rounding, marker") {
    import graft.operators.Multimodal
    val recs = Seq(
      // 5x1 split@2 (10|250) -> 2x1: [0,2) mean 10, [2,5) mean 250
      Multimodal.MediaRecord(1L,
        Multimodal.encodeSplitGrayPng(5, 1, 2, 10, 250), "image/png"),
      // 4x1 split@1 (0|100) -> 2x1: [0,2) straddles -> mean 50; [2,4) 100
      Multimodal.MediaRecord(2L,
        Multimodal.encodeSplitGrayPng(4, 1, 1, 0, 100), "image/png"),
      Multimodal.MediaRecord(3L, "not an image".getBytes("UTF-8"),
        "text/plain"))
    val got2 = Multimodal.resizeImages(recs.toDS(), 2, 1, batchSize = 2)
      .collect().sortBy(_.media_id).toSeq
    assert(got2 == Seq(
      Multimodal.ResizedImage(1L, 5, 1, 2, 1, 100000L + 2500000L),
      Multimodal.ResizedImage(2L, 4, 1, 2, 1, 500000L + 1000000L),
      Multimodal.ResizedImage(3L, 0, 0, 0, 0, -1L)))
    // rounding: 3x1 (0|100 split@1) -> 1x1: sum 200 over 3 px ->
    // floor(666666.67 + 0.5) = 666667
    val r = Multimodal.resizeImages(Seq(Multimodal.MediaRecord(9L,
        Multimodal.encodeSplitGrayPng(3, 1, 1, 0, 100), "image/png")).toDS(),
      1, 1).collect().head
    assert(r.out_sum_e4 == 666667L)
    // upscale: 1x1 gray 37 -> 3x2: every box clamps to the lone pixel
    val up = Multimodal.resizeImages(Seq(Multimodal.MediaRecord(8L,
        Multimodal.encodeSplitGrayPng(1, 1, 0, 0, 37), "image/png")).toDS(),
      3, 2).collect().head
    assert(up == Multimodal.ResizedImage(8L, 1, 1, 3, 2, 6L * 370000L))
  }

  test("audioEnergyWindows: window means, silence count, trailing " +
      "partial dropped, short-clip and marker rows") {
    import graft.operators.Multimodal
    // ch=2, 5 frames, windows of 2 frames: |100,300| -> mean 200;
    // |-200,500| -> mean 350; frame 700 is a trailing partial (dropped)
    val wav = Multimodal.encodePcm16Wav(8000, 2,
      Array[Short](100, 300, -200, 500, 700))
    val short0 = Multimodal.encodePcm16Wav(8000, 1, Array[Short](7))
    val recs = Seq(
      Multimodal.MediaRecord(1L, wav, "audio/wav"),
      Multimodal.MediaRecord(2L, short0, "audio/wav"),
      Multimodal.MediaRecord(3L, "not audio".getBytes("UTF-8"), "text/plain"))
    val got = Multimodal.audioEnergyWindows(recs.toDS(), windowFrames = 2,
        silenceE4 = 2500000L, batchSize = 2)
      .collect().sortBy(_.media_id).toSeq
    assert(got == Seq(
      Multimodal.AudioWindows(1L, 2L, 1L, 2000000L, 3500000L),
      Multimodal.AudioWindows(2L, 0L, 0L, -1L, -1L),
      Multimodal.AudioWindows(3L, 0L, -1L, -1L, -1L)))
    // rounding inside a window: [1,1,2] over one 3-frame window ->
    // floor(40000.0/3 + 0.5) = floor(13333.83) = 13333; over the default
    // silence threshold (10000 e4 = mean |sample| 1.0), so not silent
    val r = Multimodal.audioEnergyWindows(Seq(Multimodal.MediaRecord(9L,
        Multimodal.encodePcm16Wav(8000, 1, Array[Short](1, 1, 2)),
        "audio/wav")).toDS(), windowFrames = 3).collect().head
    assert(r == Multimodal.AudioWindows(9L, 1L, 0L, 13333L, 13333L))
  }

  test("imageAHash: hand-computed bits, threshold strictness, marker") {
    import graft.operators.Multimodal
    // 8x8 image, 1px boxes: pixel k gray = 10 for k < 32, 200 for k >= 32.
    // avg e4 = (32*100000 + 32*2000000)/64 = 1050000 -> exactly the top
    // half above threshold: bits 32..63 set = -4294967296 (0xFFFFFFFF00000000)
    val px = Array.tabulate(64)(k => if (k < 32) 10 else 200)
    val img = Multimodal.encodeGrayPixelsPng(8, 8, px)
    // uniform image: no cell exceeds the average -> hash 0 (strict >)
    val flat = Multimodal.encodeGrayPixelsPng(8, 8, Array.fill(64)(77))
    val got = Multimodal.imageAHash(Seq(
        Multimodal.MediaRecord(1L, img, "image/png"),
        Multimodal.MediaRecord(2L, flat, "image/png"),
        Multimodal.MediaRecord(3L, "nope".getBytes("UTF-8"), "text/plain"))
      .toDS()).collect().sortBy(_.media_id).toSeq
    assert(got == Seq(
      Multimodal.ImageHash(1L, 0xFFFFFFFF00000000L),
      Multimodal.ImageHash(2L, 0L),
      Multimodal.ImageHash(3L, -1L)))
  }

  test("imageNearDupPairs: banded join finds exactly the pairs within " +
      "hamming 3; markers never pair") {
    import graft.operators.Multimodal
    def pat(seed: Int, nudge: Int) = Array.tabulate(256) { p =>
      val (x, y) = (p % 16, p / 16)
      (seed * 31 + y * 16 + x * 17 + (if (x == 0 && y == 0) nudge else 0)) % 256
    }
    val recs = Seq(
      Multimodal.MediaRecord(1L,
        Multimodal.encodeGrayPixelsPng(16, 16, pat(5, 0)), "image/png"),
      Multimodal.MediaRecord(2L,   // near-dup of 1 (one pixel nudged)
        Multimodal.encodeGrayPixelsPng(16, 16, pat(5, 9)), "image/png"),
      Multimodal.MediaRecord(3L,   // unrelated pattern
        Multimodal.encodeGrayPixelsPng(16, 16, pat(123, 0)), "image/png"),
      Multimodal.MediaRecord(4L, "text".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRecord(5L, "text2".getBytes("UTF-8"), "text/plain"))
    val hashes = Multimodal.imageAHash(recs.toDS()).collect()
      .map(h => h.media_id -> h.ahash).toMap
    val pairs = Multimodal.imageNearDupPairs(recs.toDS(), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth by brute force over the decodable hashes
    val ids = Seq(1L, 2L, 3L)
    val expected = (for {
      a <- ids; b <- ids if a < b
      ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
      if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    assert(pairs == expected)
    assert(expected.contains((1L, 2L,
      java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)).toLong)))
    // the planted pair really is close and the unrelated one is not
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) <= 3)
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) > 3)
  }

  test("pHash wide-band serving: 8x8-bit bands find exactly the pairs " +
      "within hamming 7 (exact pigeonhole at the wider cut)") {
    import graft.operators.Multimodal
    // pseudo-random 16x16 patterns; ids 11/12 and 21/22 are mutated
    // copies (the --phash mixer shape), the rest unrelated
    def mix(id: Long, p: Long): Long = {
      var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0xffL
    }
    def img(id: Long, nudge: Int) = Multimodal.encodeGrayPixelsPng(16, 16,
      Array.tabulate(256)(p => (mix(id, p.toLong).toInt +
        (if (p < 40) nudge else 0)).min(255)))
    val recs = (Seq(11L -> img(1, 0), 12L -> img(1, 7),
      21L -> img(2, 0), 22L -> img(2, 7)) ++
      (30L to 40L).map(i => i -> img(i, 0)))
      .map { case (id, b) => Multimodal.MediaRecord(id, b, "image/png") }
    val hashes = Multimodal.imagePHash(recs.toDS()).collect()
      .map(h => h.media_id -> h.phash).toMap
    for ((maxH, nB) <- Seq((3, 4), (7, 8))) {
      val pairs = Multimodal.imagePHashNearDupPairs(recs.toDS(), maxH, nB)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val ids = hashes.keys.toSeq
      val expected = (for {
        a <- ids; b <- ids if a < b
        ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
        if ham <= maxH
      } yield (a, b, ham.toLong)).toSet
      assert(pairs == expected, s"maxH=$maxH bands=$nB")
    }
    // the wider cut is a superset serving the looser mutations
    intercept[IllegalArgumentException] {
      Multimodal.imagePHashNearDupPairs(recs.toDS(), 7, nBands = 4)
    }
  }

  test("videoNearDupPairs: full re-encodes score 1e4, single-shared-scene " +
      "clips score proportionally, markers never pair") {
    import graft.operators.Multimodal
    // 3-keyframe MP4s whose samples are LOSSLESS PNGs (the q103 pixel
    // discipline carried to video): per-frame pattern is closed-form in
    // (seed, frame), so ground truth follows from synthesis arithmetic
    def frame(seed: Long, f: Int, nudge: Int) =
      Multimodal.encodeGrayPixelsPng(16, 16, Array.tabulate(256) { p =>
        val (x, y) = (p % 16, p / 16)
        val n = if (nudge > 0 && x == 0 && y == 0) nudge else 0
        ((seed * 31 + f * 53 + y * 16 + x * 17 + n) % 256).toInt
      })
    def video(frames: Seq[Array[Byte]]) =
      Multimodal.encodeSamplesMp4(1000, 3000, frames)
    val recs = Seq(
      // 1 = base; 2 = re-encode of 1 (frame 0 one-pixel nudge, rest
      // identical); 3 = shares exactly frame 0 with 1, rest novel
      Multimodal.MediaRecord(1L, video((0 to 2).map(frame(1L, _, 0))), "video/mp4"),
      Multimodal.MediaRecord(2L, video(Seq(frame(1L, 0, 9), frame(1L, 1, 0),
        frame(1L, 2, 0))), "video/mp4"),
      Multimodal.MediaRecord(3L, video(Seq(frame(1L, 0, 0), frame(900L, 1, 0),
        frame(900L, 2, 0))), "video/mp4"),
      Multimodal.MediaRecord(4L, video((0 to 2).map(frame(50L, _, 0))), "video/mp4"),
      Multimodal.MediaRecord(5L, "not video".getBytes("UTF-8"), "text/plain"))
      .toDS()
    // per-frame hashes: markers for the text payload only
    val hashes = Multimodal.videoKeyframePhash(recs).collect()
    assert(hashes.count(_.media_id == 5L) == 1 &&
      hashes.find(_.media_id == 5L).get.phash == -1L)
    assert(hashes.count(h => h.media_id <= 4L) == 12) // 4 videos x 3 frames
    val m = Multimodal.videoNearDupPairsManaged(recs, maxHamming = 3,
      minSimE4 = 3000L)
    val got = m.df.select("idA", "idB", "matched_a", "matched_b", "sim_e4")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    m.close()
    // ground truth by brute force over the collected frame hashes
    val valid = hashes.filter(h => h.phash != -1L && h.frame_idx >= 0)
    val ids = valid.map(_.media_id).distinct.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      fa = valid.filter(_.media_id == a); fb = valid.filter(_.media_id == b)
      ma = fa.count(x => fb.exists(y =>
        java.lang.Long.bitCount(x.phash ^ y.phash) <= 3)).toLong
      mb = fb.count(y => fa.exists(x =>
        java.lang.Long.bitCount(x.phash ^ y.phash) <= 3)).toLong
      sim = math.floor((ma + mb) * 10000.0 / (fa.length + fb.length) + 0.5).toLong
      if sim >= 3000L
    } yield (a, b, ma, mb, sim)).toSet
    assert(got == expected, s"$got vs $expected")
    // the planted structure really landed: full re-encode and one-scene
    assert(got.contains((1L, 2L, 3L, 3L, 10000L)), got.toString)
    assert(got.contains((1L, 3L, 1L, 1L, 3333L)), got.toString)
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("pHash index: against-index query ≡ batch cross pairs; append ≡ " +
      "rebuild; retry replaces; banding guard holds") {
    import graft.operators.Multimodal
    def mix(id: Long, p: Long): Long = {
      var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0xffL
    }
    def img(seed: Long, nudge: Int) = Multimodal.encodeGrayPixelsPng(16, 16,
      Array.tabulate(256)(p => (mix(seed, p.toLong).toInt +
        (if (p < 40) nudge else 0)).min(255)))
    def rec(id: Long, seed: Long, nudge: Int) =
      Multimodal.MediaRecord(id, img(seed, nudge), "image/png")
    // old corpus: 8 unrelated images (+1 undecodable — must not index);
    // new batch: mutated copies of two of them + one novel + undecodable
    val old = ((0L until 8L).map(i => rec(i, i, 0)) :+
      Multimodal.MediaRecord(8L, "junk".getBytes("UTF-8"), "text/plain")).toDS()
    val fresh = Seq(rec(100L, 0L, 7), rec(101L, 3L, 7), rec(102L, 999L, 0),
      Multimodal.MediaRecord(103L, "junk2".getBytes("UTF-8"), "x/y")).toDS()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ph_idx").toString
    Multimodal.writePhashIndex(old, dir)
    val got = Multimodal.phashNearDupAgainstIndex(spark, dir, fresh, 3)
      .as[(Long, Long, Long)].collect().toSet
    // ground truth: the batch operator over old ∪ new, cross pairs only
    val expected = Multimodal.imagePHashNearDupPairs(
        old.unionByName(fresh), 3)
      .filter(col("idB") >= 100L && col("idA") < 100L)
      .select(col("idB"), col("idA"), col("hamming"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"$got vs $expected")
    assert(got.exists(_._1 == 100L) && got.exists(_._1 == 101L),
      "planted mutations must band-match their bases")
    assert(!got.exists(p => p._1 == 102L || p._1 == 103L))
    // markers are excluded at write
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("phash") === -1L).count() == 0)
    // append + RETRY idempotence: signature rows replaced, not doubled
    Multimodal.appendToPhashIndex(spark, dir, fresh, "b1")
    Multimodal.appendToPhashIndex(spark, dir, fresh, "b1")
    assert(spark.read.parquet(s"$dir/sigs").count() == 8L + 3L,
      "retried append doubled signature rows")
    // the index now answers for both snapshots: a mutation of doc 100
    // finds it (and transitively its base)
    val second = Seq(rec(200L, 0L, 12)).toDS()
    val got2 = Multimodal.phashNearDupAgainstIndex(spark, dir, second, 3)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(got2.contains((200L, 100L)), got2.toString)
    // pigeonhole guard: hamming cut must stay under the stored band count
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDupAgainstIndex(spark, dir, second, 4)
    }
  }

  test("contaminationFlags marks exactly the docs sharing a benchmark n-gram") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),  // contains the bench gram
      (2L, "alpha beta gamma DELTA epsilon zeta"),  // same after normalize
      (3L, "totally unrelated words here friend")).toDF("doc_id", "text")
    val bench = Seq("Beta gamma delta epsilon zeta!").toDF("q")
    val got = Curation.contaminationFlags(docs, "doc_id", "text", bench, "q", n = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, true), (3L, 0L, false)))
  }

  test("ngramJaccardPairsByFraction scales the cap with the corpus") {
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val m = Dedup.ngramJaccardPairsByFraction(df, "doc_id", "text", 0.3,
      maxGramDocFraction = 1.0) // cap = |docs| -> nothing dropped
    val got = m.df.as[(Long, Long, Long)].collect()
    m.close()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsByFraction(df, "doc_id", "text", 0.3, 0.0)
    }
  }

  test("wordNgrams: short inputs yield empty arrays, not [null]") {
    import graft.operators.Curation
    val got = Seq("one two", "a b c d").toDF("t")
      .select(Curation.wordNgrams(split(col("t"), " "), 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq.empty, Seq("a b c", "b c d")))
  }

  test("weightedSampleKeep: rate 1 keeps all, rate 0 keeps none, deterministic") {
    import graft.operators.Curation
    val df = (1 to 200).map(i => (i.toLong, s"doc $i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "text", "src")
    val keep = Curation.weightedSampleKeep(col("src"), col("text"),
      Map("a" -> 1.0, "b" -> 0.0))
    val kept = df.filter(keep).select("src").as[String].collect()
    assert(kept.toSet == Set("a") && kept.length == 100)
    // mid-rate: deterministic across evaluations
    val k5 = Curation.weightedSampleKeep(col("src"), col("text"), Map("b" -> 0.5))
    val n1 = df.filter(k5).count()
    val n2 = df.filter(k5).count()
    assert(n1 == n2 && n1 > 100 && n1 < 200) // all 'a' (default 1.0) + ~half 'b'
  }

  test("canonicalizeUrl anchors tracking params at a separator") {
    import graft.operators.Curation
    val vecs = Seq(
      // consecutive tracking params both stripped, no dangling ?
      "HTTPS://Ex.COM/P?utm_source=f&utm_campaign=x" -> "https://ex.com/P",
      // real param kept when the tracking param trails it
      "https://ex.com/p?id=7&utm_medium=m" -> "https://ex.com/p?id=7",
      // leading tracking param stripped, & promoted back to ?
      "https://ex.com/p?utm_medium=m&id=7" -> "https://ex.com/p?id=7",
      // substring look-alikes are NOT tracking params — kept verbatim
      "https://ex.com/p?xgclid=1" -> "https://ex.com/p?xgclid=1",
      "https://ex.com/p?myutm_a=b" -> "https://ex.com/p?myutm_a=b",
      // literal & in a query-less PATH is legal and untouchable (the
      // regex '&'→'?' promotion form corrupted exactly this)
      "https://ex.com/a&b" -> "https://ex.com/a&b",
      "https://ex.com/a&b?utm_x=1&id=2" -> "https://ex.com/a&b?id=2",
      // fragment, index.html, trailing slash
      "https://ex.com/p#frag" -> "https://ex.com/p",
      "https://ex.com/dir/index.html" -> "https://ex.com/dir",
      "https://ex.com/dir/" -> "https://ex.com/dir")
    val got = vecs.map(_._1).toDF("u")
      .select(Curation.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    assert(got == vecs.map(_._2))
  }

  test("chunkByTokens: no fully-contained trailing chunk; full coverage") {
    import graft.operators.Curation
    val words100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words100), (2L, "")).toDF("doc_id", "text")
    val got = Curation.chunkByTokens(df, "doc_id", "text",
        maxTokens = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_tokens").as[(Long, Long, Long)]
      .collect().toSeq
    // doc 1: starts 1, 49 only (start 97 would yield words 97-100, all
    // inside chunk 1's 49-100 window); chunk 1 still reaches word 100.
    // doc 2 (empty): one empty chunk, callers filter.
    assert(got == Seq((1L, 0L, 64L), (1L, 1L, 52L), (2L, 0L, 0L)))
  }

  test("dedupLines keeps first occurrences in original order and counts " +
      "drops") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),  // 3x nav → keep first
      (2L, "a\nb\nc"),                             // already clean
      (3L, "x\n\ny\n\nx\n"),                       // dup empty + dup x + trailing empty
      (4L, "")                                     // empty doc: one empty line
    ).toDF("doc_id", "text")
      .unionByName(Seq(Tuple1(5L)).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    val got = Curation.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "nav\nbody one\nbody two", 2L),
      (2L, "a\nb\nc", 0L),
      (3L, "x\n\ny", 3L),
      (4L, "", 0L),
      (5L, "", 0L)))  // NULL text folds to empty, doc NOT dropped
  }

  test("gopherFlags: every rule measured on crafted vectors") {
    import graft.operators.{Dedup, TextStats}
    val rows = Seq(
      (1L, "aa bb cc"),            // 3 words, mean len 2
      (2L, "# # #"),               // pure symbols
      (3L, "- a\n- b\nplain"),     // 2/3 bullet lines
      (4L, "so...\nplain"),        // 1/2 ellipsis lines, one ... symbol
      (5L, ""),                    // empty: all zero, pass false
      (6L, ("the quick brown fox jumps over a lazy dog " * 6).trim)
    ).toDF("doc_id", "text")
    val g = TextStats.gopherFlags(col("text"),
      Dedup.normalizeWords(col("text")))
    val got = rows.withColumn("g", g)
      .select(col("doc_id"), col("g.n_words"), col("g.mean_len_e4"),
        col("g.symbol_ratio_e4"), col("g.bullet_frac_e4"),
        col("g.ellipsis_frac_e4"), col("g.stop_hits"), col("g.pass"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)]
      .collect().toSeq
    assert(got(0) === ((1L, 3L, 20000L, 0L, 0L, 0L, 0L, false)))
    assert(got(1)._4 === 10000L)            // 3 symbols / 3 words
    assert(got(2)._5 === 6667L)             // 2/3 bullet lines
    assert(got(3)._6 === 5000L)             // 1/2 ellipsis lines
    assert(got(4) === ((5L, 0L, 0L, 0L, 0L, 0L, 0L, false)))
    val six = got(5)
    assert(six._2 === 54L && six._7 >= 2L && six._8 === true,
      six.toString)
  }

  test("repetitionSignals: every Gopher repetition rule on hand-derived " +
      "vectors (dup lines/paras, top and dup n-gram char fractions)") {
    import graft.operators.TextStats
    val longClean = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val rows = Seq(
      // 3 lines, one duplicate pair: dup 1/3; chars 5/12 of 12; words
      // [aa bb aa bb cc]: top2 = "aa bb"×2 → 2·4/10
      (1L, "aa bb\naa bb\ncc"),
      // three paragraphs, one duplicated (blank lines also split \n)
      (2L, "para one\n\npara one\n\npara two"),
      // 40 distinct 3-char words: every fraction small → rep_pass
      (3L, longClean),
      // 6-word phrase repeated around filler: dup5/dup6 cover
      // positions 1-6 ∪ 11-16 = 24 of 32 chars; top2 = "p1 p2"×2
      (4L, "p1 p2 p3 p4 p5 p6 f1 f2 f3 f4 p1 p2 p3 p4 p5 p6"),
      (5L, "")) // empty: all zeros, vacuous pass
      .toDF("doc_id", "text")
    val got = TextStats.repetitionSignals(rows, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String): Long =
      got(id).getAs[Long](c)
    assert(f(1L, "dup_line_frac_e4") == 3333L)
    assert(f(1L, "dup_line_char_frac_e4") == 4167L)
    assert(f(1L, "dup_para_frac_e4") == 0L)
    assert(f(1L, "top2_gram_frac_e4") == 8000L) // 2·4 / 10
    assert(f(1L, "top3_gram_frac_e4") == 6000L) // "aa bb aa": 6 / 10
    assert(f(1L, "dup5_gram_frac_e4") == 0L)
    assert(!got(1L).getAs[Boolean]("rep_pass"))
    assert(f(2L, "dup_para_frac_e4") == 3333L)
    assert(f(2L, "dup_para_char_frac_e4") == 3333L)
    assert(f(2L, "dup_line_frac_e4") == 3333L) // \n-split sees 3 lines
    assert(f(3L, "dup_line_frac_e4") == 0L)
    assert(f(3L, "top2_gram_frac_e4") == 500L)  // "w01 w02": 6/120
    assert(f(3L, "dup10_gram_frac_e4") == 0L)
    assert(got(3L).getAs[Boolean]("rep_pass"))
    assert(f(4L, "top2_gram_frac_e4") == 2500L) // 2·4 / 32
    assert(f(4L, "dup5_gram_frac_e4") == 7500L) // 24 / 32
    assert(f(4L, "dup6_gram_frac_e4") == 7500L)
    assert(f(4L, "dup7_gram_frac_e4") == 0L)
    assert(!got(4L).getAs[Boolean]("rep_pass"))
    assert(f(5L, "dup_line_frac_e4") == 0L &&
      f(5L, "top2_gram_frac_e4") == 0L &&
      got(5L).getAs[Boolean]("rep_pass"))
  }

  test("repetitionLocal replicates the distributed repetitionSignals " +
      "row for row on mixed vectors (the stream-gate parity contract)") {
    import graft.operators.TextStats
    val longClean = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val rows = Seq(
      1L -> "aa bb\naa bb\ncc",
      2L -> "para one\n\npara one\n\npara two",
      3L -> longClean,
      4L -> "p1 p2 p3 p4 p5 p6 f1 f2 f3 f4 p1 p2 p3 p4 p5 p6",
      5L -> "",
      6L -> "a\n\n\nb  c\n c ",              // ragged whitespace edges
      7L -> ("dup dup dup dup dup dup " * 4), // saturated repetition
      8L -> "Mixed, CASE! with punct-uation… 42")
    val cfg = TextStats.RepetitionConfig()
    val dist = TextStats.repetitionSignals(
        rows.toDF("doc_id", "text"), "doc_id", "text", cfg)
      .collect().map(r => r.getLong(0) -> r).toMap
    for ((id, text) <- rows) {
      val l = TextStats.repetitionLocal(text, cfg)
      val d = dist(id)
      assert(l.dupLineFracE4 == d.getAs[Long]("dup_line_frac_e4"), s"doc $id")
      assert(l.dupLineCharFracE4 ==
        d.getAs[Long]("dup_line_char_frac_e4"), s"doc $id")
      assert(l.dupParaFracE4 == d.getAs[Long]("dup_para_frac_e4"), s"doc $id")
      assert(l.dupParaCharFracE4 ==
        d.getAs[Long]("dup_para_char_frac_e4"), s"doc $id")
      for ((n, _) <- cfg.maxTopGramFracE4)
        assert(l.topGramFracE4(n) ==
          d.getAs[Long](s"top${n}_gram_frac_e4"), s"doc $id top$n")
      for ((n, _) <- cfg.maxDupGramFracE4)
        assert(l.dupGramFracE4(n) ==
          d.getAs[Long](s"dup${n}_gram_frac_e4"), s"doc $id dup$n")
      assert(l.pass == d.getAs[Boolean]("rep_pass"), s"doc $id pass")
    }
  }

  test("bigram LM cross-entropy: hand-computed smoothed costs; " +
      "bigram-less docs score 0 and are kept") {
    import graft.operators.TextStats
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val grams = TextStats.bigramCounts(docs, "text")
    // counts: "a b" -> 3 (two in doc 1, one in doc 2), "b a" -> 1
    // contexts: a -> 3, b -> 1; V = 10
    assert(grams.orderBy("gram").as[(String, Long)].collect().toSeq ===
      Seq("a b" -> 3L, "b a" -> 1L))
    val got = TextStats.lmCrossEntropy(docs, "doc_id", "text", grams, 10L)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    def le6(c: Long, ctx: Long) =
      math.floor(-math.log((c + 1.0) / (ctx + 10.0)) * 1e6 + 0.5).toLong
    val ab = le6(3, 3); val ba = le6(1, 1)
    def e4(s: Long, n: Long) = math.floor(s / (n * 100.0) + 0.5).toLong
    assert(got === Seq(
      (1L, 3L, e4(2 * ab + ba, 3)),
      (2L, 1L, e4(ab, 1)),
      (3L, 0L, 0L)))
  }

  test("hashEmbed: fixed-width dense vectors; identical text → identical " +
      "vector; composes with the ANN stack") {
    import graft.operators.{Similarity, TextStats}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "completely different words entirely here"),
      (4L, "")                                // empty: all-zero vector
    ).toDF("doc_id", "text")
    val long = TextStats.hashEmbed(docs, "doc_id", "text", dim = 8)
    // dense: every doc emits exactly dim rows
    assert(long.groupBy("doc_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 8L))
    val vecs = TextStats.hashEmbedGather(long, "doc_id")
    val byId = vecs.as[(Long, Seq[Double])].collect().toMap
    assert(byId(1L) === byId(2L))
    assert(byId(1L) !== byId(3L))
    assert(byId(4L) === Seq.fill(8)(0.0))
    // the ANN stack consumes the gathered form directly: the exact-dup
    // pair is the one cosine-1 pair
    val pairs = Similarity.cosineNearDupPairs(vecs.filter(col("id") =!= 4L),
        threshold = 0.999)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
  }

  test("hashEmbedVectors (sparse path) is value-identical to " +
      "hashEmbedGather(hashEmbed) and plans no dim-crossJoin") {
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon beta beta"),
      (3L, "completely different words entirely here"),
      (4L, "")                                // empty: all-zero vector
    ).toDF("doc_id", "text")
    val dense = TextStats.hashEmbedGather(
        TextStats.hashEmbed(docs, "doc_id", "text", dim = 8), "doc_id")
      .as[(Long, Seq[Double])].collect().toMap
    val sparseDf = TextStats.hashEmbedVectors(docs, "doc_id", "text", dim = 8)
    val sparse = sparseDf.as[(Long, Seq[Double])].collect().toMap
    assert(sparse === dense)
    assert(sparse(4L) === Seq.fill(8)(0.0))
    // the dense form's dim-fanout crossJoin must be gone: no nested-loop
    // join anywhere in the sparse plan (both its shuffles are equi/agg)
    val plan = sparseDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("duplicateWindowsMulti: single-scale parity; the scale mix " +
      "catches a short repeat a large w misses while keeping long-span " +
      "coverage; cleaner is idempotent on the fixture") {
    import graft.operators.Curation
    val longSpan = (1 to 16).map(i => s"tok$i").mkString(" ")
    val shortSpan = "aa bb cc dd"
    val docs = Seq(
      (1L, s"$longSpan filler one $shortSpan"),       // canonical for both
      (2L, s"prefix words here $longSpan trailing"),  // repeats long span
      (3L, s"other content $shortSpan and more text"), // repeats short span
      (4L, "entirely unrelated tokens nothing shared here at all"))
      .toDF("doc_id", "text")

    // ws = Seq(w) reproduces the single-w operator exactly
    val single = Curation.duplicateWindows(docs, "doc_id", "text", w = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    val multi1 = Curation.duplicateWindowsMulti(docs, "doc_id", "text",
        ws = Seq(8))
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(multi1 == single)

    // w=8 alone misses the 4-token repeat; ws={4, 8} catches both
    val m8 = multi1.map(t => t._1 -> t._4).toMap
    assert(m8(2L) == 16L && m8(3L) == 0L, m8.toString)
    val m48 = Curation.duplicateWindowsMulti(docs, "doc_id", "text",
        ws = Seq(4, 8))
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t._4).toMap
    assert(m48(2L) == 16L, "long-span coverage lost")
    assert(m48(3L) == 4L, s"short repeat missed: $m48")
    assert(m48(4L) == 0L, "unrelated doc flagged")

    // cleaner: removes the repeated spans (canonicals stay), and a
    // second pass over its own output removes nothing
    val cleaned = Curation.removeDuplicateSpansMulti(docs, "doc_id",
        "text", ws = Seq(4, 8))
      .persist()
    val byId = cleaned.select("doc_id", "cleaned_text", "n_removed_tokens")
      .as[(Long, String, Long)].collect().map(t => t._1 -> t).toMap
    assert(byId(1L)._3 == 0L, "canonical doc must keep everything")
    assert(byId(2L)._3 == 16L && !byId(2L)._2.contains("tok1 "),
      byId(2L).toString)
    assert(byId(3L)._3 == 4L && !byId(3L)._2.contains("aa"),
      byId(3L).toString)
    val second = Curation.removeDuplicateSpansMulti(
        cleaned.select(col("doc_id"), col("cleaned_text").as("text")),
        "doc_id", "text", ws = Seq(4, 8))
      .agg(sum("n_removed_tokens")).as[Long].head()
    assert(second == 0L, s"second pass removed $second tokens")
    cleaned.unpersist()
  }

  test("dedupLines is idempotent") {
    import graft.operators.Curation
    val docs = Seq((1L, "p\nq\np\nr\nq\np")).toDF("doc_id", "text")
    val once = Curation.dedupLines(docs, "doc_id", "text")
      .select(col("doc_id"), col("cleaned_text").as("text"))
    val twice = Curation.dedupLines(once, "doc_id", "text")
      .as[(Long, String, Long)].collect().toSeq
    assert(twice === Seq((1L, "p\nq\nr", 0L)))
  }

  test("duplicateWindows: cross-doc and intra-doc duplicate spans, " +
      "keep-first canonical, merged coverage") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "a b c d e f"),        // all 4 windows canonical (first in corpus)
      (2L, "x y a b c d z"),      // abc@3, bcd@4 dup doc1 → merged [3,7) = 4
      (3L, "a b c"),              // single window, dup of doc1@1
      (4L, "m n o p m n o p"),    // mno@5, nop@6 dup of own @1,@2 → [5,9) = 4
      (5L, "q r")                 // shorter than w → 0 windows
    ).toDF("doc_id", "text")
    val got = Curation.duplicateWindows(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 4L, 0L, 0L),
      (2L, 5L, 2L, 4L),
      (3L, 1L, 1L, 3L),
      (4L, 6L, 2L, 4L),
      (5L, 0L, 0L, 0L)))
  }

  test("removeDuplicateSpans: covered tokens drop, canonical occurrences " +
      "stay, no doc disappears") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "a b c"),
      (4L, "m n o p m n o p")
    ).toDF("doc_id", "text")
    val got = Curation.removeDuplicateSpans(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a b c d e f", 0L),
      (2L, "x y z", 4L),
      (3L, "", 3L),          // whole doc was a duplicate of doc 1's prefix
      (4L, "m n o p", 4L)))
    // on THIS corpus one pass reaches the fixpoint (no juxtaposition
    // recreates a duplicated window — not a general theorem: removal can
    // join a span's neighbors into a new duplicate; see the scaladoc)
    val again = Curation.duplicateWindows(
      Curation.removeDuplicateSpans(docs, "doc_id", "text", w = 3)
        .select(col("doc_id"), col("cleaned_text").as("text")),
      "doc_id", "text", w = 3)
      .agg(sum("n_dup_windows")).as[Long].collect().head
    assert(again === 0L)
  }

  test("importanceWeights: target-like docs outrank junk, identical docs " +
      "tie, logw is the exact n·(xr−xt) arithmetic") {
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "zz yy xx ww vv uu"),       // shares no bigram with the target
      (4L, "the cat sat on the mat")   // identical to doc 1
    ).toDF("doc_id", "text")
    val target = TextStats.bigramCounts(
      docs.filter(col("doc_id") <= 2), "text")
    val raw = TextStats.bigramCounts(docs, "text")
    val w = TextStats.importanceWeights(docs, "doc_id", "text", target,
      raw, vocabSize = 100L)
    val rows = w.as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    for ((_, (_, n, xt, xr, lw)) <- rows) assert(lw === n * (xr - xt))
    assert(rows(1L)._5 === rows(4L)._5)        // identical text, same weight
    assert(rows(1L)._5 > rows(3L)._5)          // target-like beats junk
    // temperature 0 = pure deterministic top-k by (weight, id)
    val expectTop = rows.values.toSeq
      .sortBy { case (id, _, _, _, lw) => (-lw, id) }.take(2).map(_._1)
    val picked0 = TextStats.importanceResample(w, "doc_id", k = 2,
        seed = 1L, temperatureE4 = 0L)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(picked0 === expectTop.sorted)
    // Gumbel selection is seed-deterministic and returns exactly k rows
    def sel(seed: Long) = TextStats.importanceResample(w, "doc_id", k = 3,
        seed = seed)
      .select("doc_id", "score_e4").as[(Long, Long)].collect().toSeq
    assert(sel(7L) === sel(7L))
    assert(sel(7L).size === 3)
    // the one-explode slice path is NUMERICALLY the compose-it-yourself
    // form (the q97 reshape's claim): same docs, target = the id<=2
    // slice, row-for-row identical output
    val wSlice = TextStats.importanceWeightsSlice(docs, "doc_id", "text",
      col("doc_id") <= 2, vocabSize = 100L)
    assert(wSlice.orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq ===
      w.orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq)
  }

  test("tfidfTopTerms: hand-computed idf_e6, tf scaling, term tie-break") {
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry")
    ).toDF("doc_id", "text")
    val got = TextStats.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    // N=3: df=1 → floor((ln(2)+1)*1e6+.5) = 1693147; df=2 → 1287682
    assert(got === Seq(
      (1L, "apple", 2L, 2L * 1693147L, 1L),
      (1L, "banana", 1L, 1287682L, 2L),
      (2L, "banana", 1L, 1287682L, 1L),   // tie with cherry → term asc
      (2L, "cherry", 1L, 1287682L, 2L),
      (3L, "cherry", 2L, 2L * 1287682L, 1L),
      (3L, "durian", 1L, 1693147L, 2L)))
  }

  test("bm25TopK: hand-computed score, length normalization, rank order") {
    import graft.operators.TextStats
    // d1 mentions apple twice in 4 words, d2 once in 2 words, d3 never.
    val docs = Seq(
      (1L, "apple apple pear plum"),
      (2L, "apple fig"),
      (3L, "kiwi mango")
    ).toDF("doc_id", "text")
    val queries = Seq((10L, "apple")).toDF("qid", "term")
    val got = TextStats.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "term", k = 5)
      .orderBy("rnk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // N=3, df(apple)=2 → idf_e6 = floor(ln((3-2+.5)/(2+.5)+1)*1e6+.5)
    val idfE6 = math.floor(
      math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1.0) * 1e6 + 0.5).toLong
    val avgdl = 8.0 / 3
    def c(tf: Long, dl: Long): Long = math.floor(
      idfE6 * (tf * 2.25) /
        (tf + 1.25 * (0.25 + 0.75 * dl / avgdl)) + 0.5).toLong
    // tf=2 beats tf=1 here: saturation (k1=1.25) still rewards the
    // second occurrence more than the dl-normalization penalizes the
    // longer doc (c(2,4) ≈ 568744 > c(1,2) ≈ 524656)
    assert(c(2, 4) > c(1, 2))
    assert(got === Seq(
      (10L, 1L, c(2, 4), 1L),
      (10L, 2L, c(1, 2), 2L)))
    // multi-term query sums e6-rounded contributions
    val q2 = Seq((20L, "apple"), (20L, "pear")).toDF("qid", "term")
    val res2 = TextStats.bm25TopK(docs, "doc_id", "text",
        q2, "qid", "term", k = 1)
      .as[(Long, Long, Long, Long)]
    val got2 = res2.collect().toSeq
    // the corpus must appear exactly ONCE in the plan STRUCTURALLY: df is
    // a window count over the query-term-restricted tf frame, not a
    // second reference to the corpus subtree deduped by ReusedExchange
    // (an optimizer artifact a pushed filter can silently defeat).
    // Scans here: docs ×1 + the two query-side branches (qid fan-out +
    // distinct term set) — docs is the 2-column relation.
    // AdaptiveSparkPlan.toString appends "== Initial Plan ==" after the
    // final plan — count scans in the final section only
    val plan2 = res2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan2.contains("ReusedExchange"), plan2)
    val docScans = "LocalTableScan \\[doc_id".r.findAllIn(plan2).size +
      "Scan ExistingRDD\\[doc_id".r.findAllIn(plan2).size
    assert(docScans == 1,
      s"docs relation must be scanned exactly once, found $docScans:\n$plan2")
    val idfPear = math.floor(
      math.log((3.0 - 1 + 0.5) / (1 + 0.5) + 1.0) * 1e6 + 0.5).toLong
    val cPear = math.floor(
      idfPear * (1 * 2.25) /
        (1 + 1.25 * (0.25 + 0.75 * 4 / avgdl)) + 0.5).toLong
    assert(got2 === Seq((20L, 1L, c(2, 4) + cPear, 1L)))
  }

  test("stupidBackoffScores: every branch hand-computed, short docs zero") {
    import graft.operators.TextStats
    val train = Seq(Tuple1("a b c d")).toDF("text")   // N=4 tokens
    val docs = Seq(
      (1L, "a b c"),    // trigram seen: S = c3/c2ctx = 1/1 → 0 nats
      (2L, "x b c"),    // tri unseen, suffix bigram "b c" seen: S = 0.4·(1/1)
      (3L, "a b x"),    // tri + suffix unseen, "x" OOV: S = 0.4·0.4·(0+1)/(4+1)
      (4L, "a b d"),    // tri + suffix "b d" unseen, "d" seen: S = 0.4·0.4·(1+1)/5
      (5L, "hi")        // < 3 words → zeros, still present
    ).toDF("doc_id", "text")
    val got = TextStats.stupidBackoffScores(docs, "doc_id", "text",
        train, "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    def nats(s: Double): Long = math.floor(-math.log(s) * 1e6 + 0.5).toLong
    assert(got === Seq(
      (1L, 1L, 0L),
      (2L, 1L, nats(0.4 * (1.0 / 1.0))),
      (3L, 1L, nats(0.4 * (0.4 * (0L + 1.0) / (4.0 + 1.0)))),
      (4L, 1L, nats(0.4 * (0.4 * (1L + 1.0) / (4.0 + 1.0)))),
      (5L, 0L, 0L)))
  }

  test("phraseSearch3: all occurrences, cross-doc, overlap, no-match") {
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "the quick fox the quick fox ends"),  // phrase twice
      (2L, "prefix the quick fox"),              // once, offset
      (3L, "quick fox the"),                     // rotated — no match
      (4L, "a a a a")                            // self-overlap probe
    ).toDF("doc_id", "text")
    val phrases = Seq(
      (10L, Seq("the", "quick", "fox")),
      (20L, Seq("a", "a", "a")),
      (30L, Seq("zz", "yy", "xx"))               // absent everywhere
    ).toDF("qid", "ts")
    val got = TextStats.phraseSearch3(docs, "doc_id", "text",
        phrases, "qid", "ts")
      .orderBy("qid", "doc_id", "match_pos")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (10L, 1L, 1L), (10L, 1L, 4L),   // both occurrences, 1-based
      (10L, 2L, 2L),
      (20L, 4L, 1L), (20L, 4L, 2L)))  // overlapping matches both count
  }

  test("mixturePlan: hand-computed epochs, caps, deficits, zero-weight " +
      "and empty-domain paths") {
    import graft.operators.Curation
    // rich: 10 docs x 100 tokens; scarce: 2 x 50; unlisted: 3 x 10
    val docs = (
      (1 to 10).map(i => (s"d$i", "rich", 100L)) ++
      (1 to 2).map(i => (s"s$i", "scarce", 50L)) ++
      (1 to 3).map(i => (s"u$i", "other", 10L))
    ).toDF("id", "dom", "toks")
    val got = Curation.mixturePlan(docs, "dom", col("toks"),
        Map("rich" -> 7500L, "scarce" -> 2500L),
        budgetTokens = 2000L, maxEpochsE4 = 30000L)
      .orderBy("dom")
      .select("dom", "n_docs", "avail_tokens", "weight_e4",
        "desired_tokens", "epochs_e4", "planned_tokens", "deficit")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // rich: avail 1000, desired 1500 -> epochs 1.5 (uncapped), planned
    // 1500, deficit 0. scarce: avail 100, desired 500 -> epochs would be
    // 5.0, capped at 3.0 -> planned 300, deficit 200. other: weight 0.
    assert(got === Seq(
      ("other", 3L, 30L, 0L, 0L, 0L, 0L, 0L),
      ("rich", 10L, 1000L, 7500L, 1500L, 15000L, 1500L, 0L),
      ("scarce", 2L, 100L, 2500L, 500L, 30000L, 300L, 200L)))
    // an all-empty-text domain (zero available tokens) plans zero
    val withEmpty = docs.unionByName(
      Seq(("e1", "empty", 0L)).toDF("id", "dom", "toks"))
    val e = Curation.mixturePlan(withEmpty, "dom", col("toks"),
        Map("rich" -> 5000L, "empty" -> 5000L), 1000L)
      .filter(col("dom") === "empty")
      .select("avail_tokens", "epochs_e4", "planned_tokens", "deficit")
      .as[(Long, Long, Long, Long)].head()
    assert(e === ((0L, 0L, 0L, 500L)))
  }

  test("c4Clean: every rule measured on crafted vectors") {
    import graft.operators.Curation
    val docs = Seq(
      // 3 good sentences → kept, page passes
      (1L, "this line ends with a period and has words.\n" +
        "does this line have enough words here?\n" +
        "yes it ends with an exclamation mark!"),
      // line rules: no terminal punct / too few words / javascript banner
      (2L, "first proper sentence with plenty of words here.\n" +
        "no terminal punctuation on this line\n" +
        "too few words.\n" +
        "please enable JavaScript to continue with the page.\n" +
        "second proper sentence with plenty of words too.\n" +
        "third proper sentence with plenty of words also."),
      // page flags: lorem ipsum / curly brace
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit.\n" +
        "another full sentence with enough words right here.\n" +
        "and a third full sentence with enough words too."),
      (4L, "some code follows in this otherwise fine document.\n" +
        "function f() please { return nothing } thanks a lot.\n" +
        "and a third full sentence with enough words too."),
      // under the sentence floor after cleaning
      (5L, "only one proper sentence lives in this document.\n" +
        "everything else lacks punctuation")
    ).toDF("doc_id", "text")
    val got = Curation.c4Clean(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines_kept", "n_lines_dropped", "n_sentences",
        "keep")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 0L, 3L, true),
      (2L, 3L, 3L, 3L, true),
      (3L, 3L, 0L, 3L, false),  // lorem ipsum page flag
      (4L, 3L, 0L, 3L, false),  // curly-brace page flag
      (5L, 1L, 1L, 1L, false))) // fewer than 3 sentences
    // cleaned text keeps original line order and drops the banners
    val cleaned2 = Curation.c4Clean(docs, "doc_id", "text")
      .filter(col("doc_id") === 2L)
      .select("cleaned_text").as[String].head()
    assert(cleaned2 ==
      "first proper sentence with plenty of words here.\n" +
      "second proper sentence with plenty of words too.\n" +
      "third proper sentence with plenty of words also.")
    // idempotence: cleaning cleaned text changes nothing
    val once = Curation.c4Clean(docs, "doc_id", "text")
      .select(col("doc_id"), col("cleaned_text").as("text"))
    val twice = Curation.c4Clean(once, "doc_id", "text")
      .select(col("doc_id"), col("cleaned_text").as("text"))
    assert(once.orderBy("doc_id").as[(Long, String)].collect().toSeq ===
      twice.orderBy("doc_id").as[(Long, String)].collect().toSeq)
  }
}
