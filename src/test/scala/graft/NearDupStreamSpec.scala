package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.NearDupStream
import graft.streaming.NearDupStream.{Doc, Vote}

class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  test("hamming16 and band keys") {
    assert(NearDupStream.hamming16(0x0000L, 0x0001L) == 1)
    assert(NearDupStream.hamming16(0x0000L, 0xffffL) == 16)
    // two sigs within hamming 3 share at least one exact 4-bit band
    val a = 0x1234L
    val b = a ^ 0x0007L // 3 bits flipped, all in band 0
    val shared = NearDupStream.bandKeys(a).toSet
      .intersect(NearDupStream.bandKeys(b).toSet)
    assert(shared.nonEmpty)
  }

  test("streaming gate admits firsts and flags close signatures across batches") {
    val input = MemoryStream[Doc](spark)
    val votes = NearDupStream.bandVotes(input.toDS(), maxHamming = 3)
    val q = NearDupStream.admitted(votes)
      .writeStream.format("memory").queryName("neardup_admitted")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Doc(1L, 0x0000L), Doc(3L, 0xffffL))
      q.processAllAvailable()
      input.addData(
        Doc(2L, 0x0001L), // hamming 1 from doc 1 -> dup
        Doc(4L, 0xfff7L), // hamming 1 from doc 3 -> dup
        Doc(5L, 0x0f0fL)) // hamming 8 from both -> clean
      q.processAllAvailable()
      val got = spark.table("neardup_admitted")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) == ((false, 1L)))
      assert(got(3L) == ((false, 3L)))
      assert(got(2L) == ((true, 1L)))
      assert(got(4L) == ((true, 3L)))
      assert(got(5L) == ((false, 5L)))
    } finally q.stop()
  }

  test("within one batch the smaller id wins its bucket deterministically") {
    val input = MemoryStream[Doc](spark)
    val votes = NearDupStream.bandVotes(input.toDS(), maxHamming = 3)
    val q = NearDupStream.admitted(votes)
      .writeStream.format("memory").queryName("neardup_batch")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Doc(11L, 0x00aaL), Doc(10L, 0x00abL)) // hamming 1, same batch
      q.processAllAvailable()
      val got = spark.table("neardup_batch")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(10L) == ((false, 10L))) // smaller id admitted
      assert(got(11L) == ((true, 10L)))
    } finally q.stop()
  }

  test("near-dup chains collapse transitively (batch-component parity)") {
    // doc2 is rejected (near doc1); doc3 is near doc2 but NOT doc1 —
    // the chain semantics (class doc) rejects doc3 with parent doc2,
    // exactly as batch connectedComponents would put 1-2-3 in one group.
    val input = MemoryStream[Doc](spark)
    val votes = NearDupStream.bandVotes(input.toDS(), maxHamming = 3)
    val q = NearDupStream.admitted(votes)
      .writeStream.format("memory").queryName("neardup_chain")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Doc(1L, 0x0000L))
      q.processAllAvailable()
      input.addData(Doc(2L, 0x0007L)) // hamming 3 from doc1 -> dup of 1
      q.processAllAvailable()
      input.addData(Doc(3L, 0x0707L)) // hamming 6 from doc1, 3 from doc2
      q.processAllAvailable()
      val got = spark.table("neardup_chain")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) == ((false, 1L)))
      assert(got(2L) == ((true, 1L)))
      assert(got(3L) == ((true, 2L))) // parent pointer, not cluster root
    } finally q.stop()
  }

  test("maxPerBucket caps each bucket: an evicted prior no longer matches") {
    def verdicts(cap: Int, name: String): Map[Long, (Boolean, Long)] = {
      val input = MemoryStream[Doc](spark)
      val q = NearDupStream.admittedAppend(NearDupStream.bandVotes(
          input.toDS(), maxHamming = 3, maxPerBucket = cap))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(Doc(1L, 0x0000L))
        q.processAllAvailable()
        input.addData(Doc(2L, 0x00ffL)) // 8 bits from doc 1: admitted, and
        q.processAllAvailable()         // at cap 1 evicts doc 1 from bands 2, 3
        input.addData(Doc(3L, 0x0011L)) // 2 bits from doc 1, 6 from doc 2;
        q.processAllAvailable()         // meets doc 1 only in bands 2, 3
        spark.table(name)
          .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
          .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      } finally q.stop()
    }
    val capped = verdicts(1, "neardup_cap1")
    assert(capped(2L) == ((false, 2L)))
    assert(capped(3L) == ((false, 3L)), capped.toString)
    assert(verdicts(1024, "neardup_cap_default")(3L) == ((true, 1L)))
  }

  // ---- MinHash/LSH stream gate (the q27-grade signature) -----------------

  private val baseWords = (1 to 30).map(i => s"w$i").mkString(" ")

  test("MinHashStream replicates the batch pipeline's band keys exactly") {
    import graft.streaming.MinHashStream
    val docs = Seq((1L, baseWords), (2L, baseWords + " extra"),
      (3L, "completely different content " + (1 to 27).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.shingleSets(docs, "doc_id", "text"),
        "doc_id", bands = 4, rowsPerBand = 3)
      .select("doc_id", "band", "bh")
      .as[(Long, Int, String)].collect()
      .map { case (id, band, bh) => (id, MinHashStream.BandKey(band, bh)) }
      .toSet
    val local = docs.as[(Long, String)].collect().flatMap { case (id, t) =>
      MinHashStream.bandKeysFor(t, bands = 4, rowsPerBand = 3).map(k => (id, k))
    }.toSet
    assert(local == batch)
    assert(local.size == 12) // 3 docs × 4 bands
  }

  test("MinHashStream: a null text has no band keys, as in the batch path") {
    // the batch normalizeWords maps a null text to no words, hence no
    // shingles and no bands; the stream side shares Dedup's local form
    assert(graft.streaming.MinHashStream.bandKeysFor(null, 4, 3).isEmpty)
  }

  test("MinHash stream gate: verdicts consistent with batch " +
      "minhashNearDupPairs on the same vectors, across batches") {
    import graft.streaming.MinHashStream
    import graft.streaming.MinHashStream.{Doc => MDoc}
    val texts = Map(
      1L -> baseWords,                       // first: admit
      2L -> (baseWords + " extra"),          // jacc ~0.97 vs 1: dup
      3L -> ("completely different content " +
        (1 to 27).map(i => s"z$i").mkString(" ")), // admit
      4L -> (baseWords + " extra more"),     // dup of 1-chain
      5L -> "too short",                     // < 3 words: admit, stateless
      6L -> "")                              // empty: admit
    // batch ground truth: which ids pair with a SMALLER id at >= 0.8
    val batchDups = graft.operators.Dedup.minhashNearDupPairs(
        texts.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .filter(col("jacc_e4") >= 8000)
      .select("idA", "idB").as[(Long, Long)].collect()
      .map { case (a, b) => math.max(a, b) }.toSet
    assert(batchDups == Set(2L, 4L)) // the vectors actually exercise dups
    val input = MemoryStream[MDoc](spark)
    val votes = MinHashStream.bandVotes(input.toDS())
    val q = MinHashStream.admittedAppend(votes)
      .writeStream.format("memory").queryName("minhash_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(MDoc(1L, texts(1L)), MDoc(3L, texts(3L)))
      q.processAllAvailable()
      input.addData(MDoc(2L, texts(2L)), MDoc(5L, texts(5L)))
      q.processAllAvailable()
      input.addData(MDoc(4L, texts(4L)), MDoc(6L, texts(6L)))
      q.processAllAvailable()
      val got = spark.table("minhash_gate")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.size == 6) // one verdict per doc, incl. shingle-less
      val streamDups = got.collect { case (id, (true, _)) => id }.toSet
      assert(streamDups == batchDups, s"stream $streamDups vs batch $batchDups")
      assert(got(2L)._2 == 1L)               // parent = the admitted prior
      assert(Set(1L, 2L).contains(got(4L)._2)) // chain parent pointer
      assert(got(5L) == ((false, 5L)) && got(6L) == ((false, 6L)))
    } finally q.stop()
  }

  test("MinHash stream: smaller id wins its bucket within one batch") {
    import graft.streaming.MinHashStream
    import graft.streaming.MinHashStream.{Doc => MDoc}
    val input = MemoryStream[MDoc](spark)
    val votes = MinHashStream.bandVotes(input.toDS())
    val q = MinHashStream.admittedAppend(votes)
      .writeStream.format("memory").queryName("minhash_order")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(MDoc(11L, baseWords + " tail"), MDoc(10L, baseWords))
      q.processAllAvailable()
      val got = spark.table("minhash_order")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(10L) == ((false, 10L)))
      assert(got(11L) == ((true, 10L)))
    } finally q.stop()
  }

  test("admittedAppend emits one verdict per doc with self-cleaning state") {
    val input = MemoryStream[Doc](spark)
    val votes = NearDupStream.bandVotes(input.toDS(), maxHamming = 3)
    val q = NearDupStream.admittedAppend(votes)
      .writeStream.format("memory").queryName("neardup_append")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Doc(1L, 0x0000L), Doc(3L, 0xffffL))
      q.processAllAvailable()
      input.addData(Doc(2L, 0x0001L))
      q.processAllAvailable()
      val got = spark.table("neardup_append")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.size == 3) // exactly one verdict per doc, append-only
      assert(got(1L) == ((false, 1L)))
      assert(got(3L) == ((false, 3L)))
      assert(got(2L) == ((true, 1L)))
    } finally q.stop()
  }

  // ---- pHash stream gate (the image-modality twin) -----------------------

  private def mix64(id: Long, p: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + p * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    (z ^ (z >>> 27)) & 0xffL
  }
  private def grayPng(seed: Long, nudge: Int): Array[Byte] =
    graft.operators.Multimodal.encodeGrayPixelsPng(16, 16,
      Array.tabulate(256)(p => (mix64(seed, p.toLong).toInt +
        (if (p < 40) nudge else 0)).min(255)))

  test("PhashStream band keys replicate the batch shift-mask derivation") {
    import graft.streaming.PhashStream
    val sigs = Seq(0x0123456789abcdefL, -0x6789abcdef012346L, 0L)
    for (sig <- sigs; nBands <- Seq(4, 8)) {
      val bpb = 64 / nBands
      val mask = (1L << bpb) - 1L
      // the batch expression (`shiftright(sig, b*bpb) & mask`) per band
      val batch = (0 until nBands)
        .map(b => PhashStream.BandKey(b, (sig >> (b * bpb)) & mask))
      assert(PhashStream.bandKeysFor(sig, nBands) == batch)
      // masked arithmetic shift ≡ logical shift (the bits the sign fill
      // touches are stripped) — the equivalence the derivation relies on
      assert(PhashStream.bandKeysFor(sig, nBands).map(_.bits) ==
        (0 until nBands).map(b => (sig >>> (b * bpb)) & mask))
    }
  }

  test("PhashStream gate: verdicts consistent with batch " +
      "imagePHashNearDupPairs on the same PNG vectors, across batches; " +
      "undecodable payloads admit statelessly") {
    import graft.streaming.PhashStream
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    // 11/12 and 21/22 are nudged copies (near-dups under pHash); 30-34
    // unrelated; 99 undecodable
    val recs = (Seq(11L -> grayPng(1, 0), 12L -> grayPng(1, 7),
      21L -> grayPng(2, 0), 22L -> grayPng(2, 7)) ++
      (30L to 34L).map(i => i -> grayPng(i, 0)) ++
      Seq(99L -> Array[Byte](1, 2, 3)))
      .map { case (id, b) => MediaRecord(id, b, "image/png") }
    // batch ground truth: ids pairing with a SMALLER id within hamming 3
    val batchDups = Multimodal.imagePHashNearDupPairs(recs.toDS(), 3, 4)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, _) => math.max(a, b) }.toSet
    assert(batchDups.nonEmpty) // the vectors actually exercise dups
    val input = MemoryStream[MediaRecord](spark)
    val q = PhashStream.gateVerdicts(input.toDS())
      .writeStream.format("memory").queryName("phash_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(recs.filter(r => r.media_id % 2 == 1): _*)
      q.processAllAvailable()
      input.addData(recs.filter(r => r.media_id % 2 == 0): _*)
      q.processAllAvailable()
      val got = spark.table("phash_gate")
        .select("id", "admitted", "reason", "dup_of")
        .as[(Long, Boolean, String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.size == recs.size) // one verdict per image, marker incl.
      val streamDups = got.collect { case (id, (false, _, _)) => id }.toSet
      assert(streamDups == batchDups, s"stream $streamDups vs $batchDups")
      streamDups.foreach(id =>
        assert(got(id)._2 == "image_near_dup" && got(id)._3 < id))
      assert(got(99L) == ((true, "admitted", 99L))) // marker admits
      assert(got(11L) == ((true, "admitted", 11L)))
    } finally q.stop()
  }

  test("PhashStream: chains collapse; wide-band (8x8) serves hamming<=7; " +
      "band count is validated") {
    import graft.streaming.PhashStream
    import graft.streaming.PhashStream.Img
    intercept[IllegalArgumentException] {
      PhashStream.bandVotes(spark.emptyDataset[Img], maxHamming = 4,
        nBands = 4)
    }
    intercept[IllegalArgumentException] {
      PhashStream.bandVotes(spark.emptyDataset[Img], maxHamming = 3,
        nBands = 7)
    }
    val input = MemoryStream[Img](spark)
    val q = PhashStream.admittedAppend(PhashStream.bandVotes(
        input.toDS(), maxHamming = 7, nBands = 8))
      .writeStream.format("memory").queryName("phash_chain")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Img(1L, 0L))
      q.processAllAvailable()
      input.addData(Img(2L, 0x7fL))   // hamming 7 from 1 -> dup of 1
      q.processAllAvailable()
      input.addData(Img(3L, 0x7f7fL)) // hamming 14 from 1, 7 from 2
      q.processAllAvailable()
      val got = spark.table("phash_chain")
        .select("id", "is_dup", "dup_of").as[(Long, Boolean, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) == ((false, 1L)))
      assert(got(2L) == ((true, 1L)))
      assert(got(3L) == ((true, 2L))) // parent pointer, not cluster root
    } finally q.stop()
  }

  test("WindowDedupStream: window claims persist across batches; verdicts " +
      "match the batch operator for in-order ingest") {
    import graft.streaming.WindowDedupStream
    import graft.streaming.WindowDedupStream.Verdict
    val corpus = Seq(
      1L -> "a b c d e f",     // 4 windows, all canonical
      2L -> "x y",             // shorter than w → 0 windows
      3L -> "a b c d e f",     // every window already claimed by doc 1
      4L -> "x y a b c d z"    // abc, bcd claimed; xya, yab, cdz new
    )
    val input = MemoryStream[(Long, String)](spark)
    val out = WindowDedupStream.windowVerdicts(input.toDS(), w = 3)
    val q = out.writeStream.format("memory").queryName("wd_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wd_ckpt").toString)
      .start()
    try {
      input.addData(corpus(0), corpus(1))
      q.processAllAvailable()
      input.addData(corpus(2), corpus(3)) // claims from batch 1 persist
      q.processAllAvailable()
      val got = spark.table("wd_out").as[Verdict].collect()
        .map(v => v.id -> v).toMap
      assert(got.size == 4) // one verdict per doc, short docs included
      assert(got(1L) == Verdict(1L, 4L, 0L, 0L))
      assert(got(2L) == Verdict(2L, 0L, 0L, 0L))
      assert(got(3L) == Verdict(3L, 4L, 4L, 10000L))
      assert(got(4L) == Verdict(4L, 5L, 2L, 4000L))
      // parity: the batch operator on the same corpus (id order = arrival
      // order, where the two canonicals agree)
      val batch = graft.operators.Curation.duplicateWindows(
          corpus.toDF("doc_id", "text"), "doc_id", "text", w = 3)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got.values.foreach(v =>
        assert((v.n_windows, v.n_dup_windows) == batch(v.id),
          s"doc ${v.id}"))
    } finally q.stop()
  }

  // ---- audio + video stream gates (the 3rd/4th modality twins) ----------

  private def wavClip(id: Long, nw: Int, fromWindow: Int = 0,
                      gain: Int = 1, src: Long = -1L)
      : graft.operators.Multimodal.MediaRecord = {
    val pat = if (src == -1L) id else src
    def v(w: Int): Short = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$pat:$w".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 997L) + 1L).toShort
    }
    val frames = Array.tabulate[Short]((nw - fromWindow) * 50)(i =>
      (v(fromWindow + i / 50) * gain).toShort)
    graft.operators.Multimodal.MediaRecord(id,
      graft.operators.Multimodal.encodePcm16Wav(8000, 1, frames),
      "audio/wav")
  }

  test("AudioFpStream gate: verdicts consistent with batch " +
      "audioNearDupPairs on the same WAVs, across batches; " +
      "unfingerprintable clips admit statelessly") {
    import graft.streaming.AudioFpStream
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    val b1 = Seq(wavClip(1L, 24), wavClip(2L, 24), wavClip(3L, 24))
    val b2 = Seq(
      wavClip(101L, 24, gain = 2, src = 1L),      // gain twin of 1
      wavClip(202L, 24, fromWindow = 4, src = 2L), // tail segment of 2
      MediaRecord(9L, "junk".getBytes("UTF-8"), "audio/wav"))
    // batch ground truth: ids pairing with a SMALLER id at jacc >= 5000
    val batchDups = Multimodal.audioNearDupPairs((b1 ++ b2).toDS(),
        windowFrames = 50, k = 8, stride = 1, minMatchE4 = 5000L)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, _) => math.max(a, b) }.toSet
    assert(batchDups == Set(101L, 202L), s"fixture drifted: $batchDups")
    val input = MemoryStream[MediaRecord](spark)
    val q = AudioFpStream.gateVerdicts(input.toDS(),
        windowFrames = 50, k = 8, stride = 1, minMatchE4 = 5000L)
      .writeStream.format("memory").queryName("audio_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("audio_gate")
        .select("id", "admitted", "reason", "dup_of")
        .as[(Long, Boolean, String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.size == 6) // one verdict per clip, junk included
      assert(got(101L) == ((false, "audio_near_dup", 1L)))
      assert(got(202L) == ((false, "audio_near_dup", 2L)))
      assert(got(9L) == ((true, "admitted", 9L)))
      Seq(1L, 2L, 3L).foreach(id =>
        assert(got(id) == ((true, "admitted", id)), s"clip $id"))
    } finally q.stop()
  }

  private def mp4Clip(cid: Long, seed: Long, v: Int)
      : graft.operators.Multimodal.MediaRecord =
    graft.operators.Multimodal.MediaRecord(cid,
      graft.operators.Multimodal.encodeSamplesMp4(1000, 3000,
        (0 to 2).map(f => graft.operators.Multimodal.encodeGrayPixelsPng(
          16, 16, Array.tabulate(256) { p =>
            val (x, y) = (p % 16, p / 16)
            val nudge = if (v == 1 && f == 0 && x == 0 && y == 0) 9 else 0
            ((seed * 31 + f * 53 + y * 16 + x * 17 + nudge) % 256).toInt
          }))),
      "video/mp4")

  test("VideoStream gate: verdicts consistent with batch " +
      "videoNearDupPairs on the same MP4s, across batches; unparseable " +
      "payloads admit statelessly") {
    import graft.streaming.VideoStream
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    val b1 = Seq(mp4Clip(1L, 1L, 0), mp4Clip(2L, 2L, 0))
    val b2 = Seq(mp4Clip(101L, 1L, 1), // near re-encode of 1
      mp4Clip(3L, 3L, 0),
      MediaRecord(9L, "not a video".getBytes("UTF-8"), "video/mp4"))
    val batchDups = Multimodal.videoNearDupPairs((b1 ++ b2).toDS(),
        maxHamming = 3, nBands = 4, minSimE4 = 5000L)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => math.max(r._1, r._2)).toSet
    assert(batchDups == Set(101L), s"fixture drifted: $batchDups")
    val input = MemoryStream[MediaRecord](spark)
    val q = VideoStream.gateVerdicts(input.toDS(),
        maxHamming = 3, nBands = 4, minSimE4 = 5000L)
      .writeStream.format("memory").queryName("video_gate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("video_gate")
        .select("id", "admitted", "reason", "dup_of")
        .as[(Long, Boolean, String, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.size == 5)
      assert(got(101L) == ((false, "video_near_dup", 1L)))
      assert(got(9L) == ((true, "admitted", 9L)))
      Seq(1L, 2L, 3L).foreach(id =>
        assert(got(id) == ((true, "admitted", id)), s"video $id"))
    } finally q.stop()
  }
}
