package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming SimHash near-dup gate — the unbounded-stream form of the
  * batch `Dedup.simhash16` bucket join, clustered by
  * `Dedup.connectedComponents` — bound to [[BandGate]]: admit a document
  * iff its 16-bit SimHash signature is not within `maxHamming` bits of a
  * remembered one.
  *
  * Routing keys: the `NumBands` 4-bit bands of the signature; two
  * signatures within Hamming distance `NumBands − 1` agree EXACTLY on at
  * least one band (pigeonhole), so `maxHamming` must be < NumBands. The
  * bucket entry is the (id, signature) pair and closeness is
  * [[hamming16]] ≤ `maxHamming`. [[admitted]] is the Complete-mode
  * small-stream/test combiner; unbounded streams use [[admittedAppend]].
  */
object NearDupStream {

  val NumBands = 4
  val BandBits = 4

  case class Doc(id: Long, sig: Long) extends BandGate.Item
  case class BandKey(band: Int, bits: Int)
  type Vote = BandGate.Vote

  def hamming16(a: Long, b: Long): Int =
    java.lang.Long.bitCount((a ^ b) & 0xffffL)

  def bandKeys(sig: Long): Seq[BandKey] =
    (0 until NumBands).map { b =>
      BandKey(b, ((sig >> (b * BandBits)) & ((1 << BandBits) - 1)).toInt)
    }

  /** Per-band votes for a stream of (id, simhash16). */
  def bandVotes(docs: Dataset[Doc], maxHamming: Int = 3,
                maxPerBucket: Int = 1024): Dataset[Vote] = {
    require(maxHamming < NumBands, "pigeonhole needs maxHamming < NumBands")
    BandGate.votes(docs, maxPerBucket)(d => (bandKeys(d.sig), d))(
      (p, d) => hamming16(p.sig, d.sig) <= maxHamming)
  }

  /** Combine band votes: a doc is admitted iff NO band saw a close prior
    * signature; `dup_of` = the smallest parent id reported by any dup-
    * voting band. Complete-mode aggregate keyed by doc id — state and
    * re-emitted output grow with the total stream, so this is the
    * SMALL-STREAM/test combiner.
    */
  def admitted(votes: Dataset[Vote]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    votes.toDF()
      .groupBy("id")
      .agg(max(when(col("isDup"), 1).otherwise(0)).cast("boolean").as("is_dup"),
        min(when(col("isDup"), col("dupOf"))).as("dup_of_raw"))
      .select(col("id"), col("is_dup"),
        coalesce(col("dup_of_raw"), col("id")).as("dup_of"))
  }

  def admittedAppend(votes: Dataset[Vote]): Dataset[BandGate.Verdict] =
    BandGate.admittedAppend(votes)
}

/** Streaming MinHash/LSH near-dup gate — the stream analog of the
  * higher-recall BATCH default `Dedup.minhashNearDupPairs` (q27), bound
  * to [[BandGate]], so incremental ingest need not fall back to the
  * weaker SimHash signature.
  *
  * Routing keys: the batch `'|'`-joined band keys ([[bandKeysFor]]); the
  * bucket entry is the doc's distinct shingle-hash set, and closeness is
  * EXACT Jaccard ≥ `thresholdE4` ([[jaccE4]]), the batch verify step.
  * Word normalization, 3-shingles, the hash-once md5 base and the
  * affine-permutation signatures run the batch kernels' own JVM bodies
  * (`graft.functions`), after `Locale.ROOT` lowercasing — the spec pins
  * band keys AND verdicts against the batch pipeline on shared vectors.
  * Cardinality uses 31-bit hashes, so a distinct-string collision is
  * theoretically visible but ~n²/2³¹-improbable. Docs with
  * NO shingles (< 3 normalized words) have no keys and always admit.
  */
object MinHashStream {

  case class Doc(id: Long, text: String)
  case class BandKey(band: Int, bh: String)
  case class Entry(id: Long, shd: Array[Long]) extends BandGate.Item
  type Vote = BandGate.Vote
  type Verdict = BandGate.Verdict

  /** The doc's shingle base hashes through the batch kernels' own
    * bodies: `Locale.ROOT` lowercasing, [[graft.functions.NormalizeWords]],
    * 3-word [[graft.functions.WordNgrams]], one md5 per shingle
    * ([[graft.functions.MinhashBands]]).
    */
  private def shingleHashes(text: String): Array[Long] = {
    import graft.functions.{MinhashBands, NormalizeWords, WordNgrams}
    MinhashBands.hashes(WordNgrams.ngrams(
      NormalizeWords.words(graft.operators.Dedup.lowerLocal(text)), 3))
  }

  private def bandKeysOf(hv: Array[Long], bands: Int,
                         rowsPerBand: Int): Seq[BandKey] =
    if (hv.isEmpty) Seq.empty
    else graft.functions.MinhashBands.keys(hv, bands, rowsPerBand).toSeq
      .zipWithIndex.map { case (k, b) => BandKey(b, k.toString) }

  /** The batch band keys for one doc's text (the parity spec's view). */
  def bandKeysFor(text: String, bands: Int, rowsPerBand: Int): Seq[BandKey] =
    bandKeysOf(shingleHashes(text), bands, rowsPerBand)

  /** Exact Jaccard (scale-4 fixed point) over distinct hash sets — the
    * batch verify formula (`inter / (|a| + |b| - inter)`).
    */
  def jaccE4(a: Array[Long], b: Array[Long]): Long = {
    val sa = a.toSet
    val inter = b.count(sa.contains)
    val union = sa.size + b.length - inter
    if (union == 0) 0L
    else math.floor(inter * 1.0 / union * 10000 + 0.5).toLong
  }

  /** Per-band votes for a stream of (id, text); the shingle hashes are
    * computed once per doc, for both the band keys and the entry.
    */
  def bandVotes(docs: Dataset[Doc], bands: Int = 4, rowsPerBand: Int = 3,
                thresholdE4: Long = 8000,
                maxPerBucket: Int = 1024): Dataset[Vote] = {
    require(bands >= 1 && rowsPerBand >= 1)
    BandGate.votes(docs, maxPerBucket) { d =>
      val hv = shingleHashes(d.text)
      (bandKeysOf(hv, bands, rowsPerBand), Entry(d.id, hv.distinct))
    }((p, e) => jaccE4(p.shd, e.shd) >= thresholdE4)
  }

  def admittedAppend(votes: Dataset[Vote]): Dataset[Verdict] =
    BandGate.admittedAppend(votes)
}

/** Streaming pHash near-dup gate — the IMAGE-modality stream twin of the
  * batch `Multimodal.imagePHashNearDupPairs` band join, bound to
  * [[BandGate]]: admit an image iff its 64-bit DCT perceptual hash is not
  * within `maxHamming` bits of a remembered one.
  *
  * Routing keys: the `nBands` equal-width pigeonhole bands of the hash
  * (`64 % nBands == 0`, exact for `maxHamming < nBands` — 4×16-bit serves
  * hamming ≤ 3, 8×8-bit the gradient-robust ≤ 7 cut measured in
  * SCALE.md), derived exactly as the batch `phashBandRows` expression
  * (`shiftright(sig, b·bpb) & mask`), so a stream bucket sees precisely
  * the priors the batch join would pair — the spec pins band keys AND
  * verdicts against the batch operator on shared PNG vectors. The entry
  * is the (id, hash) pair and closeness is [[hamming64]] ≤ `maxHamming`.
  * Undecodable payloads (marker hash −1, the batch exclusion) have no
  * keys and always admit: an unreadable image is not a duplicate of
  * anything, and remembering the marker would collapse all failures into
  * one "dup" class.
  */
object PhashStream {

  case class Img(id: Long, sig: Long) extends BandGate.Item
  case class BandKey(band: Int, bits: Long)
  type Vote = BandGate.Vote
  type Verdict = BandGate.Verdict

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** The batch band keys for one signature (`phashBandRows`' shift-mask
    * expression in executor Scala) — shared by the routing fan-out and
    * the parity spec.
    */
  def bandKeysFor(sig: Long, nBands: Int): Seq[BandKey] = {
    val bpb = 64 / nBands
    val mask = if (bpb == 64) -1L else (1L << bpb) - 1L
    (0 until nBands).map(b => BandKey(b, (sig >> (b * bpb)) & mask))
  }

  /** The band layout both 64-bit hash gates (pHash, video) accept. */
  private[streaming] def requireBands(maxHamming: Int, nBands: Int): Unit = {
    require(nBands > 0 && 64 % nBands == 0,
      s"band count ($nBands) must divide 64")
    require(maxHamming < nBands,
      s"pigeonhole over $nBands bands needs maxHamming < $nBands")
  }

  /** Per-band votes for a stream of (id, phash). */
  def bandVotes(imgs: Dataset[Img], maxHamming: Int = 3, nBands: Int = 4,
                maxPerBucket: Int = 1024): Dataset[Vote] = {
    requireBands(maxHamming, nBands)
    BandGate.votes(imgs, maxPerBucket)(d =>
      (if (d.sig == -1L) Seq.empty else bandKeysFor(d.sig, nBands), d))(
      (p, d) => hamming64(p.sig, d.sig) <= maxHamming)
  }

  def admittedAppend(votes: Dataset[Vote]): Dataset[Verdict] =
    BandGate.admittedAppend(votes)

  /** End-to-end image gate: a stream of raw media payloads → per-image
    * DCT pHash (`Multimodal.imagePHash` — the batch mapPartitions runs
    * unchanged under streaming; decode state is per-row) → band votes →
    * one [[Verdict]] per image.
    */
  def gate(media: Dataset[graft.operators.Multimodal.MediaRecord],
           maxHamming: Int = 3, nBands: Int = 4,
           maxPerBucket: Int = 1024): Dataset[Verdict] = {
    import media.sparkSession.implicits._
    admittedAppend(bandVotes(
      graft.operators.Multimodal.imagePHash(media)
        .map(h => Img(h.media_id, h.phash)),
      maxHamming, nBands, maxPerBucket))
  }

  /** [[gate]] verdicts in the ledger shape (`reason` = "image_near_dup"). */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   maxHamming: Int = 3, nBands: Int = 4,
                   maxPerBucket: Int = 1024)
      : Dataset[CurateStream.GateVerdict] =
    BandGate.ledger(gate(media, maxHamming, nBands, maxPerBucket),
      "image_near_dup")
}

/** Streaming AUDIO near-dup gate — the audio-modality stream twin of the
  * batch `Multimodal.audioNearDupPairs` fingerprint join, bound to
  * [[BandGate]]: admit a clip iff its distinct sub-fingerprint set is not
  * Jaccard-`minMatchE4` close to a remembered one.
  *
  * Routing keys: the distinct sub-fingerprint VALUES (each shared value
  * is a candidate signal — the batch fp equi join's stream form). The
  * entry is the clip's distinct fp array, and closeness is the EXACT
  * batch Jaccard (`inter / (na + nb − inter)`, [[MinHashStream.jaccE4]]),
  * never a band approximation.
  *
  * The per-bucket cap plays the batch DF cap's hub role FOR MEMORY (a
  * silence value shared corpus-wide holds at most `maxPerBucket` entries
  * and each arrival scans at most that many) — unlike the batch cap it
  * never suppresses candidate generation, so a hub value still votes
  * against its remembered prefix (documented divergence: the stream gate
  * errs toward recall, the batch operator toward cost). Unfingerprintable
  * clips (undecodable, or shorter than k+1 windows) have no keys and
  * always admit.
  */
object AudioFpStream {

  case class Clip(id: Long, fps: Array[Long]) extends BandGate.Item
  type Vote = BandGate.Vote
  type Verdict = BandGate.Verdict

  /** Per-fp votes for a stream of clips (distinct fps computed here). */
  def fpVotes(clips: Dataset[Clip], minMatchE4: Long = 5000L,
              maxPerBucket: Int = 64): Dataset[Vote] =
    BandGate.votes(clips, maxPerBucket) { c =>
      val fs = c.fps.distinct
      (fs.toSeq, Clip(c.id, fs))
    }((p, c) => MinHashStream.jaccE4(p.fps, c.fps) >= minMatchE4)

  /** End-to-end audio gate: a stream of raw media payloads → per-clip
    * distinct sub-fingerprints (one in-place decode per row, the
    * [[graft.operators.Multimodal.audioFingerprints]] arithmetic —
    * frames stay with their clip, no shuffle) → fp votes → one
    * [[Verdict]] per clip.
    */
  def gate(media: Dataset[graft.operators.Multimodal.MediaRecord],
           windowFrames: Int = 50, k: Int = 16, stride: Int = 1,
           quantE4: Long = 1L, minMatchE4: Long = 5000L,
           maxPerBucket: Int = 64): Dataset[Verdict] = {
    import media.sparkSession.implicits._
    BandGate.admittedAppend(fpVotes(
      media.mapPartitions { it =>
        val buf = new Array[Byte](8192)
        it.map(r => Clip(r.media_id,
          graft.operators.Multimodal.audioFingerprintsOne(
            r.media_id, r.media, windowFrames, k, stride, quantE4, buf)
            .map(_.fp).toArray.distinct))
      },
      minMatchE4, maxPerBucket))
  }

  /** [[gate]] verdicts in the ledger shape (`reason` = "audio_near_dup"). */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   windowFrames: Int = 50, k: Int = 16, stride: Int = 1,
                   quantE4: Long = 1L, minMatchE4: Long = 5000L,
                   maxPerBucket: Int = 64)
      : Dataset[CurateStream.GateVerdict] =
    BandGate.ledger(gate(media, windowFrames, k, stride, quantE4,
      minMatchE4, maxPerBucket), "audio_near_dup")
}

/** Streaming VIDEO near-dup gate — the stream twin of the batch
  * `Multimodal.videoNearDupPairs`, bound to [[BandGate]]: admit a video
  * iff its keyframe-hash set is not temporal-Jaccard-`minSimE4` close to
  * a remembered one.
  *
  * Routing keys: the distinct (band, bits) keys of its keyframe hashes
  * ([[PhashStream.bandKeysFor]] — the batch frame-band equi join's stream
  * form). The entry is the clip's full (frame_idx, phash) arrays, so
  * closeness is the EXACT batch aggregate ([[simE4]] over
  * hamming-≤-`maxHamming` frame matches), never a single-frame
  * approximation. Unparseable or frameless payloads have no keys and
  * always admit.
  */
object VideoStream {

  case class Clip(id: Long, fis: Array[Long], sigs: Array[Long])
    extends BandGate.Item
  type Vote = BandGate.Vote
  type Verdict = BandGate.Verdict

  /** The batch temporal aggregate (scale-4 fixed point): matched_a =
    * distinct frames of `a` within `maxHamming` of ANY frame of `b`,
    * symmetric for b; sim = (ma + mb) / (na + nb).
    */
  def simE4(aFis: Array[Long], aSigs: Array[Long],
            bFis: Array[Long], bSigs: Array[Long], maxHamming: Int): Long = {
    val na = aFis.distinct.length
    val nb = bFis.distinct.length
    if (na == 0 || nb == 0) return 0L
    def matched(xFis: Array[Long], xSigs: Array[Long],
                ySigs: Array[Long]): Int =
      xFis.indices.filter(i => ySigs.exists(s =>
        java.lang.Long.bitCount(s ^ xSigs(i)) <= maxHamming))
        .map(xFis).distinct.length
    val ma = matched(aFis, aSigs, bSigs)
    val mb = matched(bFis, bSigs, aSigs)
    math.floor((ma + mb) * 1.0 / (na + nb) * 10000 + 0.5).toLong
  }

  /** Per-band votes for a stream of clips. */
  def bandVotes(clips: Dataset[Clip], maxHamming: Int = 3, nBands: Int = 4,
                minSimE4: Long = 5000L,
                maxPerBucket: Int = 256): Dataset[Vote] = {
    PhashStream.requireBands(maxHamming, nBands)
    BandGate.votes(clips, maxPerBucket)(c =>
      (c.sigs.toSeq.flatMap(PhashStream.bandKeysFor(_, nBands)), c))(
      (p, c) => simE4(p.fis, p.sigs, c.fis, c.sigs, maxHamming) >= minSimE4)
  }

  /** End-to-end video gate: a stream of raw media payloads → per-clip
    * keyframe hashes (one in-place decode per row —
    * [[graft.operators.Multimodal.videoKeyframePhash]]'s per-record
    * body, frames staying with their clip, no shuffle) → band votes →
    * one [[Verdict]] per video.
    */
  def gate(media: Dataset[graft.operators.Multimodal.MediaRecord],
           maxHamming: Int = 3, nBands: Int = 4, minSimE4: Long = 5000L,
           maxPerBucket: Int = 256): Dataset[Verdict] = {
    import media.sparkSession.implicits._
    BandGate.admittedAppend(bandVotes(
      media.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { r =>
          val fr = graft.operators.Multimodal
            .videoKeyframePhashOne(r.media_id, r.media)
            .filter(f => f.phash != -1L && f.frame_idx >= 0L)
          Clip(r.media_id, fr.map(_.frame_idx).toArray,
            fr.map(_.phash).toArray)
        }
      },
      maxHamming, nBands, minSimE4, maxPerBucket))
  }

  /** [[gate]] verdicts in the ledger shape (`reason` = "video_near_dup"). */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   maxHamming: Int = 3, nBands: Int = 4,
                   minSimE4: Long = 5000L, maxPerBucket: Int = 256)
      : Dataset[CurateStream.GateVerdict] =
    BandGate.ledger(gate(media, maxHamming, nBands, minSimE4, maxPerBucket),
      "video_near_dup")
}
