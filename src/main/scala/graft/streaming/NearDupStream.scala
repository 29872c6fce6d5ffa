package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-dup gate — the unbounded-stream form of SimHash dedup
  * (the batch form is `Dedup.simhash16` + a bucket join, clustered by
  * `Dedup.connectedComponents`): admit a document iff its 16-bit SimHash
  * signature is not within `maxHamming` bits of a remembered one.
  *
  * SEMANTICS — transitive chains, matching the batch component form: a
  * rejected doc's signature still occupies the bands that did not flag it,
  * so a later doc close to a REJECTED doc (but not to any admitted one) is
  * also rejected — near-dup CHAINS collapse to one admitted representative,
  * exactly like the batch pipeline where pair edges (1,2), (2,3) put doc 3
  * in doc 1's component and keep only doc 1. `dup_of` is consequently a
  * union-find-style PARENT pointer (the matched prior, which may itself be
  * rejected), not the cluster root; follow the chain (or run the batch
  * components over the (id, dup_of) pairs) for canonical cluster ids.
  *
  * Banding (the LSH trick, stream edition): a signature is split into
  * `NumBands` 4-bit bands; two signatures within Hamming distance
  * `NumBands − 1` agree EXACTLY on at least one band (pigeonhole), so each
  * doc is routed to its `NumBands` (band, bandBits) groups and compared
  * only against the signatures remembered in those groups — per-group state
  * stays tiny (one signature list per 4-bit band value), and the state
  * store shards across executors on the group key, never a global list.
  * `maxHamming` must be < NumBands for the pigeonhole guarantee.
  *
  * A doc admitted by every band it touches is CLEAN; any band that finds a
  * close prior signature votes dup. Votes from the bands are combined
  * downstream ([[admittedAppend]] for unbounded streams, [[admitted]] as
  * the Complete-mode small-stream/test form). Cross-batch ordering between
  * two in-flight near-dups of each other is resolved by id: the smaller id
  * wins its bucket (deterministic under replays).
  */
object NearDupStream {

  val NumBands = 4
  val BandBits = 4

  case class Doc(id: Long, sig: Long)
  case class BandKey(band: Int, bits: Int)
  case class BandState(sigs: List[Doc])
  case class Vote(id: Long, sig: Long, dupOf: Long, isDup: Boolean)

  def hamming16(a: Long, b: Long): Int =
    java.lang.Long.bitCount((a ^ b) & 0xffffL)

  def bandKeys(sig: Long): Seq[BandKey] =
    (0 until NumBands).map { b =>
      BandKey(b, ((sig >> (b * BandBits)) & ((1 << BandBits) - 1)).toInt)
    }

  /** Per-band votes for a stream of (id, simhash16). Emits one [[Vote]]
    * per (doc, band); combine with [[admitted]]. State per group is the
    * list of signatures admitted by that band bucket (bounded by the
    * distinct signatures sharing 4 band bits; `maxPerBucket` caps it —
    * oldest drop first, the standard recall/space dial).
    */
  def bandVotes(docs: Dataset[Doc], maxHamming: Int = 3,
                maxPerBucket: Int = 1024)(
      implicit dEnc: Encoder[(BandKey, Doc)], kEnc: Encoder[BandKey],
      sEnc: Encoder[BandState], vEnc: Encoder[Vote]): Dataset[Vote] = {
    require(maxHamming < NumBands, "pigeonhole needs maxHamming < NumBands")
    import docs.sparkSession.implicits._
    docs.flatMap(d => bandKeys(d.sig).map(k => (k, d)))
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandState, Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: BandKey, rows: Iterator[(BandKey, Doc)], state: GroupState[BandState]) =>
          var seen = state.getOption.map(_.sigs).getOrElse(Nil)
          val out = rows.map(_._2).toSeq.sortBy(_.id).map { d =>
            seen.find(p => hamming16(p.sig, d.sig) <= maxHamming) match {
              case Some(prior) => Vote(d.id, d.sig, prior.id, isDup = true)
              case None =>
                seen = (d :: seen).take(maxPerBucket)
                Vote(d.id, d.sig, d.id, isDup = false)
            }
          }
          state.update(BandState(seen))
          out.iterator
      }
  }

  /** Combine band votes: a doc is admitted iff NO band saw a close prior
    * signature; `dup_of` = the smallest parent id reported by any dup-
    * voting band (each band reports its bucket's most recent match; see
    * the chain-semantics note above). Complete-mode aggregate keyed by
    * doc id — state and re-emitted output grow with the total stream, so
    * this is the SMALL-STREAM/test combiner; unbounded streams use
    * [[admittedAppend]].
    */
  def admitted(votes: Dataset[Vote]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    votes.toDF()
      .groupBy("id")
      .agg(max(when(col("isDup"), 1).otherwise(0)).cast("boolean").as("is_dup"),
        min(when(col("isDup"), col("dupOf"))).as("dup_of_raw"),
        first(col("sig")).as("sig"))
      .select(col("id"), col("is_dup"),
        coalesce(col("dup_of_raw"), col("id")).as("dup_of"), col("sig"))
  }

  case class Pending(votes: List[Vote])
  case class Verdict(id: Long, is_dup: Boolean, dup_of: Long, sig: Long)

  /** Append-mode combiner for unbounded streams: every doc's `NumBands`
    * votes are produced inside one micro-batch (bandVotes fans out and
    * emits in the same batch), so the per-id group sees them together,
    * emits ONE verdict, and removes its state — state is bounded by the
    * docs IN FLIGHT within a batch, not the stream's history, and output
    * is append-only (no Complete-mode re-emission of the whole table).
    * State lingers only for a doc whose votes were split across batches
    * (not produced by [[bandVotes]], but possible with a custom upstream);
    * such stragglers emit when their last vote arrives.
    */
  def admittedAppend(votes: Dataset[Vote])(
      implicit pEnc: Encoder[Pending], vEnc: Encoder[Verdict],
      lEnc: Encoder[Long]): Dataset[Verdict] =
    votes.groupByKey(_.id)
      .flatMapGroupsWithState[Pending, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Vote], state: GroupState[Pending]) =>
          val all = state.getOption.map(_.votes).getOrElse(Nil) ++ rows
          if (all.size >= NumBands) {
            state.remove()
            val dups = all.filter(_.isDup)
            Iterator.single(Verdict(id, dups.nonEmpty,
              if (dups.nonEmpty) dups.map(_.dupOf).min else id,
              all.head.sig))
          } else {
            state.update(Pending(all))
            Iterator.empty
          }
      }
}

/** Streaming MinHash/LSH near-dup gate — the stream analog of the
  * higher-recall BATCH default `Dedup.minhashNearDupPairs` (q27), so
  * incremental ingest no longer has to fall back to the weaker SimHash
  * signature. Same shape as [[NearDupStream]]: per-doc signatures fan out
  * to band-bucket groups (state shards on the band key, never a global
  * list), each bucket votes against its remembered priors, votes combine
  * to one append-mode verdict per doc.
  *
  * PARITY with the batch operator, by construction: word normalization,
  * 3-shingles, the hash-once md5 base, the affine-permutation signatures
  * (`Dedup.minhashA/minhashB/MinhashP`), the `'|'`-joined band key, and
  * the exact-Jaccard verify all replicate the batch column expressions in
  * executor-side Scala — the spec pins band keys AND verdicts against the
  * batch pipeline on shared vectors. A candidate only counts as dup after
  * EXACT Jaccard over remembered (distinct) shingle hashes clears
  * `thresholdE4`, mirroring the batch verify step; bucket state therefore
  * holds each remembered doc's distinct shingle-hash set (bounded by
  * `maxPerBucket` docs per band value, drop-oldest — the recall/space
  * dial; cardinality uses 31-bit hashes, so a distinct-string collision
  * is theoretically visible but ~n²/2³¹-improbable).
  *
  * Chain semantics match [[NearDupStream]] (and batch components): a
  * rejected doc is still remembered by the bands that did not flag it, so
  * chains collapse to one admitted representative and `dup_of` is a
  * parent pointer, not the cluster root. Docs with NO shingles (< 3
  * normalized words) cannot be near-dups under this signature: they route
  * to a stateless sentinel group and are always admitted.
  */
object MinHashStream {

  case class Doc(id: Long, text: String)
  case class BandKey(band: Int, bh: String)
  case class Entry(id: Long, shd: Array[Long])
  case class BandState(entries: List[Entry])
  /** `nVotes` = how many band votes this doc produces (bands, or 1 for the
    * shingle-less sentinel) — the combiner's completion count.
    */
  case class Vote(id: Long, dupOf: Long, isDup: Boolean, nVotes: Int)
  case class Pending(votes: List[Vote])
  case class Verdict(id: Long, is_dup: Boolean, dup_of: Long)

  /** Executor-side replica of `Dedup.shingles3` (space-joined 3-windows). */
  def shingles3Local(words: Array[String]): Array[String] =
    if (words.length < 3) Array.empty
    else Array.tabulate(words.length - 2)(i =>
      words(i) + " " + words(i + 1) + " " + words(i + 2))

  /** Executor-side replica of `Dedup.shingleHashes` for one shingle: first
    * 8 hex chars of md5, mod p.
    */
  def shingleHashLocal(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex8 = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex8, 16) % graft.operators.Dedup.MinhashP
  }

  /** Executor-side replica of `Dedup.minhashSig`. */
  def minhashSigLocal(hv: Array[Long], h: Int): Long = {
    val p = graft.operators.Dedup.MinhashP
    val a = graft.operators.Dedup.minhashA(h)
    val b = graft.operators.Dedup.minhashB(h)
    hv.foldLeft(p)((acc, v) => math.min(acc, (a * v + b) % p))
  }

  /** The batch band keys for one doc's text — shared by the routing fan-out
    * and the parity spec.
    */
  def bandKeysFor(text: String, bands: Int, rowsPerBand: Int): Seq[BandKey] = {
    val hv = shingles3Local(graft.operators.Dedup.normalizeWordsLocal(text))
      .map(shingleHashLocal)
    if (hv.isEmpty) Seq.empty
    else {
      val sigs = (0 until bands * rowsPerBand).map(h => minhashSigLocal(hv, h))
      (0 until bands).map(b => BandKey(b,
        sigs.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString("|")))
    }
  }

  /** Exact Jaccard (scale-4 fixed point) over distinct shingle-hash sets —
    * the batch verify formula (`inter / (|a| + |b| - inter)`).
    */
  def jaccE4(a: Array[Long], b: Array[Long]): Long = {
    val sa = a.toSet
    val inter = b.count(sa.contains)
    val union = sa.size + b.length - inter
    if (union == 0) 0L
    else math.floor(inter * 1.0 / union * 10000 + 0.5).toLong
  }

  /** Per-band votes for a stream of (id, text). Emits one [[Vote]] per
    * (doc, band); combine with [[admittedAppend]].
    */
  def bandVotes(docs: Dataset[Doc], bands: Int = 4, rowsPerBand: Int = 3,
                thresholdE4: Long = 8000, maxPerBucket: Int = 1024)(
      implicit rEnc: Encoder[(BandKey, Long, Array[Long], Int)],
      kEnc: Encoder[BandKey], sEnc: Encoder[BandState],
      vEnc: Encoder[Vote]): Dataset[Vote] = {
    require(bands >= 1 && rowsPerBand >= 1)
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val sh = shingles3Local(graft.operators.Dedup.normalizeWordsLocal(d.text))
      if (sh.isEmpty)
        Seq((BandKey(-1, ""), d.id, Array.empty[Long], 1))
      else {
        val hv = sh.map(shingleHashLocal)
        val shd = hv.distinct
        val sigs = (0 until bands * rowsPerBand).map(h => minhashSigLocal(hv, h))
        (0 until bands).map { b =>
          (BandKey(b, sigs.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
            .mkString("|")), d.id, shd, bands)
        }
      }
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandState, Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: BandKey, rows: Iterator[(BandKey, Long, Array[Long], Int)],
         state: GroupState[BandState]) =>
          if (key.band == -1) {
            // shingle-less sentinel: always admit, remember nothing
            rows.map(r => Vote(r._2, r._2, isDup = false, nVotes = 1))
              .toSeq.iterator
          } else {
            var seen = state.getOption.map(_.entries).getOrElse(Nil)
            val out = rows.toSeq.sortBy(_._2).map { case (_, id, shd, nv) =>
              seen.find(e => jaccE4(e.shd, shd) >= thresholdE4) match {
                case Some(prior) => Vote(id, prior.id, isDup = true, nv)
                case None =>
                  seen = (Entry(id, shd) :: seen).take(maxPerBucket)
                  Vote(id, id, isDup = false, nv)
              }
            }
            state.update(BandState(seen))
            out.iterator
          }
      }
  }

  /** Append-mode verdict combiner — one verdict per doc once all its
    * `nVotes` band votes arrived (same self-cleaning-state argument as
    * [[NearDupStream.admittedAppend]]).
    */
  def admittedAppend(votes: Dataset[Vote])(
      implicit pEnc: Encoder[Pending], vEnc: Encoder[Verdict],
      lEnc: Encoder[Long]): Dataset[Verdict] =
    votes.groupByKey(_.id)
      .flatMapGroupsWithState[Pending, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Vote], state: GroupState[Pending]) =>
          val all = state.getOption.map(_.votes).getOrElse(Nil) ++ rows
          if (all.nonEmpty && all.size >= all.head.nVotes) {
            state.remove()
            val dups = all.filter(_.isDup)
            Iterator.single(Verdict(id, dups.nonEmpty,
              if (dups.nonEmpty) dups.map(_.dupOf).min else id))
          } else {
            state.update(Pending(all))
            Iterator.empty
          }
      }
}

/** Streaming pHash near-dup gate — the IMAGE-modality stream twin of the
  * batch `Multimodal.imagePHashNearDupPairs` band join, closing the
  * batch/stream parity the text side maintains everywhere (SimHash →
  * [[NearDupStream]], MinHash → [[MinHashStream]], now pHash → this):
  * admit an image iff its 64-bit DCT perceptual hash is not within
  * `maxHamming` bits of a remembered one.
  *
  * Same shape as the text gates: each signature fans out to its `nBands`
  * equal-width pigeonhole bands (`64 % nBands == 0`, exact for
  * `maxHamming < nBands` — 4×16-bit serves hamming ≤ 3, 8×8-bit the
  * gradient-robust ≤ 7 cut measured in SCALE.md), state shards on the
  * (band, bits) key with a per-bucket cap, votes combine to ONE
  * append-mode verdict per image. Band bits replicate the batch
  * derivation exactly (`shiftright(sig, b·bpb) & mask` — the
  * `phashBandRows` expression), so a stream bucket sees precisely the
  * priors the batch join would pair — the spec pins band keys AND
  * verdicts against the batch operator on shared PNG vectors.
  *
  * Chain semantics match [[NearDupStream]] (and the batch connected
  * components): a rejected image is still remembered by the bands that
  * did not flag it, so near-dup chains collapse to one admitted
  * representative and `dup_of` is a parent pointer. Undecodable payloads
  * (marker hash −1, the batch exclusion) route to a stateless sentinel
  * group and are always admitted — an unreadable image is not a
  * duplicate of anything, and remembering the marker would collapse all
  * failures into one "dup" class.
  */
object PhashStream {

  case class Img(id: Long, sig: Long)
  case class BandKey(band: Int, bits: Long)
  case class BandState(sigs: List[Img])
  /** `nVotes` = bands per image (or 1 for the marker sentinel) — the
    * combiner's completion count, the [[MinHashStream.Vote]] discipline.
    */
  case class Vote(id: Long, sig: Long, dupOf: Long, isDup: Boolean,
                  nVotes: Int)
  case class Pending(votes: List[Vote])
  case class Verdict(id: Long, is_dup: Boolean, dup_of: Long, sig: Long)

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

  /** Per-band votes for a stream of (id, phash). Emits one [[Vote]] per
    * (image, band); combine with [[admittedAppend]]. State per group is
    * the signature list remembered by that band bucket, capped at
    * `maxPerBucket` (drop-oldest — the recall/space dial).
    */
  def bandVotes(imgs: Dataset[Img], maxHamming: Int = 3, nBands: Int = 4,
                maxPerBucket: Int = 1024)(
      implicit rEnc: Encoder[(BandKey, Img, Int)], kEnc: Encoder[BandKey],
      sEnc: Encoder[BandState], vEnc: Encoder[Vote]): Dataset[Vote] = {
    require(nBands > 0 && 64 % nBands == 0,
      s"band count ($nBands) must divide 64")
    require(maxHamming < nBands,
      s"pigeonhole over $nBands bands needs maxHamming < $nBands")
    import imgs.sparkSession.implicits._
    imgs.flatMap { d =>
      if (d.sig == -1L) Seq((BandKey(-1, 0L), d, 1))
      else bandKeysFor(d.sig, nBands).map(k => (k, d, nBands))
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandState, Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: BandKey, rows: Iterator[(BandKey, Img, Int)],
         state: GroupState[BandState]) =>
          if (key.band == -1) {
            // undecodable-marker sentinel: always admit, remember nothing
            rows.map(r => Vote(r._2.id, r._2.sig, r._2.id, isDup = false,
              nVotes = 1)).toSeq.iterator
          } else {
            var seen = state.getOption.map(_.sigs).getOrElse(Nil)
            val out = rows.toSeq.sortBy(_._2.id).map { case (_, d, nv) =>
              seen.find(p => hamming64(p.sig, d.sig) <= maxHamming) match {
                case Some(prior) =>
                  Vote(d.id, d.sig, prior.id, isDup = true, nv)
                case None =>
                  seen = (d :: seen).take(maxPerBucket)
                  Vote(d.id, d.sig, d.id, isDup = false, nv)
              }
            }
            state.update(BandState(seen))
            out.iterator
          }
      }
  }

  /** Append-mode verdict combiner — one verdict per image once all its
    * `nVotes` band votes arrived (same self-cleaning-state argument as
    * [[NearDupStream.admittedAppend]]).
    */
  def admittedAppend(votes: Dataset[Vote])(
      implicit pEnc: Encoder[Pending], vEnc: Encoder[Verdict],
      lEnc: Encoder[Long]): Dataset[Verdict] =
    votes.groupByKey(_.id)
      .flatMapGroupsWithState[Pending, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Vote], state: GroupState[Pending]) =>
          val all = state.getOption.map(_.votes).getOrElse(Nil) ++ rows
          if (all.nonEmpty && all.size >= all.head.nVotes) {
            state.remove()
            val dups = all.filter(_.isDup)
            Iterator.single(Verdict(id, dups.nonEmpty,
              if (dups.nonEmpty) dups.map(_.dupOf).min else id,
              all.head.sig))
          } else {
            state.update(Pending(all))
            Iterator.empty
          }
      }

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

  /** [[gate]] verdicts in the [[CurateStream.GateVerdict]] ledger shape
    * (`reason` = "image_near_dup" | "admitted"), so an image ingest
    * stream joins the same per-document accounting sink the text funnel
    * writes.
    */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   maxHamming: Int = 3, nBands: Int = 4,
                   maxPerBucket: Int = 1024)
      : Dataset[CurateStream.GateVerdict] = {
    import media.sparkSession.implicits._
    gate(media, maxHamming, nBands, maxPerBucket).map(v =>
      if (v.is_dup) CurateStream.GateVerdict(v.id, admitted = false,
        reason = "image_near_dup", dup_of = v.dup_of)
      else CurateStream.GateVerdict(v.id, admitted = true,
        reason = "admitted", dup_of = v.id))
  }
}

/** Streaming AUDIO near-dup gate — the audio-modality stream twin of the
  * batch `Multimodal.audioNearDupPairs` fingerprint join, extending the
  * batch/stream parity to the third modality (SimHash →
  * [[NearDupStream]], MinHash → [[MinHashStream]], pHash →
  * [[PhashStream]], now the banded energy fingerprint → this): admit a
  * clip iff its distinct sub-fingerprint set is not Jaccard-`minMatchE4`
  * close to a remembered one.
  *
  * The [[MinHashStream]] shape, with the FP VALUE as the routing key
  * (each shared sub-fingerprint is a candidate signal — the batch fp
  * equi join's stream form) and the clip's full distinct-fp array in
  * the bucket entry so the bucket verifies the EXACT batch Jaccard
  * (`inter / (na + nb − inter)`), never a band approximation. One vote
  * per distinct fp, combined to one append-mode verdict per clip.
  *
  * The per-bucket cap plays the batch DF cap's hub role FOR MEMORY
  * (a silence value shared corpus-wide holds at most `maxPerBucket`
  * entries and each arrival scans at most that many) — unlike the
  * batch cap it never suppresses candidate generation, so a hub value
  * still votes against its remembered prefix (documented divergence:
  * the stream gate errs toward recall, the batch operator toward
  * cost). Chain semantics match the sibling gates: a rejected clip is
  * still remembered by the buckets that did not flag it, `dup_of` is a
  * parent pointer. Unfingerprintable clips (undecodable, or shorter
  * than k+1 windows) route to a stateless sentinel and always admit —
  * they can never pair, and remembering them would collapse all
  * failures into one class.
  */
object AudioFpStream {

  case class Clip(id: Long, fps: Array[Long])
  case class Entry(id: Long, fps: Array[Long])
  case class FpState(entries: List[Entry])
  case class Vote(id: Long, dupOf: Long, isDup: Boolean, nVotes: Int)
  case class Pending(votes: List[Vote])
  case class Verdict(id: Long, is_dup: Boolean, dup_of: Long)

  /** Exact set Jaccard (scale-4 fixed point) over distinct fp arrays —
    * the batch verify formula, shared with [[MinHashStream.jaccE4]].
    */
  def jaccE4(a: Array[Long], b: Array[Long]): Long =
    MinHashStream.jaccE4(a, b)

  /** Per-fp votes for a stream of clips (distinct fps computed here).
    * Emits one [[Vote]] per (clip, distinct fp); combine with
    * [[admittedAppend]]. Sub-fingerprints pack at most 62 delta bits, so
    * every real fp is non-negative and −1 is free for the sentinel key.
    */
  def fpVotes(clips: Dataset[Clip], minMatchE4: Long = 5000L,
              maxPerBucket: Int = 64)(
      implicit rEnc: Encoder[(Long, Long, Array[Long], Int)],
      sEnc: Encoder[FpState], vEnc: Encoder[Vote]): Dataset[Vote] = {
    import clips.sparkSession.implicits._
    clips.flatMap { c =>
      val fs = c.fps.distinct
      if (fs.isEmpty) Seq((-1L, c.id, Array.empty[Long], 1))
      else fs.toSeq.map(f => (f, c.id, fs, fs.length))
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[FpState, Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Array[Long], Int)],
         state: GroupState[FpState]) =>
          if (key == -1L) {
            // unfingerprintable sentinel: always admit, remember nothing
            rows.map(r => Vote(r._2, r._2, isDup = false, nVotes = 1))
              .toSeq.iterator
          } else {
            var seen = state.getOption.map(_.entries).getOrElse(Nil)
            val out = rows.toSeq.sortBy(_._2).map { case (_, id, fps, nv) =>
              seen.find(e => jaccE4(e.fps, fps) >= minMatchE4) match {
                case Some(prior) => Vote(id, prior.id, isDup = true, nv)
                case None =>
                  seen = (Entry(id, fps) :: seen).take(maxPerBucket)
                  Vote(id, id, isDup = false, nv)
              }
            }
            state.update(FpState(seen))
            out.iterator
          }
      }
  }

  /** Append-mode verdict combiner — one verdict per clip once all its
    * `nVotes` fp votes arrived (the sibling gates' self-cleaning state).
    */
  def admittedAppend(votes: Dataset[Vote])(
      implicit pEnc: Encoder[Pending], vEnc: Encoder[Verdict],
      lEnc: Encoder[Long]): Dataset[Verdict] =
    votes.groupByKey(_.id)
      .flatMapGroupsWithState[Pending, Verdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[Vote], state: GroupState[Pending]) =>
          val all = state.getOption.map(_.votes).getOrElse(Nil) ++ rows
          if (all.nonEmpty && all.size >= all.head.nVotes) {
            state.remove()
            val dups = all.filter(_.isDup)
            Iterator.single(Verdict(id, dups.nonEmpty,
              if (dups.nonEmpty) dups.map(_.dupOf).min else id))
          } else {
            state.update(Pending(all))
            Iterator.empty
          }
      }

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
    admittedAppend(fpVotes(
      media.mapPartitions { it =>
        val buf = new Array[Byte](8192)
        it.map(r => Clip(r.media_id,
          graft.operators.Multimodal.audioFingerprintsOne(
            r.media_id, r.media, windowFrames, k, stride, quantE4, buf)
            .map(_.fp).toArray.distinct))
      },
      minMatchE4, maxPerBucket))
  }

  /** [[gate]] verdicts in the [[CurateStream.GateVerdict]] ledger shape
    * (`reason` = "audio_near_dup" | "admitted").
    */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   windowFrames: Int = 50, k: Int = 16, stride: Int = 1,
                   quantE4: Long = 1L, minMatchE4: Long = 5000L,
                   maxPerBucket: Int = 64)
      : Dataset[CurateStream.GateVerdict] = {
    import media.sparkSession.implicits._
    gate(media, windowFrames, k, stride, quantE4, minMatchE4,
        maxPerBucket).map(v =>
      if (v.is_dup) CurateStream.GateVerdict(v.id, admitted = false,
        reason = "audio_near_dup", dup_of = v.dup_of)
      else CurateStream.GateVerdict(v.id, admitted = true,
        reason = "admitted", dup_of = v.id))
  }
}

/** Streaming VIDEO near-dup gate — the fourth and last modality stream
  * twin (batch form: `Multimodal.videoNearDupPairs`): admit a video iff
  * its keyframe-hash set is not temporal-Jaccard-`minSimE4` close to a
  * remembered one.
  *
  * Routing fans each clip to the DISTINCT (band, bits) keys of its
  * keyframe hashes (`phashBandRows`' shift-mask arithmetic via
  * [[PhashStream.bandKeysFor]] — the batch frame-band equi join's
  * stream form; a clip whose frames share a band value routes there
  * once). Bucket entries carry the clip's full (frame_idx, phash)
  * arrays, so the bucket verifies the EXACT batch aggregate —
  * `(matched_new + matched_old) / (na + nb)` over hamming-≤-`maxHamming`
  * frame matches — never a single-frame approximation. One vote per
  * distinct band key (`nVotes` varies per clip), combined to one
  * append-mode verdict per video. Chain semantics and the
  * unparseable-payload sentinel match the sibling gates.
  */
object VideoStream {

  case class Clip(id: Long, fis: Array[Long], sigs: Array[Long])
  case class Entry(id: Long, fis: Array[Long], sigs: Array[Long])
  case class BandState(entries: List[Entry])
  /** The vote/verdict algebra is shape-identical to [[AudioFpStream]]'s
    * (one completion-counted vote per routing key, min-parent combine) —
    * one definition, shared, so a combiner fix lands once.
    */
  type Vote = AudioFpStream.Vote
  type Verdict = AudioFpStream.Verdict

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

  /** Per-band votes for a stream of clips. Emits one [[Vote]] per
    * (clip, distinct band key); combine with [[admittedAppend]].
    */
  def bandVotes(clips: Dataset[Clip], maxHamming: Int = 3, nBands: Int = 4,
                minSimE4: Long = 5000L, maxPerBucket: Int = 256)(
      implicit rEnc: Encoder[(PhashStream.BandKey, Clip, Int)],
      kEnc: Encoder[PhashStream.BandKey], sEnc: Encoder[BandState],
      vEnc: Encoder[Vote]): Dataset[Vote] = {
    require(nBands > 0 && 64 % nBands == 0,
      s"band count ($nBands) must divide 64")
    require(maxHamming < nBands,
      s"pigeonhole over $nBands bands needs maxHamming < $nBands")
    import clips.sparkSession.implicits._
    clips.flatMap { c =>
      if (c.sigs.isEmpty) Seq((PhashStream.BandKey(-1, 0L), c, 1))
      else {
        val keys = c.sigs.toSeq
          .flatMap(PhashStream.bandKeysFor(_, nBands)).distinct
        keys.map(k => (k, c, keys.length))
      }
    }
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandState, Vote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: PhashStream.BandKey, rows: Iterator[(PhashStream.BandKey, Clip, Int)],
         state: GroupState[BandState]) =>
          if (key.band == -1) {
            // unparseable/frameless sentinel: always admit
            rows.map(r => AudioFpStream.Vote(r._2.id, r._2.id, isDup = false, nVotes = 1))
              .toSeq.iterator
          } else {
            var seen = state.getOption.map(_.entries).getOrElse(Nil)
            val out = rows.toSeq.sortBy(_._2.id).map { case (_, c, nv) =>
              seen.find(e => simE4(e.fis, e.sigs, c.fis, c.sigs,
                  maxHamming) >= minSimE4) match {
                case Some(prior) =>
                  AudioFpStream.Vote(c.id, prior.id, isDup = true, nv)
                case None =>
                  seen = (Entry(c.id, c.fis, c.sigs) :: seen)
                    .take(maxPerBucket)
                  AudioFpStream.Vote(c.id, c.id, isDup = false, nv)
              }
            }
            state.update(BandState(seen))
            out.iterator
          }
      }
  }

  /** Append-mode verdict combiner — [[AudioFpStream.admittedAppend]]
    * verbatim (the shared Vote type).
    */
  def admittedAppend(votes: Dataset[Vote]): Dataset[Verdict] = {
    import votes.sparkSession.implicits._
    AudioFpStream.admittedAppend(votes)
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
    admittedAppend(bandVotes(
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

  /** [[gate]] verdicts in the [[CurateStream.GateVerdict]] ledger shape
    * (`reason` = "video_near_dup" | "admitted").
    */
  def gateVerdicts(media: Dataset[graft.operators.Multimodal.MediaRecord],
                   maxHamming: Int = 3, nBands: Int = 4,
                   minSimE4: Long = 5000L, maxPerBucket: Int = 256)
      : Dataset[CurateStream.GateVerdict] = {
    import media.sparkSession.implicits._
    gate(media, maxHamming, nBands, minSimE4, maxPerBucket).map(v =>
      if (v.is_dup) CurateStream.GateVerdict(v.id, admitted = false,
        reason = "video_near_dup", dup_of = v.dup_of)
      else CurateStream.GateVerdict(v.id, admitted = true,
        reason = "admitted", dup_of = v.id))
  }
}
