package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, Multimodal}

/** IMAGE-corpus curation funnel — the multimodal twin of `Curate.run`'s
  * dedup stages, with the same per-document accounting contract: every
  * input image gets exactly one ledger verdict (id, admitted, reason,
  * dup_of), funnel counts per stage, survivors out the bottom.
  *
  * Stages, in funnel order:
  *  1. `decode` — payloads whose DCT pHash is the −1 marker (undecodable
  *     bytes or a pixel-bomb claim over `maxPixels`) drop with reason
  *     "undecodable". Batch curation REJECTS what it cannot read —
  *     unlike the streaming gate (`PhashStream.gate`), where a marker
  *     routes to no band key and `BandGate` admits a keyless item,
  *     because an ingest gate must not silently discard; the divergence
  *     is deliberate and spec-pinned.
  *  2. `exact_dedup` — byte-identical payloads collapse to the min-id
  *     representative (md5 of the raw bytes; reason "exact_dup",
  *     `dup_of` = keeper).
  *  3. `near_dup` — pHash banded pairs at `maxHamming` →
  *     connected components → min-id canonical survives (reason
  *     "near_dup", `dup_of` = component label), exactly the text
  *     funnel's MinHash-component semantics.
  *
  * Scale shape: decode + hash is ONE bounded-batch mapPartitions pass
  * over the payloads (the q146 path); everything after runs on the
  * 16-byte-per-image signature table — the banded equi join, the
  * checkpointed label propagation, and bounded anti joins. Nothing
  * re-reads image bytes past stage 1, which is what makes the funnel
  * viable when the corpus is 100 TB of media but only GBs of
  * signatures.
  */
object CurateImages {

  case class ImageCurateConfig(
      maxPixels: Long = 64L << 20,
      maxHamming: Int = 3,
      nBands: Int = 4,
      // optional SEMANTIC stage (SemDeDup over block-mean embeddings,
      // [[graft.operators.Multimodal.imageSemDedupVictims]]) after the
      // pHash near-dup stage — lexical/perceptual dedup first, semantic
      // on the survivors, the text funnel's ordering. None = off.
      semDedupThresholdE4: Option[Long] = None,
      semGrid: Int = 8,
      semCentroidEvery: Int = 25,
      semNassign: Int = 2,
      emitLedger: Boolean = false,
      // stage-checkpointed RESUMABLE funnel (the Curate.run discipline):
      // stage frames and ledger pieces publish through the commit-marker
      // versioned-dir path under this warehouse. The payoff is the
      // DECODE stage: a resumed run reads the committed signature table
      // and never touches raw image bytes again — on a 100 TB media
      // corpus that is the whole cost.
      stageCheckpointDir: Option[String] = None,
      resume: Boolean = false,
      runToken: String = "0")

  /** `kept` — surviving (media_id, phash); `stageCounts` — rows
    * surviving each stage in order; `ledger` — one verdict per INPUT
    * image when `emitLedger` (reasons: undecodable | exact_dup |
    * near_dup | sem_dup | admitted).
    */
  case class ImageCurateResult(kept: DataFrame,
                               stageCounts: Seq[(String, Long)],
                               ledger: Option[DataFrame])

  def run(media: Dataset[Multimodal.MediaRecord],
          cfg: ImageCurateConfig = ImageCurateConfig())
      : ImageCurateResult = {
    val sess = media.sparkSession
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val led = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // ---- stage-checkpoint store (cfg.stageCheckpointDir) ---------------
    // the Curate.run ck discipline: commit-marker publishes, resume reads
    // committed dbs, crash-orphaned version dirs cleared before reuse
    object ck {
      private val whOpt = cfg.stageCheckpointDir
      def on: Boolean = whOpt.nonEmpty
      private def resolvedPath(db: String) =
        whOpt.flatMap(wh => Restore.resolveVersioned(sess, wh, db))
      def resolved(db: String): Boolean =
        cfg.resume && resolvedPath(db).isDefined
      def read(db: String): DataFrame =
        sess.read.parquet(resolvedPath(db).get.toString)
      def save(db: String, df: DataFrame): DataFrame = {
        val wh = whOpt.get
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(sess.sparkContext.hadoopConfiguration)
        val vd = new org.apache.hadoop.fs.Path(wh,
          s"${db}__v${cfg.runToken}")
        if (fs.exists(vd) && !resolvedPath(db).contains(vd))
          fs.delete(vd, true)
        val p = Restore.publishVersionedDir(sess, wh, db, cfg.runToken) {
          vdir => df.write.mode("overwrite").parquet(vdir.toString) }
        sess.read.parquet(p.toString)
      }
    }
    // config fingerprint guard (the Curate.run discipline, ADVICE r14):
    // resume only honors stages committed under the same config
    if (ck.on) Restore.guardConfigFingerprint(sess,
      cfg.stageCheckpointDir.get,
      java.security.MessageDigest.getInstance("MD5").digest(
        Seq(cfg.maxPixels, cfg.maxHamming, cfg.nBands, cfg.emitLedger,
            // sem-stage dials MUST invalidate committed img_sem /
            // img_led_sem_dup stages (ADVICE r16): a resume under a
            // changed sem config must re-run the semantic stage
            cfg.semDedupThresholdE4, cfg.semGrid, cfg.semCentroidEvery,
            cfg.semNassign)
          .mkString("|").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString,
      cfg.resume)
    // a stage frame: in-memory persist when checkpointing is off,
    // parquet-committed (and resume-readable) when on
    def stageDF(name: String)(make: => DataFrame): DataFrame =
      if (!ck.on) make.persist(StorageLevel.MEMORY_AND_DISK)
      else if (ck.resolved(name)) ck.read(name)
      else ck.save(name, make)
    def piece(name: String)(make: => DataFrame): DataFrame =
      if (!ck.on) make.localCheckpoint(eager = true)
      else if (ck.resolved(name)) ck.read(name)
      else ck.save(name, make)
    def reject(ids: => DataFrame, reason: String): Unit =
      if (cfg.emitLedger) led += piece(s"img_led_$reason")(ids
        .select(col("media_id").cast("long").as("id"),
          lit(false).as("admitted"), lit(reason).as("reason"),
          coalesce(col("__dup_of"), col("media_id")).cast("long")
            .as("dup_of")))

    // ---- decode + hash: the ONE pass over raw payloads ------------------
    // exact-dup must collapse BYTE-identical payloads, so the content
    // hash rides along from the same pass (hashing signatures alone
    // would alias distinct bytes with equal pHash). Under the checkpoint
    // store this frame IS the resume payoff: a resumed run reads the
    // committed signature table and never decodes again.
    import sess.implicits._
    val hashed = stageDF("img_hashed") {
      media.mapPartitions { it =>
          val d = java.security.MessageDigest.getInstance("MD5")
          it.map { r =>
            d.reset()
            (r.media_id, d.digest(r.media).map(b => f"${b & 0xff}%02x")
              .mkString)
          }
        }
        .toDF("media_id", "__md5")
        .join(Multimodal.imagePHash(media, maxPixels = cfg.maxPixels)
          .toDF(), Seq("media_id"))
    }
    val decoded = hashed.filter(col("phash") =!= -1L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    counts += (("decode", decoded.count()))
    reject(hashed.filter(col("phash") === -1L)
      .select(col("media_id"), lit(null).cast("long").as("__dup_of")),
      "undecodable")

    // ---- exact payload dedup -------------------------------------------
    val keeper = decoded.groupBy("__md5")
      .agg(min(col("media_id")).as("__keep"))
    val withKeep = decoded.join(keeper, Seq("__md5"))
    val exact = stageDF("img_exact")(
      withKeep.filter(col("media_id") === col("__keep"))
        .select("media_id", "phash"))
    counts += (("exact_dedup", exact.count()))
    reject(withKeep.filter(col("media_id") =!= col("__keep"))
      .select(col("media_id"), col("__keep").as("__dup_of")),
      "exact_dup")

    // ---- pHash near-dup components -------------------------------------
    // the component iteration runs EAGERLY at construction — a resumed
    // stage must not construct it at all (the Curate canSkip shape)
    val kept =
      if (ck.on && ck.resolved("img_near") &&
          (!cfg.emitLedger || ck.resolved("img_led_near_dup"))) {
        val k = ck.read("img_near")
        counts += (("near_dup", k.count()))
        if (cfg.emitLedger) led += ck.read("img_led_near_dup")
        k
      } else {
        val pairsM = Multimodal.phashBandNearDupPairsOf(
          exact.select(col("media_id"), col("phash").as("ahash")),
          cfg.maxHamming, cfg.nBands)
        val compM = Dedup.connectedComponentsManaged(pairsM.df
          .select(col("idA"), col("idB")))
        val victims = compM.df.filter(col("id") =!= col("label"))
        val k = stageDF("img_near")(exact.join(
          victims.select(col("id").as("media_id")),
          Seq("media_id"), "left_anti"))
        counts += (("near_dup", k.count()))
        reject(victims.select(col("id").as("media_id"),
          col("label").as("__dup_of")), "near_dup")
        compM.close(); pairsM.close()
        k
      }

    // ---- optional SEMANTIC stage (SemDeDup over block-mean embeddings,
    // the text funnel's sem_dup position: lexical dedup first, semantic
    // on what survives). The embedding pass decodes ONLY the survivors —
    // under the checkpoint store it is resume-skippable like any stage.
    val semKept = cfg.semDedupThresholdE4 match {
      case None => kept
      case Some(th) =>
        if (ck.on && ck.resolved("img_sem") &&
            (!cfg.emitLedger || ck.resolved("img_led_sem_dup"))) {
          val k = ck.read("img_sem")
          counts += (("sem_dup", k.count()))
          if (cfg.emitLedger) led += ck.read("img_led_sem_dup")
          k
        } else {
          val survRecs = media.toDF()
            .join(kept.select("media_id"), Seq("media_id"), "left_semi")
            .as[Multimodal.MediaRecord]
          val vM = Multimodal.imageSemDedupVictimsManaged(survRecs,
            cfg.semGrid, th, cfg.semCentroidEvery, cfg.semNassign)
          val k = stageDF("img_sem")(kept.join(
            vM.df.select(col("id").as("media_id")),
            Seq("media_id"), "left_anti"))
          counts += (("sem_dup", k.count()))
          reject(vM.df.select(col("id").as("media_id"),
            col("kept_id").as("__dup_of")), "sem_dup")
          vM.close()
          k
        }
    }
    val ledger =
      if (!cfg.emitLedger) None
      else {
        val admitted = semKept
          .select(col("media_id").cast("long").as("id"),
            lit(true).as("admitted"), lit("admitted").as("reason"),
            col("media_id").cast("long").as("dup_of"))
        Some(led.foldLeft(admitted)(_ unionByName _)
          .localCheckpoint(eager = true))
      }
    hashed.unpersist(); decoded.unpersist(); exact.unpersist()
    ImageCurateResult(semKept, counts.toSeq, ledger)
  }
}
