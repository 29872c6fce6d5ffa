package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-shard writer — the terminal stage of the tokenize path
  * ([[graft.operators.Bpe.encodeCorpusGpt2]] →
  * [[graft.operators.Curation.packTokenIds]] → THIS): packed sequences
  * land as shard-partitioned parquet a training job reads shard by
  * shard. Round-robin on `seq_id` (`pmod(seq_id, numShards)`) balances
  * shards to within one sequence by construction — no skew, no
  * sampling — and `repartition` on the shard column makes each shard
  * directory co-written by the tasks that own it (the
  * [[graft.operators.Curation.shardAssign]] writer discipline).
  *
  * Index-family commit contract: `dir/seqs` partitioned by
  * (batch_id, shard), `dir/meta` (num_shards, re-stated per batch and
  * checked on read) partitioned by batch_id, meta written LAST as the
  * COMMIT MARKER. Retries of a failed write reuse their batch id under
  * dynamic overwrite (replaced, never doubled); readers see only
  * committed batches — a torn shard write is invisible to the training
  * job.
  */
object Shards {

  /** Write one batch of packed sequences (seq_id, ids, n_tokens,
    * n_docs). `overwrite = true` (the "base" snapshot) statically
    * replaces the whole table; appends are per-batch dynamic.
    */
  def writePackedShards(packed: DataFrame, dir: String,
                        numShards: Int = 16,
                        batchId: String = "base"): Unit = {
    require(numShards >= 1, s"writePackedShards: numShards ($numShards)")
    graft.core.BatchTables.requireBatchId(batchId, "writePackedShards")
    val spark = packed.sparkSession
    val overwrite = batchId == "base"
    def writer(d: DataFrame, parts: Seq[String]) =
      d.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").partitionBy(parts: _*)
        .option("partitionOverwriteMode",
          if (overwrite) "static" else "dynamic")
    writer(packed
        .withColumn("shard", pmod(col("seq_id"), lit(numShards.toLong))
          .cast("int"))
        .repartition(col("shard")),
      Seq("batch_id", "shard")).parquet(s"$dir/seqs")
    writer(spark.range(1).select(lit(numShards).as("num_shards")),
      Seq("batch_id")).parquet(s"$dir/meta")
  }

  /** Right-to-be-forgotten over COMMITTED training shards: every
    * sequence whose `spans` attribution names a victim doc is DROPPED
    * from its (batch_id, shard) partition — the honest semantics for
    * packed data, where a victim's tokens are interleaved with its
    * sequence neighbors: re-packing would shift every later offset (a
    * corpus rewrite), so the whole sequence goes and the co-resident
    * docs' tokens in it are reported as COLLATERAL (they still exist in
    * every other sequence they landed in; a training epoch loses one
    * partial view of them). Requires shards built with
    * [[graft.operators.Curation.packTokenIdsWithSpans]] — shards
    * without attribution refuse loudly rather than pretend.
    *
    * Discipline: only partitions holding a victim rewrite (dynamic
    * overwrite; emptied partitions become zero-row schema-ful parquet);
    * the meta commit markers are untouched, so batch visibility never
    * changes. Idempotent and crash-rerunnable. Returns
    * (dropped sequences, collateral tokens).
    */
  def retract(spark: SparkSession, dir: String,
              ids: DataFrame): (Long, Long) = {
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val seqsPath = s"$dir/seqs"
    require(f.exists(new org.apache.hadoop.fs.Path(seqsPath)),
      s"Shards.retract: no shard table at $dir")
    val tbl = spark.read.parquet(seqsPath)
    require(tbl.columns.contains("spans"),
      s"Shards.retract: shards at $dir carry no doc-span attribution — " +
        "rebuild with packTokenIdsWithSpans to make retraction possible")
    val idsN = ids.select(col(ids.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint(eager = true)
    val hit = tbl
      .select(col("batch_id"), col("shard"), col("seq_id"),
        col("n_tokens"), explode(col("spans")).as("__s"))
      .select(col("batch_id"), col("shard"), col("seq_id"),
        col("n_tokens"), col("__s.doc_id").as("id"),
        col("__s.len").as("__len"))
      .join(broadcast(idsN), Seq("id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (hit.head(1).isEmpty) (0L, 0L)
      else {
        val perSeq = hit.groupBy("batch_id", "shard", "seq_id")
          .agg(first(col("n_tokens")).as("__nt"),
            sum(col("__len")).as("__vt"))
          .localCheckpoint(eager = true)
        val stats = perSeq.agg(count(lit(1)).as("ds"),
          coalesce(sum(col("__nt") - col("__vt")), lit(0L)).as("ct"))
          .head()
        graft.core.BatchTables.rewritePartitions(spark, seqsPath,
            Seq("batch_id", "shard"))(_ => perSeq,
          _.join(broadcast(perSeq.select("batch_id", "shard", "seq_id")),
            Seq("batch_id", "shard", "seq_id"), "left_anti"))
        (stats.getLong(0), stats.getLong(1))
      }
    } finally hit.unpersist()
  }

  /** The committed sequences (batch_id, shard, seq_id, ids, n_tokens,
    * n_docs) — torn writes invisible; inconsistent shard counts across
    * committed batches fail loudly.
    */
  def readPackedShards(spark: SparkSession, dir: String): DataFrame = {
    graft.core.BatchTables.pinnedMeta(spark, dir, Seq("num_shards"),
      "packed shards")
    graft.core.BatchTables.readCommitted(spark, s"$dir/seqs",
      graft.core.BatchTables.committed(spark, dir))
  }

  /** The training loader's per-epoch read plan over the COMMITTED
    * sequences: [[graft.operators.Curation.epochShuffle]] keyed by the
    * sequence's durable identity `(batch_id, seq_id)` (seq ids restart
    * per packing batch — the composite is what is unique). Reader r of
    * `numReaders` streams rows with `read_shard == r` in `epoch_pos`
    * order; nothing is materialized, the permutation is a rank over the
    * committed table, identical on every rerun of (seed, epoch).
    */
  def epochOrder(spark: SparkSession, dir: String, epoch: Int,
                 numReaders: Int = 16,
                 seed: String = "graft"): DataFrame =
    graft.operators.Curation.epochShuffle(
      readPackedShards(spark, dir),
      concat_ws("/", col("batch_id"), col("seq_id").cast("string")),
      epoch, numReaders, seed)

  // ---- checkpointed epoch-reader offsets (r16 verdict #4) ----------------
  // Resume used to be a CONVENTION ("filter on epoch_pos") with the
  // bookkeeping left to the caller — a crashed training reader re-read
  // or double-counted. The `reads/` ledger makes it a CONTRACT: each
  // reader commits its progress as MARKER FILES (one zero-byte
  // `pos-<n>` file per commit, the Restore marker-file discipline)
  // under its OWN `reads/epoch=E/reader=R/` directory, and the resume
  // offset is the max pos named by any marker. Duplicate or
  // out-of-order commits collapse under the max, so commit retries are
  // idempotent and progress never regresses. Marker files, NOT a Spark
  // parquet append (ADVICE r17): concurrent appends from separate
  // reader processes would share the output root's `_temporary` dir
  // (FileOutputCommitter), so one job's commit/cleanup could silently
  // drop another reader's in-flight commit — a lost ledger row makes
  // resume re-read a downstream-committed prefix, breaking the
  // exactly-once contract. A direct file create is atomic-by-name,
  // per-reader-isolated, and costs no Spark job; the committed pos
  // rides in the FILENAME, so even a torn create (name visible, close
  // racing a crash) names a truthfully-committed pos — the caller only
  // commits after its downstream commit landed. The read path gains NO
  // shuffle: the offset is one bounded directory listing applied as a
  // filter on the ranked stream.

  private def readsDir(dir: String, epoch: Int, reader: Int) =
    new org.apache.hadoop.fs.Path(s"$dir/reads/epoch=$epoch/reader=$reader")

  /** Record reader `reader`'s durable progress through `epoch`: every
    * row of its stream with `epoch_pos <= pos` has been consumed AND
    * committed downstream. Call AFTER the downstream commit — the
    * crash window between downstream-commit and this marker write
    * re-reads at most the uncommitted suffix, never double-commits a
    * committed prefix.
    */
  def commitReadPos(spark: SparkSession, dir: String, epoch: Int,
                    reader: Int, pos: Long): Unit = {
    require(epoch >= 0 && reader >= 0 && pos >= 0,
      s"commitReadPos: epoch=$epoch reader=$reader pos=$pos")
    val d = readsDir(dir, epoch, reader)
    val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(d)
    f.create(new org.apache.hadoop.fs.Path(d, s"pos-$pos"), true).close()
  }

  /** The committed resume offset for (epoch, reader): the largest
    * pos named by any marker under the reader's ledger dir, or None
    * when the reader never committed. One bounded directory listing —
    * no Spark job.
    */
  def committedReadPos(spark: SparkSession, dir: String, epoch: Int,
                       reader: Int): Option[Long] = {
    val d = readsDir(dir, epoch, reader)
    val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(d)) None
    else {
      val ps = f.listStatus(d).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("pos-") =>
          scala.util.Try(n.stripPrefix("pos-").toLong).toOption }
        .flatten
      if (ps.isEmpty) None else Some(ps.max)
    }
  }

  /** Reader `reader`'s RESUMED stream of epoch `epoch`: the
    * [[epochOrder]] permutation restricted to its read shard, minus
    * the prefix it already committed ([[committedReadPos]]). A reader
    * that consumes this to completion (committing as it goes) has
    * processed each of its rows EXACTLY ONCE across any number of
    * crash/resume cycles; the union over readers of committed prefixes
    * plus resumed streams is exactly the epoch permutation
    * (spec-pinned with the q172 fingerprint).
    */
  def epochReaderStream(spark: SparkSession, dir: String, epoch: Int,
                        reader: Int, numReaders: Int = 16,
                        seed: String = "graft"): DataFrame = {
    require(reader >= 0 && reader < numReaders,
      s"epochReaderStream: reader $reader not in [0, $numReaders)")
    val base = epochOrder(spark, dir, epoch, numReaders, seed)
      .filter(col("read_shard") === reader)
    committedReadPos(spark, dir, epoch, reader) match {
      case Some(p) => base.filter(col("epoch_pos") > p)
      case None => base
    }
  }
}
