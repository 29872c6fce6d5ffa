package graft.core

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The on-disk contract every batch-partitioned index family shares
  * (minhash, pHash, audio, video, semantic, BM25, the IVF drift ledger
  * and the increment state tables):
  *
  *  - every table partitions by `batch_id`; one write lands one batch;
  *  - a `meta` table is the COMMIT MARKER: it is written last, and its
  *    batch ids are the committed set every read semi-joins, so a torn
  *    write never serves;
  *  - each meta row re-states the family's pinned parameters, which
  *    reads require identical across batches;
  *  - compaction folds the committed rows into one `base` partition and
  *    writes the meta last;
  *  - retraction rewrites only the partitions holding a victim, in
  *    place.
  */
object BatchTables {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def requireBatchId(batchId: String, what: String): Unit =
    require(batchId.nonEmpty && batchId != "__HIVE_DEFAULT_PARTITION__",
      s"$what: invalid batch id '$batchId'")

  /** `path`'s sub-directory for one partition (escaped as Spark names it). */
  private def partitionDir(path: String, cols: Seq[String],
                           values: Seq[Any]): String =
    cols.zip(values).map { case (c, v) =>
      ExternalCatalogUtils.getPartitionPathString(c, String.valueOf(v))
    }.mkString(s"$path/", "/", "")

  /** Write `df` as `batchId`'s partition of the table at `path`.
    * `overwrite` rebuilds the whole table (static); otherwise only this
    * batch's partition is replaced (dynamic), so a retry never doubles
    * rows. Both modes are pinned per write: a host session running
    * `partitionOverwriteMode=dynamic` globally must not turn a rebuild
    * into a batch-only replace that leaves stale partitions (and their
    * commit markers) live. A partitioned write of no rows writes no
    * file, so a table whose batches so far were all empty would fail
    * schema inference: then the batch leaves a zero-row parquet file
    * that carries the schema in its partition. A directory listing
    * detects the case, so a non-empty table pays no extra Spark job.
    */
  def write(df: DataFrame, path: String, batchId: String,
            overwrite: Boolean = false): Unit = {
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode",
        if (overwrite) "static" else "dynamic")
      .parquet(path)
    if (!fs(df.sparkSession, path).listStatus(new Path(path))
        .exists(_.getPath.getName.startsWith("batch_id=")))
      df.drop("batch_id").limit(0).write.mode("overwrite")
        .parquet(partitionDir(path, Seq("batch_id"), Seq(batchId)))
  }

  /** The batch ids the `meta` marker under `dir` has committed, minus
    * `excludeBatch` (a retry's pre-batch view: a rerun of a batch id
    * must not see its own earlier partial write as old data).
    */
  def committed(spark: SparkSession, dir: String,
                excludeBatch: Option[String] = None): DataFrame = {
    val all = spark.read.parquet(s"$dir/meta").select("batch_id")
      .distinct()
    excludeBatch.fold(all)(b => all.filter(col("batch_id") =!= b))
  }

  /** The rows of the table at `path` whose batch is in `committed`. */
  def readCommitted(spark: SparkSession, path: String,
                    committed: DataFrame): DataFrame =
    spark.read.parquet(path)
      .join(broadcast(committed), Seq("batch_id"), "left_semi")

  /** The family's pinned `meta` row under `dir`: the distinct `cols`
    * values across every batch, which must be exactly one row.
    */
  def pinnedMeta(spark: SparkSession, dir: String, cols: Seq[String],
                 what: String): Row = {
    val rows = spark.read.parquet(s"$dir/meta")
      .select(cols.map(col): _*).distinct().collect()
    require(rows.length == 1,
      s"$what at $dir: inconsistent ${cols.mkString("(", ", ", ")")} " +
        s"across batches (${rows.length} distinct meta rows)")
    rows(0)
  }

  /** The committed fold: each of `tables` (relative to `src`; absent
    * ones are skipped) writes its `committed` rows under one `base`
    * partition at `dest`, then `meta` (rows with their `batch_id`) is
    * written LAST as `dest/metaRel`, so a crash earlier leaves `dest`
    * without its marker and a rerun overwrites everything.
    */
  def fold(spark: SparkSession, src: String, dest: String,
           tables: Seq[String], committed: DataFrame, meta: DataFrame,
           metaRel: String = "meta"): Unit = {
    for (rel <- tables if exists(spark, s"$src/$rel"))
      write(readCommitted(spark, s"$src/$rel", committed).drop("batch_id"),
        s"$dest/$rel", "base", overwrite = true)
    meta.write.mode("overwrite").partitionBy("batch_id")
      .option("partitionOverwriteMode", "static")
      .parquet(s"$dest/$metaRel")
  }

  /** Copy the tree at `src` to `dest` byte for byte, replacing `dest`. */
  def copyTree(spark: SparkSession, src: String, dest: String): Unit = {
    val (fs0, fs1) = (fs(spark, src), fs(spark, dest))
    if (exists(spark, dest)) fs1.delete(new Path(dest), true)
    FileUtil.copy(fs0, new Path(src), fs1, new Path(dest), false,
      spark.sparkContext.hadoopConfiguration)
  }

  /** Rewrite IN PLACE only the partitions of the table at `path` that
    * `hits` names (rows carrying the `partCols` values of each
    * partition to rewrite, given the table): `rewrite` maps those
    * partitions' rows to their new rows, materialized before the
    * dynamic overwrite (the write would otherwise re-scan the files it
    * replaces). A partition the rewrite empties gets a zero-row parquet
    * file: a bare directory delete would leave the old files live under
    * dynamic overwrite, and an all-empty table would fail schema
    * inference. `schema` reads the table with an explicit schema
    * instead of inferring one. Idempotent: a rerun finds nothing left
    * to rewrite, or rewrites identical rows.
    */
  def rewritePartitions(spark: SparkSession, path: String,
                        partCols: Seq[String] = Seq("batch_id"),
                        schema: Option[StructType] = None)(
      hits: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame): Unit = {
    if (!exists(spark, path)) return
    val tbl = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val affected = hits(tbl).select(partCols.map(col): _*).distinct()
      .collect()
    if (affected.isEmpty) return
    // prune on the first partition column; a multi-level layout then
    // narrows to the affected tuples
    val scoped = tbl.filter(col(partCols.head)
      .isInCollection(affected.map(_.get(0)).distinct.toSeq))
    val inAffected =
      if (partCols.size == 1) scoped
      else scoped.join(broadcast(spark.createDataFrame(
          java.util.Arrays.asList(affected: _*),
          StructType(partCols.map(tbl.schema(_))))), partCols, "left_semi")
    val rewritten = rewrite(inAffected).localCheckpoint(eager = true)
    def values(r: Row) = r.toSeq.map(String.valueOf)
    val still = rewritten.select(partCols.map(col): _*).distinct()
      .collect().map(values).toSet
    rewritten.write.mode("overwrite").partitionBy(partCols: _*)
      .option("partitionOverwriteMode", "dynamic").parquet(path)
    for (r <- affected if !still.contains(values(r)))
      rewritten.drop(partCols: _*).limit(0).write.mode("overwrite")
        .parquet(partitionDir(path, partCols, r.toSeq))
  }

  /** The rows of `tbl` holding one of `keys` (first column) in any of
    * `hitCols` — the usual `hits` of a [[rewritePartitions]].
    */
  def holding(keys: DataFrame, hitCols: Seq[String] = Seq("id"))(
      tbl: DataFrame): DataFrame = {
    val key = keys.columns.head
    hitCols.map(c =>
        tbl.join(broadcast(keys.select(col(key).as(c))), Seq(c),
          "left_semi"))
      .reduce(_ unionByName _)
  }

  /** Drop every row holding one of `ids` (first column) in any of
    * `hitCols` from the table at `path`, rewriting only the partitions
    * that held one.
    */
  def purge(spark: SparkSession, path: String, ids: DataFrame,
            hitCols: Seq[String] = Seq("id"),
            partCols: Seq[String] = Seq("batch_id")): Unit = {
    val key = ids.columns.head
    rewritePartitions(spark, path, partCols)(holding(ids, hitCols), t =>
      hitCols.foldLeft(t)((d, c) =>
        d.join(broadcast(ids.select(col(key).as(c))), Seq(c), "left_anti")))
  }
}
