package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Naming, Ops}

/** Backup-file inventory: the reference's central in-memory "table"
  * (cloud.py:110-141, 161-180) as a DataFrame source.
  *
  * One row per cloud backup file; the scan parses the WebDAV listing's
  * `TimeLastModified` (`yyyy-MM-dd'T'HH:mm:ss'Z'`), drops non-`.zip` entries
  * and files modified within the in-flight guard window (900 s — could be
  * half-uploaded, cloud.py:130-133), derives the instance key
  * (`'-'.join(name.split('-')[:-1])`, cloud.py:177), and exposes
  * latest-per-instance (the `ls` top-1, main.py:503-507).
  *
  * At scale the inventory is tiny relative to payloads — the listing
  * DataFrame is the unit the driver folds over; payload IO stays in
  * connectors.
  */
object Inventory {

  /** Typed row of the inventory (the `Dataset[T]` face for type-safe
    * pipeline code; the DataFrame face stays primary for dynamic columns).
    */
  case class BackupFile(file: String, url: String,
                        modified: java.sql.Timestamp, instance: String)

  def typed(inv: DataFrame): Dataset[BackupFile] = {
    import inv.sparkSession.implicits._
    inv.select("file", "url", "modified", "instance").as[BackupFile]
  }

  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** Raw listing rows (name, url, modified-iso) → typed inventory. `asOf` is
    * a literal cutoff (determinism rule — never current_timestamp in query
    * shapes; the pipeline driver passes wall-clock).
    */
  def fromListing(spark: SparkSession, rows: Seq[(String, String, String)],
                  asOf: java.sql.Timestamp): DataFrame = {
    import spark.implicits._
    parse(rows.toDF("file", "url", "modified_raw"), lit(asOf))
  }

  /** Local listing rows (name, path, modified-iso) → typed inventory, with
    * no in-flight guard: a local file is complete by definition (the guard,
    * cloud.py:130-133, protects cloud uploads only), and without a cutoff
    * literal every listing shares one compiled filter.
    */
  def fromLocalListing(spark: SparkSession,
                       rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    scan(rows.toDF("file", "url", "modified_raw"))
  }

  /** The OP-2 scan filter over any (file, url, modified_raw) frame, with
    * the in-flight guard at `asOf`.
    */
  def parse(listing: DataFrame, asOf: Column): DataFrame =
    scan(listing)
      // |asOf − modified| ≥ 15 min is KEPT, matching the reference's
      // abs-difference guard (cloud.py:132 skips only abs(now−mtime) < 900,
      // so the exact-900 s boundary is kept): a file whose timestamp is far
      // in the FUTURE (clock skew) is kept too, not permanently dropped —
      // only the open ±15 min window around "now" counts as in-flight.
      .filter(col("modified") <= asOf - expr("INTERVAL 15 MINUTES") ||
        col("modified") >= asOf + expr("INTERVAL 15 MINUTES"))

  /** The OP-2 scan without the in-flight guard. The dash guard mirrors
    * cloud.py:174-176 — a filename with no '-' has no derivable instance
    * key and is skipped.
    */
  private def scan(listing: DataFrame): DataFrame =
    listing
      .withColumn("modified", to_timestamp(col("modified_raw"), TsFormat))
      .filter(col("file").endsWith(".zip") && col("file").contains("-"))
      .withColumn("instance", instanceKey(col("file")))
      .drop("modified_raw")

  /** cloud.py:177 — drop the last '-'-token of the filename. */
  def instanceKey(file: Column): Column = {
    val toks = split(file, "-")
    array_join(slice(toks, lit(1), greatest(size(toks) - 1, lit(1))), "-")
  }

  /** Wildcard include + exclude (OP-12/13) on the instance key. */
  def filterInstances(inv: DataFrame, include: Seq[String],
                      exclude: Seq[String]): DataFrame = {
    val inc = Naming.matchAnyWildcardCol(lower(col("instance")),
      include.map(_.toLowerCase))
    val exc =
      if (exclude.isEmpty) lit(false)
      else Naming.matchAnyWildcardCol(lower(col("instance")),
        exclude.map(_.toLowerCase))
    inv.filter(inc && !exc)
  }

  /** Newest backup per instance (OP-29) — the `ls` answer. */
  def latestPerInstance(inv: DataFrame): DataFrame =
    Ops.latestPerGroup(inv, Seq("instance"),
      Seq(col("modified").desc, col("file").desc, col("url").desc))

  /** Per-instance candidate list, newest first, ranked — the restore loop's
    * input (OP-30 first-success scan folds over rank order).
    */
  def rankedCandidates(inv: DataFrame): DataFrame =
    inv.withColumn("rank",
      row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("instance")
          .orderBy(col("modified").desc, col("file").desc, col("url").desc)))

  /** OP-15 auto-upload filename gate. */
  def autoUploadGate(inv: DataFrame): DataFrame =
    inv.filter(col("file").rlike("-[A-Z][a-z]{2}\\.zip$"))
}
