package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.Ops

/** The archive flow (db.py:792-830): federated scan of per-instance
  * operation logs, merged into the central archive with insert-if-absent
  * semantics (`INSERT … SELECT … ON CONFLICT DO NOTHING` → left-anti join +
  * append). Re-runnable: at-least-once remote reads + key dedup = exactly-
  * once effect (OP-21/35/50/51).
  *
  * The remote side arrives as any DataFrame — `spark.read.jdbc(dsn, …)` in
  * production (OP-7), parquet/memory in tests. Schemas are the only ones the
  * reference declares explicitly (db.py:805-829).
  */
object Archive {

  case class OperationsEvent(instance: String, kind: String,
                             time: java.sql.Timestamp, remote_id: Int,
                             data: String)

  case class OperationsCount(instance: String, kind: String,
                             time: java.sql.Timestamp, count: Int,
                             remote_id: Int)

  /** db.py:805-815 key: a remote row is new if its (instance, remote_id)
    * is absent locally. Local keys are typically small relative to the
    * remote scan → broadcast them to keep the remote side shuffle-free.
    */
  val MergeKeys: Seq[String] = Seq("instance", "remote_id")

  def mergeEvents(local: DataFrame, remote: DataFrame,
                  broadcastLocalKeys: Boolean = true): DataFrame =
    Ops.antiJoinAppend(local, remote, MergeKeys, broadcastLocalKeys)

  /** Typed variants for the fixture case classes. */
  def mergeEventsTyped(local: Dataset[OperationsEvent],
                       remote: Dataset[OperationsEvent]): Dataset[OperationsEvent] = {
    implicit val enc = local.encoder
    mergeEvents(local.toDF(), remote.toDF()).as[OperationsEvent]
  }

  /** DSN parse (OP-46, db.py:783-788): `hostaddr=x dbname=y` → map. */
  def parseDsn(dsn: String): Map[String, String] =
    dsn.split("\\s+").filter(_.contains("=")).map { tok =>
      val Array(k, v) = tok.split("=", 2)
      k -> v
    }.toMap
}
