package graft.sources

import graft.pipeline.Archive

/** JDBC ingest (OP-7 production path): the reference's
  * `dblink('<dsn>', 'select …')` federated scan becomes `spark.read.jdbc`
  * over the url and properties [[dsnToJdbc]] builds (the archive command's
  * remote read in [[graft.Main]]).
  *
  * The read itself needs a live database; the DSN translation is pure and
  * spec-covered.
  */
object Jdbc {

  /** Translate a libpq-style DSN (`hostaddr=x dbname=y user=u …`,
    * db.py:783-788) into a JDBC url + properties. Every parameter other
    * than host/port/dbname passes through as a connection property
    * (pgJDBC understands `sslmode`, `connectTimeout`, `options`, …) —
    * dropping them would silently break SSL-required databases.
    */
  def dsnToJdbc(dsn: String): (String, java.util.Properties) = {
    val kv = Archive.parseDsn(dsn)
    val host = kv.getOrElse("hostaddr", kv.getOrElse("host", "127.0.0.1"))
    val port = kv.getOrElse("port", "5432")
    val db = kv.getOrElse("dbname", "postgres")
    val props = new java.util.Properties()
    (kv -- Seq("hostaddr", "host", "port", "dbname"))
      .foreach { case (k, v) => props.setProperty(k, v) }
    (s"jdbc:postgresql://$host:$port/$db", props)
  }
}
