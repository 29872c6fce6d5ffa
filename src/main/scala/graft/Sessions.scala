package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every runnable main (Bench, Verify, the
  * loader CLI, dev tools) and the test suite build their session from
  * [[builder]]. Profiler/scale numbers are only comparable to bench
  * numbers if every main runs the same config — keep additions here,
  * not in per-main copies.
  */
object Sessions {

  /** Entries in Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    * graft re-runs identical plans pass after pass, so every class
    * evicted is compiled again by Janino and then by the JIT. One
    * `TrainData.buildShards` compiles about 200 distinct classes and one
    * pass of every `SparkEntry.queries` probe 3,731 — the largest working
    * set in the repo — so 8,192 holds it with headroom (metaspace stayed
    * near 220 MB either way). The setting is static: `CodeGenerator`
    * reads it once per JVM, at the first codegen, so it has to sit in
    * the builder — `spark.conf.set` or a later session cannot change it.
    */
  val CodegenCacheEntries = 8192

  /** The settings every graft session shares, on `local[cpus]` with one
    * shuffle partition per core.
    */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is INT64 TIMESTAMP(NANOS) parquet — read as long nanos
      // (Tables.events normalizes to ms-truncated TIMESTAMP_NTZ)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  def local(): SparkSession = builder().getOrCreate()

  /** Untimed warmup: session/codegen/scheduler init and parquet footer
    * reads land here, not on whichever query runs first.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(100000).selectExpr("md5(cast(id AS string)) AS h")
        .groupBy().count().collect()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => Tables.table(spark, sfDir, t).limit(1).count())
    } catch { case _: Throwable => () }
}
