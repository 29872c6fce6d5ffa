package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main, Sessions, SparkEntry, Tables}
import graft.pipeline.{Increment, IncrementResult, Shards, TrainData}

/** One benchmark run of one workload inside one JVM.
  *
  * `perfbench/run.py` generates the seeded inputs, starts this main, and
  * turns the result file into metrics. The harness reaches graft only
  * through its public entry points (`Main.run`, `TrainData.buildShards`,
  * `Increment.initStateFromCurated` / `curateIncrement` /
  * `stateHeavyBytes`, `SparkEntry.queries`), so it measures the program
  * as shipped.
  *
  * Protocol: set up (session, workload state; testdata footers when
  * traced), run the untimed warm-up operations, then a closed loop of
  * timed operations until `seconds` have passed and at least `min_ops`
  * ran. Output checks run between operations, outside each operation's
  * timing. In a traced run the listener is attached on every other
  * operation, so the run also measures the tracing overhead.
  *
  * Usage: `Harness <inputs dir> <work dir> <result file>`; everything else
  * comes from `<inputs dir>/manifest.properties`.
  */
object Harness {
  final case class Op(index: Int, seconds: Double, traced: Boolean,
                      cpu: Double, jit: Double, busy: Double, steal: Double,
                      detail: Json.Raw)

  /** CPU seconds this process has used so far, and the part its JIT
    * compiler threads used, from Linux's per-thread accounting. The JVM
    * runs with a fixed set of compiler threads, so none of their time is
    * lost with an exited thread. */
  def cpuTimes(): (Double, Double) = {
    def ticks(stat: Path): Long = {
      val f = new String(Files.readAllBytes(stat)).split("\\) ")(1).split(" ")
      f(11).toLong + f(12).toLong // utime, stime
    }
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.iterator().asScala.filter { t =>
        val comm = Files.readString(t.resolve("comm"))
        comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
      }.map(t => ticks(t.resolve("stat"))).sum
      finally tasks.close()
    (ticks(Paths.get("/proc/self/stat")) / ClockTicks, jit / ClockTicks)
  }
  private val ClockTicks = 100.0

  /** CPU seconds the machine's cores ran (user, nice, system, irq,
    * softirq) and the CPU seconds the hypervisor took from them while they
    * had work (steal), summed over cores, from /proc/stat. */
  def machineTimes(): (Double, Double) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").tail.map(_.toLong)
    ((f(0) + f(1) + f(2) + f(5) + f(6)) / ClockTicks, f(7) / ClockTicks)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val Array(inputs, work, resultFile) = args
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(inputs, "manifest.properties"))
    try props.load(in) finally in.close()
    val conf = props.asScala.toMap
    val workload = conf("workload")
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val tables = s"$inputs/tables"

    val trace = new Trace
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = trace.nowMs
    // only the traced passes read the testdata-shaped tables
    if (traced) Tables.assertSchemas(spark, tables)
    val footersMs = trace.nowMs

    val w: Workload = workload match {
      case "loader" => new Loader(spark, trace, inputs, work, conf)
      case "curate" => new Curate(spark, trace, inputs, work, conf)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    w.prepare()
    val prepMs = trace.nowMs
    // the warm-up ops' checked outputs: every timed op must repeat them
    val warm = (1 to conf("warm_ops").toInt).map { i =>
      w.before(-i)
      val d = w.check(-i, w.op(-i))
      reset(spark)
      d
    }
    val readyMs = trace.nowMs
    val (readyCpu, readyJit) = cpuTimes()
    println(f"[harness] ready after ${(readyMs - mainMs) / 1e3}%.1f s")

    val minOps = conf("min_ops").toInt
    val ops = ArrayBuffer.empty[Op]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (ops.size < minOps || elapsed < seconds) {
      val i = ops.size
      w.before(i)
      val on = traced && i % 2 == 0
      var dt = 0.0
      val (cpu0, jit0) = cpuTimes()
      val (busy0, steal0) = machineTimes()
      def timed() = {
        val t0 = System.nanoTime()
        val d = trace.span(s"op.$workload", "bench") { w.op(i) }
        dt = (System.nanoTime() - t0) / 1e9
        d
      }
      val detail = if (on) trace.traced(spark.sparkContext)(timed()) else timed()
      val (cpu1, jit1) = cpuTimes()
      val (busy1, steal1) = machineTimes()
      ops += Op(i, dt, on, cpu1 - cpu0, jit1 - jit0, busy1 - busy0,
        steal1 - steal0, w.check(i, detail))
      reset(spark)
    }
    val loopS = elapsed
    if (traced) {
      val e0 = trace.nowMs
      w.tracedExtras()
      println(f"[harness] traced extras ${(trace.nowMs - e0) / 1e3}%.1f s")
    }
    val checks = w.finalChecks()
    spark.stop()

    val out = Json.obj(
      "workload" -> workload,
      "main_ms" -> mainMs.toDouble, "session_ms" -> sessionMs,
      "footers_ms" -> footersMs, "prepared_ms" -> prepMs,
      "ready_ms" -> readyMs, "setup_cpu_s" -> readyCpu,
      "setup_jit_cpu_s" -> readyJit, "loop_s" -> loopS,
      "ops" -> ops.map(o => Json.obj("index" -> o.index,
        "seconds" -> o.seconds, "traced" -> o.traced, "cpu_s" -> o.cpu,
        "jit_cpu_s" -> o.jit, "busy_s" -> o.busy, "steal_s" -> o.steal,
        "detail" -> o.detail)),
      "warm" -> warm,
      "final_checks" -> checks,
      "trace" -> Json.Raw(if (traced) trace.toJson else "null"))
    Files.writeString(Paths.get(resultFile), out.json)
  }

  /** Operator-persisted tables and localCheckpoint blocks must not leak from
    * one timed operation into the next (the same isolation Bench uses). */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Runs `fn` as a probe: a noop write forces every output column. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Writes each probe's result and its oracle SQL for the DuckDB check
    * that `run.py` makes after the run. */
  def dumpProbes(spark: SparkSession, tables: String, probes: Seq[String],
                 out: String): String = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for (p <- probes) {
      SparkEntry.queries(p)(spark, tables).coalesce(1).write
        .mode("overwrite").parquet(s"$out/$p")
      reset(spark)
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.value(SparkEntry.oracleSql.filter(kv => probes.contains(kv._1))))
    out
  }

  /** One pass over `probes` (name → module of its span) with a noop write
    * each; returns the seconds per probe. The noop write is issued here,
    * so its job goes to the span's module. */
  def probePass(spark: SparkSession, trace: Trace, tables: String,
                probes: Seq[(String, String)]): Json.Raw = {
    val secs = probes.map { case (p, module) =>
      val p0 = trace.nowMs
      trace.span(s"probe.$p", module) {
        noop(SparkEntry.queries(p)(spark, tables))
      }
      reset(spark)
      p -> (trace.nowMs - p0) / 1e3
    }
    Json.obj("probe_s" -> secs.toMap)
  }

  /** Full probe names for the given short ids (`q01` → `q01_latest_…`). */
  def probeNames(ids: Seq[String]): Seq[String] = ids.map { id =>
    SparkEntry.queries.keys.find(_.startsWith(id + "_")).getOrElse(
      throw new IllegalArgumentException(s"no probe $id"))
  }

  def list(conf: Map[String, String], key: String): Seq[String] =
    conf.getOrElse(key, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

/** One workload: `op` is the timed unit; `before` stages its inputs and
  * `check` verifies its outputs, both untimed. */
abstract class Workload {
  def prepare(): Unit = ()
  def before(i: Int): Unit = ()
  def op(i: Int): Json.Raw
  /** Adds what the op's checks need to its detail record. */
  def check(i: Int, detail: Json.Raw): Json.Raw = detail
  /** Layer calls a traced run measures once after the timed loop (inside
    * `trace.traced`). */
  def tracedExtras(): Unit = ()
  def finalChecks(): Json.Raw = Json.obj()
}

/** The ufload surface. Each op is one refresh on a fresh copy of
  * yesterday's warehouse: ls → restore → clean → archive → archive re-run.
  * `clean` runs before `archive` because it drops every directory whose
  * name is not a valid db name, and that includes `_archive`.
  *
  * A traced run adds the relational probes and one probe per operator the
  * other ops leave idle (`Similarity`, `Unigram`, `KnnGraph`) after its
  * timed loop: one cold pass that writes the results the oracle check
  * reads, then one warm pass with a noop write that the per-layer metrics
  * time. */
final class Loader(spark: SparkSession, trace: Trace, inputs: String,
                   work: String, conf: Map[String, String]) extends Workload {
  import Harness._
  private val tables = s"$inputs/tables"
  private val ini = s"$inputs/ufload.ini"
  private val backups = s"$inputs/backups"
  private val remotes = list(conf, "remotes").map(r => s"parquet:$inputs/$r")
  private val probes = probeNames(list(conf, "probes")).map(_ -> "probes")
  // operator probes: `q149=operators.KnnGraph` runs q149 in a span of the
  // operator it exercises
  private val extProbes = list(conf, "ext_probes").map { kv =>
    val Array(id, module) = kv.split("=")
    probeNames(Seq(id)).head -> module
  }
  private val template = Paths.get(inputs, "warehouse")
  private var probeOut: String = null
  private var relational = Json.Raw("null")

  private def cli(span: String, args: String*): (Int, Seq[String]) = {
    val lines = ArrayBuffer.empty[String]
    val rc = trace.span(span, "Main") {
      Main.run(Seq("-config", ini) ++ args, spark, l => lines += l)
    }
    (rc, lines.toSeq)
  }

  override def before(i: Int): Unit = {
    val wh = Paths.get(work, s"warehouse_$i")
    deleteTree(wh)
    copyTree(template, wh)
  }

  def op(i: Int): Json.Raw = {
    val wh = Paths.get(work, s"warehouse_$i").toString
    val (rcLs, ls) = cli("loader.ls", "ls", "-dir", backups)
    val (rcR, restore) = cli("loader.restore", "restore", "-dir", backups,
      "-warehouse", wh)
    val (rcC, clean) = cli("loader.clean", "clean", "-warehouse", wh)
    val dsns = remotes.flatMap(r => Seq("-from-dsn", r))
    val (rcA, archive) = cli("loader.archive",
      Seq("archive", "-warehouse", wh) ++ dsns: _*)
    val (rcA2, rerun) = cli("loader.archive_rerun",
      Seq("archive", "-warehouse", wh) ++ dsns: _*)
    Json.obj("rc" -> Seq(rcLs, rcR, rcC, rcA, rcA2), "ls" -> ls,
      "restore" -> restore, "clean" -> clean, "archive" -> archive,
      "archive_rerun" -> rerun)
  }

  override def check(i: Int, detail: Json.Raw): Json.Raw = {
    // published bytes and the surviving catalog, read after the timing
    val wh = Paths.get(work, s"warehouse_$i")
    val dbs = Files.list(wh).iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    val published = dbs.filterNot(_.startsWith("_"))
      .map(d => treeBytes(wh.resolve(d))).sum
    val scanned = remotes.map { r =>
      spark.read.parquet(r.stripPrefix("parquet:") + "/events.parquet")
        .count()
    }.sum
    val archived = Seq("events", "counts").map { t =>
      t -> spark.read.parquet(s"$wh/_archive/$t").count()
    }.toMap
    deleteTree(wh)
    Json.Raw(detail.json.dropRight(1) + "," + Json.obj(
      "catalog" -> dbs, "published_bytes" -> published,
      "events_scanned" -> scanned, "archived_rows" -> archived)
      .json.drop(1))
  }

  override def tracedExtras(): Unit = {
    val all = probes ++ extProbes
    probeOut = dumpProbes(spark, tables, all.map(_._1), s"$work/probe_out")
    relational = trace.traced(spark.sparkContext)(
      probePass(spark, trace, tables, all))
  }

  override def finalChecks(): Json.Raw =
    Json.obj("probe_out" -> probeOut, "relational" -> relational)
}

/** One large batch: `TrainData.buildShards` over the seeded corpus. A
  * traced run adds two increment batches ([[IncrementBatches]]). */
final class Curate(spark: SparkSession, trace: Trace, inputs: String,
                   work: String, conf: Map[String, String]) extends Workload {
  import Harness._
  private lazy val merges =
    graft.operators.Bpe.readMergeTable(spark, s"$inputs/merges")
  private val cfg = () => TrainData.ShardBuildConfig(merges,
    seqLen = conf("seq_len").toInt, numShards = conf("num_shards").toInt)

  override def prepare(): Unit = merges

  def op(i: Int): Json.Raw = {
    val dir = s"$work/shards_$i"
    val docs = spark.read.parquet(s"$inputs/corpus")
    val bench = spark.read.parquet(s"$inputs/benchmark")
    val res = trace.span("curate.buildShards", "pipeline.TrainData") {
      TrainData.buildShards(docs, "doc_id", "text", bench, "text", dir, cfg())
    }
    Json.obj("stage_counts" -> res.stageCounts.toMap,
      "stage_order" -> res.stageCounts.map(_._1),
      "n_sequences" -> res.nSequences, "n_tokens" -> res.nTokens,
      "dir" -> dir)
  }

  private var increment = Json.Raw("null")

  override def tracedExtras(): Unit =
    increment = trace.traced(spark.sparkContext)(new IncrementBatches(
      spark, trace, inputs, work, list(conf, "batches")).run())

  override def finalChecks(): Json.Raw = Json.obj("increment" -> increment)

  override def check(i: Int, detail: Json.Raw): Json.Raw = {
    val dir = s"$work/shards_$i"
    val back = Shards.readPackedShards(spark, dir)
      .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L))).head()
    val bytes = treeBytes(Paths.get(dir, "seqs"))
    deleteTree(Paths.get(dir))
    Json.Raw(detail.json.dropRight(1) + "," + Json.obj(
      "read_sequences" -> back.getLong(0), "read_tokens" -> back.getLong(1),
      "shard_bytes" -> bytes).json.drop(1))
  }
}

/** The curation gates in small batches: `Increment.curateIncrement`
  * against state seeded by `Increment.initStateFromCurated`. A traced
  * curate run measures it once after its timed loop; the first batch
  * warms the plans and the second is the one reported. */
final class IncrementBatches(spark: SparkSession, trace: Trace,
                             inputs: String, work: String,
                             batches: Seq[String]) {
  import Harness._

  def run(): Json.Raw = {
    val state = Paths.get(work, "increment_state")
    deleteTree(state)
    trace.span("increment.initState", "pipeline.Increment") {
      Increment.initStateFromCurated(spark, state.toString,
        spark.read.parquet(s"$inputs/state_docs"), "doc_id", "text")
    }
    val out = batches.map { b =>
      val before = treeBytes(state)
      val res: IncrementResult = trace.span("increment.batch",
          "pipeline.Increment") {
        Increment.curateIncrement(spark.read.parquet(s"$inputs/$b"),
          "doc_id", "text", state.toString, b)
      }
      val verdicts = res.ledger.groupBy("admitted").count().collect()
        .map(r => r.getBoolean(0).toString -> r.getLong(1)).toMap
      val d = Json.obj("batch" -> b, "stage_counts" -> res.stageCounts.toMap,
        "ledger" -> verdicts, "bytes_before" -> before,
        "bytes_after" -> treeBytes(state),
        "heavy_bytes" -> Increment.stateHeavyBytes(spark, state.toString))
      reset(spark)
      d
    }
    deleteTree(state)
    Json.Raw(out.map(_.json).mkString("[", ",", "]"))
  }
}
