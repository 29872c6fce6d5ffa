package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Archive, Config, Ls, Restore, Upgrade}
import graft.sources.{Inventory, Payloads}

/** The executable face of the engine — the reference's `ufload` CLI
  * (bin/ufload:1-3 → main.py:888-908) re-bound onto the Spark pipelines.
  *
  * Dispatch: `graft.Main [flags] <ls|restore|clean|archive|upgrade>
  * [flags]`, argparse-style single-dash long flags, one flat namespace
  * (the reference's argparse Namespace is flat across parser and
  * subparsers). Config precedence is [[Config.resolve]]: INI sections
  * (main.py:868-886, `$HOME/.ufload` or `-config <path>`) provide
  * defaults, command-line wins. `-n` (main.py:796) routes every DB-side
  * mutation through show-mode reporting — [[Restore.run]]'s `show`
  * contract — and each command prints what it WOULD have done.
  *
  * Source bindings (this engine's equivalents of the reference's psql +
  * WebDAV endpoints):
  *  - backups: `-file <zip>` / `-dir <directory>` exactly as the
  *    reference's restore flags ("disables cloud downloading",
  *    main.py:790-792); `ls` accepts `-dir` too (engine extension — the
  *    reference's ls is cloud-only). A zip's single member (the
  *    reference's exactly-one-member gate, cloud.py:215-264) is read by
  *    extension: `.parquet` / `.csv` / `.json` → DataFrame.
  *  - warehouse: `-warehouse <path>` or `[postgres] warehouse=` — the
  *    published-db root ([[Restore.publish]] layout) standing in for the
  *    reference's Postgres cluster flags.
  *  - archive remotes: `-from-dsn` accepts libpq DSNs (production:
  *    [[graft.sources.Jdbc]]) and `parquet:<dir>` pseudo-DSNs (reads
  *    `<dir>/events.parquet` + `<dir>/counts.parquet`) so federated
  *    merges run without a live Postgres.
  *  - upgrade: the plan/ledger half (installPlan + checksum-idempotent
  *    ledger appends under `-n` parity); the RPC apply loop stays the
  *    embeddable [[Upgrade.run]] closure surface — a CLI cannot conjure
  *    the XML-RPC endpoints the reference assumes running next to it.
  *
  * Exit codes follow the reference: 2 = missing/invalid arguments
  * (argparse convention + `_required`, main.py:55-62), 1 = ran but found
  * nothing / failed, 0 = success.
  */
object Main {

  /** Flags that take no value (argparse store_true dests). */
  private val BoolFlags: Map[String, String] = Map(
    "-n" -> "show", "-inactiveusers" -> "inactiveusers",
    "-nopwreset" -> "nopwreset", "-hidegroups" -> "hidegroups",
    "-live" -> "live", "-no-clean" -> "noclean",
    "-no-suffix" -> "nosuffix", "-load-sync-server" -> "sync",
    "-load-sync-server-no-update" -> "synclight",
    "-auto-sync" -> "autosync", "-silent-upgrade" -> "silentupgrade",
    "-rebuild-indexes" -> "analyze", "-no-login" -> "nologin",
    "-migrate-db" -> "migratedb", "-force-sync" -> "forcesync")

  /** Flags that may repeat (argparse action="append" dests). */
  private val RepeatFlags: Map[String, String] = Map(
    "-i" -> "i", "-from-dsn" -> "from_dsn")

  /** Value-flag → dest renames where they differ from the stripped name. */
  private val ValueDests: Map[String, String] = Map(
    "-s" -> "subdir", "-local-log" -> "local",
    "-patch-cloud-path" -> "patchcloud",
    "-cloud-user-rights-path" -> "userrightscloud")

  val Commands: Set[String] = Set("ls", "restore", "clean", "archive",
    "upgrade")

  final case class Parsed(command: String, opts: Map[String, String],
                          multi: Map[String, Seq[String]])

  /** One flat pass over the tokens: flags before or after the subcommand
    * land in the same namespace; the first bare token is the subcommand.
    */
  def parseArgs(args: Seq[String]): Either[String, Parsed] = {
    var command: Option[String] = None
    val opts = scala.collection.mutable.Map.empty[String, String]
    val multi = scala.collection.mutable.Map.empty[String, Seq[String]]
    var rest = args.toList
    while (rest.nonEmpty) {
      val tok = rest.head
      rest = rest.tail
      if (!tok.startsWith("-")) {
        if (command.isDefined)
          return Left(s"unexpected argument: $tok")
        if (!Commands(tok))
          return Left(s"unknown command: $tok (valid: ${Commands.toSeq.sorted.mkString(", ")})")
        command = Some(tok)
      } else if (BoolFlags.contains(tok)) {
        opts(BoolFlags(tok)) = "true"
      } else if (RepeatFlags.contains(tok)) {
        rest match {
          case v :: t =>
            val dest = RepeatFlags(tok)
            multi(dest) = multi.getOrElse(dest, Seq.empty) :+ v
            rest = t
          case Nil => return Left(s"flag $tok needs a value")
        }
      } else {
        rest match {
          case v :: t =>
            opts(ValueDests.getOrElse(tok, tok.stripPrefix("-")
              .replace("-", "_"))) = v
            rest = t
          case Nil => return Left(s"flag $tok needs a value")
        }
      }
    }
    command match {
      case Some(c) => Right(Parsed(c, opts.toMap, multi.toMap))
      case None => Left("no command given (valid: " +
        Commands.toSeq.sorted.mkString(", ") + ")")
    }
  }

  /** INI defaults under CLI values — [[Config.resolve]] over the
    * command's sections (main.py:874-886).
    */
  def resolveOpts(p: Parsed): Map[String, String] = {
    val path = p.opts.get("config")
      .getOrElse(sys.props.getOrElse("user.home", "") + "/.ufload")
    val ini = Config.parseIniFile(java.nio.file.Paths.get(path))
    Config.resolve(
      Config.sectionsFor(p.command).map(s => ini.getOrElse(s, Map.empty)),
      p.opts)
  }

  // ---- source bindings ----------------------------------------------------

  /** Local-filesystem inventory: every `*.zip` under `dir` (or the one
    * `file`), modified = file mtime — the reference's `-file`/`-dir`
    * "disabled cloud downloading" path (main.py:790-792). The listing is
    * tiny (one row per backup); payload bytes stay out of it.
    */
  private def localInventory(spark: SparkSession, dir: Option[String],
                             file: Option[String]): DataFrame = {
    val fmt = new java.text.SimpleDateFormat(Inventory.TsFormat)
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val files: Seq[java.io.File] = dir match {
      case Some(d) => Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".zip")).toSeq
      case None => file.map(new java.io.File(_)).toSeq
    }
    val rows = files.map(f =>
      (f.getName, f.getAbsolutePath, fmt.format(new java.util.Date(f.lastModified))))
    Inventory.fromLocalListing(spark, rows)
  }

  /** The exactly-one-member zip gate (cloud.py:215-264) + extension-
    * dispatched member read. None = invalid payload (restore falls through
    * to the next-newest candidate, [[Restore.run]]'s "invalid" arm).
    */
  private def fetchLocal(spark: SparkSession)(url: String,
                                              file: String): Option[(String, DataFrame)] = {
    val f = new java.io.File(url)
    if (!f.isFile) return None
    val bytes =
      try java.nio.file.Files.readAllBytes(f.toPath)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (!Payloads.hasEndOfCentralDirectory(bytes)) return None
    val members = Payloads.zipMembersSafe(bytes)
    if (members.size != 1) return None
    val member = members.head
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    var entry = zin.getNextEntry
    while (entry != null && entry.getName != member) entry = zin.getNextEntry
    val tmp = java.nio.file.Files.createTempDirectory("graft_fetch")
      .resolve(member.replace('/', '_'))
    try {
      java.nio.file.Files.copy(zin, tmp)
      val p = tmp.toString
      val df = member match {
        case m if m.endsWith(".parquet") => spark.read.parquet(p)
        case m if m.endsWith(".json") => spark.read.json(p)
        case _ => // the reference's .dump payload → delimited text here
          spark.read.option("header", "true").option("inferSchema", "true")
            .csv(p)
      }
      // localCheckpoint: the temp file may be GC'd after the run returns;
      // the published frame must not depend on it
      Some((member, df.localCheckpoint(eager = true)))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally zin.close()
  }

  // ---- commands -------------------------------------------------------------

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  private def requireKeys(o: Map[String, String], keys: Seq[String],
                          out: String => Unit): Boolean = {
    val missing = keys.filterNot(o.contains)
    // main.py:55-62 _required: name each missing argument, rc 2
    missing.foreach(k => out(s"Argument -$k is required."))
    missing.isEmpty
  }

  private def cmdLs(spark: SparkSession, o: Map[String, String],
                    multi: Map[String, Seq[String]],
                    out: String => Unit): Int = {
    if (!o.contains("dir") && !o.contains("file")) {
      out("ls needs -dir <directory of backups> (the cloud listing " +
        "binding requires a WebDAV endpoint; see MIGRATION.md)")
      return 2
    }
    val inv = localInventory(spark, o.get("dir"), o.get("file"))
    val latest = Ls.run(inv, multi.getOrElse("i", Nil), Nil)
      .select("file").collect().map(_.getString(0))
    if (latest.isEmpty) { out("No files found."); 1 } // main.py:499-501
    else { latest.foreach(out); 0 }
  }

  private def cmdRestore(spark: SparkSession, o: Map[String, String],
                         multi: Map[String, Seq[String]],
                         out: String => Unit): Int = {
    if (!requireKeys(o, Seq("warehouse"), out)) return 2
    if (!o.contains("dir") && !o.contains("file")) {
      out("restore needs -file <zip> or -dir <directory> (cloud " +
        "downloading requires a WebDAV endpoint; see MIGRATION.md)")
      return 2
    }
    val show = o.get("show").contains("true")
    val inv = localInventory(spark, o.get("dir"), o.get("file"))
    val notify: String => Unit = db => o.get("notify").foreach { script =>
      // main.py:358-359: run the hook once per restored db
      new ProcessBuilder(script, db).inheritIO().start().waitFor()
    }
    val attempts = Restore.run(spark, inv,
      warehouse = o("warehouse"),
      fetch = fetchLocal(spark),
      include = multi.getOrElse("i", Nil),
      exclude = o.get("exclude").toSeq,
      prefix = o.get("db_prefix"),
      gc = !o.get("noclean").contains("true"),
      onRestored = notify,
      show = show,
      onAction = a => out(s"DRY: would ${a.op} ${a.target}"))
    attempts.foreach(a => out(s"${a.instance}: ${a.file} -> " +
      s"${if (a.db.isEmpty) "-" else a.db} [${a.status}]"))
    if (attempts.exists(_.status == "failed")) 1 else 0
  }

  private def cmdClean(spark: SparkSession, o: Map[String, String],
                       out: String => Unit): Int = {
    if (!requireKeys(o, Seq("warehouse"), out)) return 2
    val wh = o("warehouse")
    val victims = Restore.invalidDbs(Restore.catalog(spark, wh),
      o.get("db_prefix")).select("db").collect().map(_.getString(0)).toSeq
    if (o.get("show").contains("true"))
      victims.foreach(db => out(s"DRY: would drop $db"))
    else Restore.dropDbs(spark, wh, victims)
    // main.py:512-518 count messages, verbatim shape
    out(victims.size match {
      case 0 => "No database to delete found"
      case 1 => "One database has been deleted"
      case n => s"$n databases have been deleted"
    })
    0
  }

  private def cmdArchive(spark: SparkSession, o: Map[String, String],
                         multi: Map[String, Seq[String]],
                         out: String => Unit): Int = {
    if (!requireKeys(o, Seq("warehouse"), out)) return 2
    val dsns = multi.getOrElse("from_dsn", Nil)
    if (dsns.isEmpty) { out("Argument -from-dsn is required."); return 2 }
    val show = o.get("show").contains("true")
    val root = o("warehouse") + "/_archive"
    def local(name: String, schema: org.apache.spark.sql.types.StructType) =
      if (pathExists(spark, s"$root/$name"))
        spark.read.parquet(s"$root/$name")
      else spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
    def remote(dsn: String, name: String, table: String): DataFrame =
      if (dsn.startsWith("parquet:"))
        spark.read.parquet(s"${dsn.stripPrefix("parquet:")}/$name.parquet")
      else { // production: federated Postgres scan (db.py:792-830)
        val (url, props) = graft.sources.Jdbc.dsnToJdbc(dsn)
        spark.read.jdbc(url, table, props)
      }
    for ((name, table) <- Seq("events" -> "operations_event",
        "counts" -> "operations_count")) {
      val incoming = dsns.map(d => remote(d, name, table))
        .reduce(_ unionByName _)
        .dropDuplicates(Archive.MergeKeys)
      val loc = local(name, incoming.schema)
      // new rows only — the remote half of [[Archive.mergeEvents]]'s
      // `INSERT … ON CONFLICT DO NOTHING` semantics (db.py:805-815):
      // appending only key-fresh rows keeps re-runs idempotent (rows
      // landed by a previous, even partial, run are in the local keys)
      val fresh = incoming.join(
        broadcast(loc.select(Archive.MergeKeys.map(col): _*)
          .dropDuplicates(Archive.MergeKeys)),
        Archive.MergeKeys, "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = fresh.count()
        if (show) out(s"DRY: would append $n new rows to _archive/$name")
        else {
          fresh.write.mode("append").parquet(s"$root/$name")
          out(s"appended $n new rows to _archive/$name")
        }
      } finally fresh.unpersist()
    }
    0
  }

  private def cmdUpgrade(spark: SparkSession, o: Map[String, String],
                         out: String => Unit): Int = {
    if (!requireKeys(o, Seq("warehouse"), out)) return 2
    val patchDir = o.get("patchcloud")
    val patchFile = o.get("patch")
    if (patchDir.isEmpty && patchFile.isEmpty) {
      out("upgrade needs -patch <zip> or -patch-cloud-path <directory>")
      return 2
    }
    val show = o.get("show").contains("true")
    import spark.implicits._
    val files: Seq[java.io.File] = patchDir match {
      case Some(d) => Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".patch.zip")).toSeq
      case None => patchFile.map(new java.io.File(_)).toSeq
    }
    if (files.isEmpty) { out("No patch files found."); return 1 }
    val patches = files.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      (f.getName, org.apache.commons.codec.digest.DigestUtils.md5Hex(bytes),
        f.getAbsolutePath)
    }.toDF("file", "sum", "path")
    val ledgerPath = o("warehouse") + "/_upgrade_ledger"
    val ledger =
      if (pathExists(spark, ledgerPath)) spark.read.parquet(ledgerPath)
      else Seq.empty[(String, String, String)].toDF("file", "sum", "version")
    // checksum-idempotent ordered plan (db.py:877-896 + natural version)
    val plan = Upgrade.installPlan(patches.select("file", "sum"), ledger)
      .select("file", "sum").as[(String, String)].collect().toSeq
    if (plan.isEmpty) { out("All patches already installed."); return 0 }
    for ((file, sum) <- plan) {
      val version = Upgrade.patchVersion(file)
      if (show) out(s"DRY: would install patch $version ($file)")
      else {
        Seq((file, sum, version)).toDF("file", "sum", "version")
          .write.mode("append").parquet(ledgerPath)
        out(s"installed patch $version ($file)")
      }
    }
    out("The RPC apply loop (instance connect/sync/upgrade) binds through " +
      "Upgrade.run's closure surface; see MIGRATION.md.")
    0
  }

  /** Testable entry: parse → resolve → dispatch. `out` receives every
    * user-facing line; the return value is the process exit code.
    */
  def run(args: Seq[String], spark: SparkSession,
          out: String => Unit): Int =
    parseArgs(args) match {
      case Left(err) =>
        out(err)
        out("usage: graft.Main [flags] <ls|restore|clean|archive|upgrade> [flags]")
        2
      case Right(p) =>
        val o = resolveOpts(p)
        p.command match {
          case "ls" => cmdLs(spark, o, p.multi, out)
          case "restore" => cmdRestore(spark, o, p.multi, out)
          case "clean" => cmdClean(spark, o, out)
          case "archive" => cmdArchive(spark, o, p.multi, out)
          case "upgrade" => cmdUpgrade(spark, o, out)
        }
    }

  def main(args: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val rc =
      try run(args.toIndexedSeq, spark, println)
      finally spark.stop()
    sys.exit(rc)
  }
}
