package graft

import java.nio.file.Files
import graft.pipeline.{Archive, Restore}

/** End-to-end drive of the `graft.Main` CLI path: the five subcommands
  * against local fixtures (zip backups whose single member is a CSV dump,
  * parquet pseudo-DSNs, patch zips), asserting the reference's dispatch,
  * precedence and `-n` show-mode contracts (main.py:790-908) through the
  * SAME `run()` the executable main calls.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  /** A backup zip holding exactly one member with the given bytes. */
  private def writeZip(dir: java.nio.file.Path, zipName: String,
                       member: String, body: Array[Byte],
                       mtime: Long): java.io.File = {
    val f = dir.resolve(zipName).toFile
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(f))
    try {
      zout.putNextEntry(new java.util.zip.ZipEntry(member))
      zout.write(body)
      zout.closeEntry()
    } finally zout.close()
    f.setLastModified(mtime)
    f
  }

  private def runCli(args: String*): (Int, Seq[String]) = {
    val lines = scala.collection.mutable.ListBuffer[String]()
    val rc = Main.run(args.toIndexedSeq, spark, lines += _)
    (rc, lines.toList)
  }

  private val csvBody = "id,login\n1,admin\n2,alice\n".getBytes("UTF-8")
  private val old = System.currentTimeMillis() - 3600 * 1000L

  test("parse: flat namespace, repeats, booleans, bad input rc=2") {
    val p = Main.parseArgs(Seq("-pw", "x", "restore", "-i", "A", "-i", "B",
      "-n", "-no-clean", "-db-prefix", "t")).toOption.get
    assert(p.command == "restore" && p.opts("pw") == "x" &&
      p.opts("show") == "true" && p.opts("noclean") == "true" &&
      p.opts("db_prefix") == "t" && p.multi("i") == Seq("A", "B"))
    assert(Main.parseArgs(Seq("frobnicate")).isLeft)
    assert(Main.parseArgs(Seq("-pw")).isLeft) // dangling value flag
    assert(Main.parseArgs(Seq.empty).isLeft)
    val (rc, outLines) = runCli("nonsense")
    assert(rc == 2 && outLines.exists(_.contains("unknown command")))
  }

  test("config file defaults under CLI values (set_defaults precedence)") {
    val conf = Files.createTempDirectory("graft_cli_conf")
      .resolve("ufload.ini")
    Files.write(conf,
      "[postgres]\nwarehouse=/from/file\n[restore]\nexclude=ZZZ\n"
        .getBytes("UTF-8"))
    val p = Main.parseArgs(Seq("-config", conf.toString, "restore",
      "-warehouse", "/from/cli")).toOption.get
    val o = Main.resolveOpts(p)
    assert(o("warehouse") == "/from/cli") // CLI wins
    assert(o("exclude") == "ZZZ")         // file default survives
  }

  test("ls: latest per instance from a local dir; include filter; empty rc=1") {
    val dir = Files.createTempDirectory("graft_cli_ls")
    writeZip(dir, "OCG_KE1_NBO-Mon.zip", "a.csv", csvBody, old - 86400000L)
    writeZip(dir, "OCG_KE1_NBO-Tue.zip", "a.csv", csvBody, old)
    writeZip(dir, "OCA_TD1_ABC-Sun.zip", "b.csv", csvBody, old)
    val (rc, lines) = runCli("ls", "-dir", dir.toString)
    assert(rc == 0 && lines ==
      Seq("OCA_TD1_ABC-Sun.zip", "OCG_KE1_NBO-Tue.zip"))
    val (rcI, linesI) = runCli("ls", "-dir", dir.toString, "-i", "OCG")
    assert(rcI == 0 && linesI == Seq("OCG_KE1_NBO-Tue.zip"))
    val (rcE, linesE) = runCli("ls", "-dir",
      Files.createTempDirectory("graft_cli_empty").toString)
    assert(rcE == 1 && linesE == Seq("No files found."))
    assert(runCli("ls")._1 == 2) // no source binding → required-args rc
  }

  test("ls: a local zip modified 5 min in the future is listed, not " +
    "held back as in-flight") {
    // local files are complete by definition: the cloud in-flight guard
    // (|now − mtime| < 15 min skipped) must not drop a skewed-clock mtime
    val dir = Files.createTempDirectory("graft_cli_ls_future")
    writeZip(dir, "OCG_KE1_NBO-Mon.zip", "a.csv", csvBody,
      System.currentTimeMillis() + 5 * 60 * 1000L)
    val (rc, lines) = runCli("ls", "-dir", dir.toString)
    assert(rc == 0 && lines == Seq("OCG_KE1_NBO-Mon.zip"))
  }

  test("restore -n then real: dry run reports and mutates nothing; " +
      "real run publishes, GCs, honors -no-clean semantics") {
    val dir = Files.createTempDirectory("graft_cli_restore")
    val wh = Files.createTempDirectory("graft_cli_wh").toString
    // newest OCG candidate is corrupt (two members) → falls through to Mon
    writeZip(dir, "OCG_KE1_NBO-Mon.zip",
      "OCG_KE1_NBO-20240110-080000-A-UF2.1.dump", csvBody, old - 86400000L)
    val bad = writeZip(dir, "OCG_KE1_NBO-Tue.zip", "x.csv", csvBody, old)
    locally { // second member → fails the exactly-one-member gate
      val zout = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(bad, false))
      try {
        for (m <- Seq("x.csv", "y.csv")) {
          zout.putNextEntry(new java.util.zip.ZipEntry(m))
          zout.write(csvBody); zout.closeEntry()
        }
      } finally zout.close()
      bad.setLastModified(old)
    }
    writeZip(dir, "OCA_TD1_ABC-Sun.zip",
      "OCA_TD1_ABC-20240109-070000-A-UF2.1.dump", csvBody, old)

    // an older OCG sibling a real run's GC must drop
    Restore.publish(spark, Seq((9L, "zed")).toDF("id", "login"), wh,
      "OCG_KE1_NBO_20240101_0000")

    val (rcDry, dry) = runCli("-n", "restore", "-dir", dir.toString,
      "-warehouse", wh)
    assert(rcDry == 0)
    assert(dry.exists(l => l.startsWith("DRY: would publish") &&
      l.contains("OCG_KE1_NBO_20240110_0800")))
    assert(dry.exists(l => l.startsWith("DRY: would drop") &&
      l.contains("OCG_KE1_NBO_20240101_0000")))
    assert(dry.exists(_.contains("OCG_KE1_NBO-Tue.zip -> - [invalid]")))
    // zero side effects: only the pre-seeded sibling exists
    assert(Restore.catalog(spark, wh).as[String].collect().toSeq ==
      Seq("OCG_KE1_NBO_20240101_0000"))

    val (rcReal, real) = runCli("restore", "-dir", dir.toString,
      "-warehouse", wh)
    assert(rcReal == 0)
    assert(real.exists(_.contains("[restored]")))
    // published + sibling GC'd; the published frame reads back
    assert(Restore.catalog(spark, wh).as[String].collect().toSet ==
      Set("OCG_KE1_NBO_20240110_0800", "OCA_TD1_ABC_20240109_0700"))
    val back = spark.read.parquet(s"$wh/OCG_KE1_NBO_20240110_0800")
    assert(back.count() == 2 &&
      back.columns.toSet == Set("id", "login"))
  }

  test("clean: -n lists victims without dropping; real run drops; counts " +
      "message parity") {
    val wh = Files.createTempDirectory("graft_cli_clean_wh").toString
    val df = Seq((1L, "x")).toDF("id", "v")
    Restore.publish(spark, df, wh, "OCG_KE1_NBO_20240110_0800") // valid name
    Restore.publish(spark, df, wh, "not-a-backup")              // victim
    val (rcDry, dry) = runCli("-n", "clean", "-warehouse", wh)
    assert(rcDry == 0 && dry.contains("DRY: would drop not-a-backup") &&
      dry.contains("One database has been deleted"))
    assert(Restore.catalog(spark, wh).count() == 2) // nothing dropped
    val (rc, lines) = runCli("clean", "-warehouse", wh)
    assert(rc == 0 && lines.contains("One database has been deleted"))
    assert(Restore.catalog(spark, wh).as[String].collect().toSeq ==
      Seq("OCG_KE1_NBO_20240110_0800"))
    val (rc2, lines2) = runCli("clean", "-warehouse", wh)
    assert(rc2 == 0 && lines2.contains("No database to delete found"))
  }

  test("archive: parquet pseudo-DSN merge is key-idempotent across re-runs") {
    val wh = Files.createTempDirectory("graft_cli_arch_wh").toString
    val remote = Files.createTempDirectory("graft_cli_arch_remote").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(Archive.OperationsEvent("I1", "sync", t0, 1, "a"),
      Archive.OperationsEvent("I1", "sync", t0, 2, "b"))
      .toDF().write.parquet(s"$remote/events.parquet")
    Seq(Archive.OperationsCount("I1", "sync", t0, 5, 1))
      .toDF().write.parquet(s"$remote/counts.parquet")
    val (rcDry, dry) = runCli("-n", "archive", "-warehouse", wh,
      "-from-dsn", s"parquet:$remote")
    assert(rcDry == 0 &&
      dry.contains("DRY: would append 2 new rows to _archive/events"))
    val (rc1, _) = runCli("archive", "-warehouse", wh,
      "-from-dsn", s"parquet:$remote")
    assert(rc1 == 0)
    assert(spark.read.parquet(s"$wh/_archive/events").count() == 2)
    // re-run: same remote rows are key-present locally → zero appended
    val (rc2, lines2) = runCli("archive", "-warehouse", wh,
      "-from-dsn", s"parquet:$remote")
    assert(rc2 == 0 &&
      lines2.contains("appended 0 new rows to _archive/events"))
    assert(spark.read.parquet(s"$wh/_archive/events").count() == 2)
    assert(runCli("archive", "-warehouse", wh)._1 == 2) // -from-dsn required
  }

  test("upgrade: natural-version plan, checksum-idempotent ledger, -n parity") {
    val wh = Files.createTempDirectory("graft_cli_up_wh").toString
    val pd = Files.createTempDirectory("graft_cli_patches")
    writeZip(pd, "uf10.2.patch.zip", "p", "v10".getBytes, old)
    writeZip(pd, "uf2.1.patch.zip", "p", "v2".getBytes, old)
    val (rcDry, dry) = runCli("-n", "upgrade", "-warehouse", wh,
      "-patch-cloud-path", pd.toString)
    assert(rcDry == 0)
    // natural-version order: uf2.1 before uf10.2 (lexicographic would flip)
    val dryPlans = dry.filter(_.startsWith("DRY: would install"))
    assert(dryPlans == Seq("DRY: would install patch uf2.1 (uf2.1.patch.zip)",
      "DRY: would install patch uf10.2 (uf10.2.patch.zip)"))
    assert(!new java.io.File(s"$wh/_upgrade_ledger").exists()) // dry: no ledger
    val (rc1, lines1) = runCli("upgrade", "-warehouse", wh,
      "-patch-cloud-path", pd.toString)
    assert(rc1 == 0 && lines1.count(_.startsWith("installed patch")) == 2)
    // idempotence: same patches, empty plan
    val (rc2, lines2) = runCli("upgrade", "-warehouse", wh,
      "-patch-cloud-path", pd.toString)
    assert(rc2 == 0 && lines2.contains("All patches already installed."))
    // a NEW patch joins the plan alone
    writeZip(pd, "uf10.11.patch.zip", "p", "v1011".getBytes, old)
    val (rc3, lines3) = runCli("upgrade", "-warehouse", wh,
      "-patch-cloud-path", pd.toString)
    assert(rc3 == 0 &&
      lines3.count(_.startsWith("installed patch")) == 1 &&
      lines3.exists(_.contains("uf10.11")))
  }
}
