package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-process tests for the unified `graft` root command: the CLI
  * mains own (and stop) their SparkSession, so they must run in their
  * own JVM — exactly how a user invokes them.
  */
class CliRootSpec extends AnyFunSuite {

  /** Launch GraftMain in a fresh JVM without waiting (the concurrency
    * tests race two of these); `env` entries overlay the inherited
    * environment.
    */
  private def graftStart(env: Map[String, String],
      args: String*): Process = {
    val pb = graftProcess(env, args: _*)
    pb.redirectErrorStream(true)
    pb.start()
  }

  private def graftProcess(env: Map[String, String],
      args: String*): ProcessBuilder = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.cli.GraftMain") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb
  }

  private def drain(p: Process): (Int, String) = {
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    (code, out)
  }

  /** Run GraftMain in a fresh JVM; returns (exitCode, stdout+stderr). */
  private def graft(args: String*): (Int, String) =
    drain(graftStart(Map.empty, args: _*))

  private def graftEnv(env: Map[String, String],
      args: String*): (Int, String) = drain(graftStart(env, args: _*))

  /** Run GraftMain in a fresh JVM with the streams kept apart; returns
    * (exitCode, stdout, stderr).
    */
  private def graftSplit(args: String*): (Int, String, String) = {
    val err = java.nio.file.Files.createTempFile("graft-stderr", ".txt")
    val pb = graftProcess(Map.empty, args: _*)
    pb.redirectError(err.toFile)
    val (code, out) = drain(pb.start())
    (code, out, java.nio.file.Files.readString(err))
  }

  /** Two tiny engine-portable migrations (plain CREATE TABLE parses in
    * both Spark SQL and Derby) for the concurrency tests. No trailing
    * semicolon: the executor passes the FILE body through as one
    * command (the reference's PG posture) and Derby's JDBC rejects a
    * bare trailing `;`.
    */
  private def raceMigrations(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-race-mig")
    for (v <- Seq("001", "002")) {
      java.nio.file.Files.writeString(
        dir.resolve(s"V${v}_race_$v.up.sql"),
        s"CREATE TABLE race_t$v (id INT)\n")
      java.nio.file.Files.writeString(
        dir.resolve(s"V${v}_race_$v.down.sql"),
        s"DROP TABLE race_t$v\n")
    }
    dir.toString
  }

  test("graft --version exits 0 without starting Spark") {
    val (code, out) = graft("--version")
    assert(code == 0)
    assert(out.contains("graft 0.1.0"))
  }

  test("graft with no / unknown command exits 2 with usage") {
    val (c1, o1) = graft()
    assert(c1 == 2 && o1.contains("usage: graft"))
    val (c2, o2) = graft("frobnicate")
    assert(c2 == 2 && o2.contains("unknown command"))
  }

  test("graft analyze dispatches with persistent flags in any position " +
      "and per-command flags intact") {
    val (code, out) = graft("--verbose", "analyze",
      "/root/repo/fixtures/migrations", "--pg-version", "10")
    assert(code == 0, s"analyze failed:\n$out")
    // verbose banner from the shared flag, with the flag-provided
    // pg version surviving the translation
    assert(out.contains("targetPgVersion=10"))
    // the fixture corpus's known verdicts (ClassifierSpec's matrix):
    // drop_table is CRITICAL, safe_concurrent_index is SAFE
    assert(out.contains("drop_table"))
    assert(out.contains("CRITICAL"))
  }

  test("a missing or non-directory migrations path makes analyze, apply " +
      "and status exit 1 with one error line; an empty directory is " +
      "zero migrations") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-baddir")
    val tracker = tmp.resolve("tracker").toString
    val file = java.nio.file.Files.writeString(tmp.resolve("plain.sql"), "")
    for (bad <- Seq(tmp.resolve("missing").toString, file.toString);
         cmd <- Seq(Seq("analyze", bad), Seq("apply", bad, tracker),
           Seq("status", bad, tracker))) {
      val (code, out) = graft(cmd: _*)
      assert(code == 1, s"${cmd.mkString(" ")} exited $code:\n$out")
      assert(out.linesIterator.toSeq == Seq(s"error: cannot read " +
        s"migrations directory $bad: missing or not a directory"), out)
    }
    val empty = tmp.resolve("empty")
    java.nio.file.Files.createDirectory(empty)
    val (code, out) = graft("analyze", empty.toString, "--format", "json")
    assert(code == 0 && out.trim == "[]", out)
  }

  test("graft stats with a missing data directory exits 1 with one error " +
      "line, before any SparkContext starts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stats-baddir")
    val missing = tmp.resolve("missing").toString
    val (code, out) = graft("stats", missing, tmp.resolve("tracker").toString)
    assert(code == 1, s"stats exited $code:\n$out")
    // stdout and stderr merged: Spark's start-up log would show here
    assert(out.linesIterator.toSeq == Seq(s"error: cannot read data " +
      s"directory $missing: missing or not a directory"), out)
  }

  test("graft analyze, and JDBC-mode apply run twice, leave stderr " +
      "empty on success and start no SparkContext") {
    val (c1, o1, e1) = graftSplit("analyze", "fixtures/migrations")
    assert(c1 == 0 && o1.contains("Analyzed 27 migration(s)"), o1 + e1)
    assert(e1.isEmpty && !o1.contains("SparkContext"), e1)
    val mig = raceMigrations()
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-quiet-tracker").toString
    val db = java.nio.file.Files
      .createTempDirectory("graft-quiet-db").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    for (expect <- Seq("applied 2, skipped 0", "applied 0, skipped 2")) {
      val (c, o, e) = graftSplit("apply", mig, tracker, "--jdbc-url", url)
      assert(c == 0 && o.contains(expect), o + e)
      assert(e.isEmpty && !o.contains("SparkContext"), e)
    }
  }

  test("graft apply: --lock-timeout flag beats config while the config " +
      "still supplies --statement-timeout (apply.go:56-60 precedence)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-cfg")
    val cfg = dir.resolve("migrate.yml")
    java.nio.file.Files.writeString(cfg,
      "lock_timeout: 30s\nstatement_timeout: 45s\n")
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-tracker-to").toString
    val (code, out) = graft("--config", cfg.toString, "apply",
      "/root/repo/fixtures/migrations", tracker,
      "--dry-run", "--force", "--verbose", "--lock-timeout", "7s")
    assert(code == 0, s"apply failed:\n$out")
    // flag wins over the file's 30s; the file's statement_timeout
    // flows through the root untouched
    assert(out.contains("lockTimeoutMs=7000"), out)
    assert(out.contains("statementTimeoutMs=45000"), out)
    // rollback reads the same config: both timeouts come from the file
    val (rc, rout) = graft("--config", cfg.toString, "--verbose", "rollback",
      "fixtures/migrations", tracker, "--steps", "1")
    assert(rc == 1, s"rollback of nothing exited $rc:\n$rout")
    val lines = rout.linesIterator.toSeq
    val timeouts = lines.indexWhere(
      _.contains("lockTimeoutMs=30000 statementTimeoutMs=45000"))
    assert(timeouts >= 0 &&
      timeouts < lines.indexOf("error: nothing to roll back"), rout)
  }

  test("graft analyze --format github-actions emits workflow-command " +
      "annotations with severity-mapped levels") {
    val (code, out) = graft("analyze", "/root/repo/fixtures/migrations",
      "--format", "github-actions")
    assert(code == 0, s"analyze failed:\n$out")
    val lines = out.linesIterator.filter(_.startsWith("::")).toSeq
    assert(lines.nonEmpty, s"no annotations:\n$out")
    // every annotation names its migration file and carries a title
    lines.foreach { l =>
      assert(l.matches("^::(error|warning|notice) file=[^,]+,title=.+::.+$"), l)
    }
    // known fixture verdicts: drop_table is CRITICAL → ::error on the
    // V007 file; set_not_null is MEDIUM → ::warning on V006
    assert(lines.exists(l => l.startsWith("::error") &&
      l.contains("007_drop_table")), lines.mkString("\n"))
    assert(lines.exists(l => l.startsWith("::warning") &&
      l.contains("006_set_not_null")), lines.mkString("\n"))
    // SAFE migrations emit nothing
    assert(!out.contains("011_safe_concurrent_index") ||
      !lines.exists(_.contains("011_safe_concurrent_index")))
  }

  test("graft analyze --format sarif emits valid SARIF 2.1.0: one run, " +
      "the full rule registry as tool metadata, severity-mapped levels, " +
      "file locations") {
    val (code, out) = graft("analyze", "/root/repo/fixtures/migrations",
      "--format", "sarif")
    assert(code == 0, s"analyze failed:\n$out")
    val json = out.linesIterator.find(_.startsWith("{")).getOrElse(
      fail(s"no JSON line in:\n$out"))
    // parse with the JDK-adjacent toolchain available here: jackson
    // rides in with Spark — a real parser, not regex poking
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    assert(root.get("version").asText() == "2.1.0")
    val runs = root.get("runs")
    assert(runs.size() == 1)
    val driver = runs.get(0).get("tool").get("driver")
    assert(driver.get("name").asText() == "graft")
    val ruleIds = (0 until driver.get("rules").size())
      .map(i => driver.get("rules").get(i).get("id").asText()).toSet
    assert(ruleIds ==
      (_root_.graft.rules.Registry.defaultRules.map(_.id) ++
        _root_.graft.rules.Registry.defaultFileRules.map(_.id)).toSet,
      s"registry drift: $ruleIds")
    val rs = runs.get(0).get("results")
    assert(rs.size() > 0)
    val byRule = (0 until rs.size()).map(rs.get)
      .groupBy(_.get("ruleId").asText())
    // severity map spot checks on known fixture verdicts
    assert(byRule("drop-table").head.get("level").asText() == "error")
    assert(byRule("set-not-null").head.get("level").asText() == "warning")
    assert(byRule("drop-column").head.get("level").asText() == "warning")
    (0 until rs.size()).map(rs.get).foreach { r =>
      val uri = r.get("locations").get(0).get("physicalLocation")
        .get("artifactLocation").get("uri").asText()
      assert(uri.endsWith(".sql"), s"bad location uri: $uri")
    }
  }

  test("sarif/json emitters survive hostile content: control chars, " +
      "quotes, and backslashes in SQL round-trip through a STRICT " +
      "parser (VERDICT r15 #8 — a malformed escape cannot ship)") {
    // a migration whose table name and statement text carry every
    // character class the string-built emitters must escape: double
    // quotes (quoted identifier with an embedded "), backslash, tab,
    // carriage return, and a newline inside the statement
    val dir = java.nio.file.Files.createTempDirectory("graft-hostile")
    java.nio.file.Files.writeString(
      dir.resolve("V001_hostile.up.sql"),
      "DROP TABLE \"we\"\"ird\\ta\tble\";\r\nLOCK TABLE\n\t\"x\ry\";")
    // strict parse: no lenient features — raw control chars or bad
    // escapes in the output are a test failure, not a shrug
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def strictParse(json: String) = mapper.readTree(json)
    for (fmt <- Seq("sarif", "json")) {
      val (code, out) = graft("analyze", dir.toString, "--format", fmt)
      assert(code == 0, s"analyze --format $fmt failed:\n$out")
      val json = out.linesIterator.find(l =>
        l.startsWith("{") || l.startsWith("[")).getOrElse(
        fail(s"no JSON line in:\n$out"))
      val root = strictParse(json)
      // the findings made it through intact (drop-table + lock-table
      // both fire on the hostile statements)
      val text = root.toString
      assert(text.contains("drop-table") && text.contains("lock-table"),
        s"findings lost in $fmt output: $text")
    }
    // unit leg: the escaper's output for a full control-char gauntlet
    // parses strictly and round-trips the exact string
    val hostile = "a\"b\\c\nd\re\tf\u0000g\u001fh"
    val esc = _root_.graft.cli.AnalyzeMain.jsonEscape(hostile)
    assert(strictParse(s"""{"v":$esc}""").get("v").asText() == hostile)
  }

  test("graft plan: default lists applied rows, --pending-only restricts " +
      "(plan.go:19's registered flag, implemented)") {
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-plan").toString
    // empty tracker: all 27 fixtures pending either way, but the flag
    // must parse and the header must report the applied count
    val (code, out) = graft("plan", "/root/repo/fixtures/migrations",
      tracker)
    assert(code == 0, s"plan failed:\n$out")
    assert(out.contains("27 pending migration(s)") &&
      out.contains("(0 already applied"))
    val (code2, out2) = graft("plan", "/root/repo/fixtures/migrations",
      tracker, "--pending-only")
    assert(code2 == 0, s"plan --pending-only failed:\n$out2")
    assert(out2.contains("27 pending migration(s)"))
    assert(!out2.contains("already applied\n001"),
      "pending-only must not emit applied status rows")
  }

  test("graft plan --stats-dir prints stats-driven impact estimates " +
      "per rewrite-class finding (checklist Phase-7 impact estimation)") {
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-plan-stats").toString
    val (code, out) = graft("plan", "/root/repo/fixtures/impact",
      tracker, "--stats-dir", "/root/testdata/sf0.001")
    assert(code == 0, s"plan --stats-dir failed:\n$out")
    // q77's row-count stat per mechanism (sf0.001 table cardinalities)
    assert(out.contains("full table rewrite") &&
      out.contains("150 row(s) of customer"), out)
    assert(out.contains("index build scan") &&
      out.contains("6000 row(s) of lineitem"), out)
    assert(out.contains("validation scan") &&
      out.contains("1500 row(s) of orders"), out)
    // q83's histogram-driven predicate estimate + the NULL-count stat
    assert(out.matches("(?s).*\\d+ row\\(s\\) violate CHECK " +
      "\\(o_totalprice < 400000\\).*"), out)
    assert(out.contains("0 NULL row(s) in o_orderstatus"), out)
    // without the flag no impact lines appear
    val (code2, out2) = graft("plan", "/root/repo/fixtures/impact",
      tracker)
    assert(code2 == 0 && !out2.contains("~ impact:"), out2)
  }

  test("graft plan survives CHECK literals with more than two decimal " +
      "places (BigDecimal cents cut rounds instead of toLongExact-ing)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-frac-check")
    java.nio.file.Files.writeString(
      dir.resolve("V001_frac_check.up.sql"),
      "ALTER TABLE orders ADD CONSTRAINT o_chk " +
        "CHECK (o_totalprice < 99.999);\n")
    java.nio.file.Files.writeString(
      dir.resolve("V001_frac_check.down.sql"),
      "ALTER TABLE orders DROP CONSTRAINT o_chk;\n")
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-frac-check-tracker").toString
    val (code, out) = graft("plan", dir.toString, tracker,
      "--stats-dir", "/root/testdata/sf0.001")
    assert(code == 0, s"plan crashed on fractional CHECK literal:\n$out")
    // violators of o_totalprice < 99.999 are cents >= ceil(9999.9) =
    // 10000 — every order at sf0.001 (min totalprice ≈ 1,000) → ~1500
    assert(out.matches("(?s).*\\d+ row\\(s\\) violate CHECK " +
      "\\(o_totalprice < 99\\.999\\).*"), out)
  }

  test("graft stats persists table statistics; plan then estimates " +
      "impact from STORED stats with no data scan (pg_stats posture)") {
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-stats").toString
    val (c0, o0) = graft("stats", "/root/testdata/sf0.001", tracker,
      "--tables", "customer,orders,lineitem")
    assert(c0 == 0, s"stats failed:\n$o0")
    assert(o0.contains("Collected stats for 3 table(s)"), o0)
    // plan WITHOUT --stats-dir: estimates must come from the tracker
    val (c1, o1) = graft("plan", "/root/repo/fixtures/impact", tracker)
    assert(c1 == 0, s"plan failed:\n$o1")
    assert(o1.contains("using stored table stats: 3 table(s)"), o1)
    assert(o1.contains("150 row(s) of customer") &&
      o1.contains("6000 row(s) of lineitem"), o1)
    assert(o1.contains("stored-stats octile estimate (no scan)"), o1)
    assert(o1.contains("NULL row(s) in o_orderstatus"), o1)
    // and no live-scan estimates leaked in
    assert(!o1.contains("live scan"), o1)
  }

  test("graft status --format json emits machine-readable state " +
      "(status.go:18's registered value, implemented)") {
    // a tab in the tracker path must come out escaped
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-status\tjson").toString
    val (code, out) = graft("status", "/root/repo/fixtures/migrations",
      tracker, "--format", "json")
    assert(code == 0, s"status --format json failed:\n$out")
    val json = out.linesIterator.find(_.startsWith("{")).getOrElse(
      fail(s"no JSON line in:\n$out"))
    assert(json.contains("\"applied\":[]"))
    assert(json.contains("\"pending\":[{\"version\":\"001\""))
    // strict parse: a raw control char in a string is an error
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    assert(root.get("tracker").asText() == tracker)
    assert(root.get("pending").size() == 27)
  }

  test("graft status runs against --migrations-dir from the persistent " +
      "flag (no positional dir)") {
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-cli-tracker").toString
    val (code, out) = graft("--migrations-dir",
      "/root/repo/fixtures/migrations", "status", tracker)
    assert(code == 0, s"status failed:\n$out")
    assert(out.contains("Pending"))
  }

  // --- cross-process single-writer exclusion (the reference's
  // two-writers-one-lock integration race,
  // integration/lifecycle_test.go:382-416, run as REAL separate JVMs —
  // the in-process matrix lives in ExecutorSpec) ---

  test("cross-process FileLock: `graft apply` against a tracker whose " +
      "lock another PROCESS holds exits 1 with the lock error and " +
      "leaves the tracker untouched; after release the same apply " +
      "succeeds") {
    val mig = raceMigrations()
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-xp-tracker").toString
    val wh = java.nio.file.Files
      .createTempDirectory("graft-xp-wh").toString
    // THIS test JVM is the competing process: it holds the real
    // FileLock while the CLI child runs
    val holder = new _root_.graft.exec.FileLock(s"$tracker/_LOCK")
    holder.acquire()
    try {
      val (code, out) = graftEnv(Map("GRAFT_WAREHOUSE" -> wh),
        "apply", mig, tracker)
      assert(code == 1, s"loser must exit 1, got $code:\n$out")
      assert(out.contains("migration lock is held by another process"),
        out)
    } finally holder.release()
    // tracker untouched by the refused apply
    val (sc, sout) = graft("status", mig, tracker, "--format", "json")
    assert(sc == 0 && sout.contains("\"applied\":[]"), sout)
    // lock released → the same command applies both migrations
    val (c2, o2) = graftEnv(Map("GRAFT_WAREHOUSE" -> wh),
      "apply", mig, tracker)
    assert(c2 == 0 && o2.contains("applied 2, skipped 0"), o2)
  }

  test("cross-process race, FileLock: two concurrent `graft apply` " +
      "JVMs on one tracker — no double-apply, loser refused or " +
      "cleanly skipped, final state has each migration applied once") {
    val mig = raceMigrations()
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-race-tracker").toString
    val wh = java.nio.file.Files
      .createTempDirectory("graft-race-wh").toString
    val env = Map("GRAFT_WAREHOUSE" -> wh)
    val pa = graftStart(env, "apply", mig, tracker)
    val pb = graftStart(env, "apply", mig, tracker)
    val (ca, oa) = drain(pa)
    val (cb, ob) = drain(pb)
    val results = Seq((ca, oa), (cb, ob))
    // exactly one process did the work
    val winners = results.filter { case (c, o) =>
      c == 0 && o.contains("applied 2, skipped 0") }
    assert(winners.size == 1,
      s"expected exactly one winner\nA($ca):\n$oa\nB($cb):\n$ob")
    // the other either lost the lock (exit 1 + the reference's
    // ErrLockNotAcquired analogue) or arrived after release and
    // skipped everything via checksum idempotency — NEVER re-applied
    val loser = results.find { case (c, o) =>
      !(c == 0 && o.contains("applied 2, skipped 0")) }.get
    assert(
      (loser._1 == 1 &&
        loser._2.contains("migration lock is held by another process")) ||
      (loser._1 == 0 && loser._2.contains("applied 0, skipped 2")),
      s"loser neither refused nor skipped (${loser._1}):\n${loser._2}")
    // final tracker state: both versions applied exactly once
    val (sc, sout) = graft("status", mig, tracker, "--format", "json")
    assert(sc == 0, sout)
    assert(sout.contains("\"pending\":[]"), sout)
    assert("\"version\":\"001\"".r.findAllIn(sout).size == 1 &&
      "\"version\":\"002\"".r.findAllIn(sout).size == 1, sout)
  }

  test("cross-process race, JDBC mode (embedded Derby): two concurrent " +
      "`graft apply --jdbc-url` JVMs — single writer wins, no " +
      "double-apply, reapply is a full skip") {
    // Embedded Derby enforces single-PROCESS boot of a database
    // directory, so cross-JVM exclusion in this mode is belt-and-
    // braces: the loser fails at connect (Derby's boot lock) or at
    // JdbcLock.acquire (the lock-table fallback, when connections
    // share a JVM — ExecutorSpec's matrix). A server database (PG)
    // would exercise pg_try_advisory_lock across hosts — that SQL's
    // contract is pinned in ExecutorSpec/TrackerSpec; no PG server
    // exists in this sandbox.
    val mig = raceMigrations()
    val tracker = java.nio.file.Files
      .createTempDirectory("graft-jrace-tracker").toString
    val db = java.nio.file.Files
      .createTempDirectory("graft-jrace-db").resolve("db")
    // pre-create the database HERE and release it (shutdown=true), so
    // the children race the BOOT of an existing db — racing create=true
    // itself can fail both sides (directory creation is not atomic)
    java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
      .close()
    try java.sql.DriverManager
      .getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () } // shutdown always throws
    val url = s"jdbc:derby:$db"
    val pa = graftStart(Map.empty, "apply", mig, tracker,
      "--jdbc-url", url)
    val pb = graftStart(Map.empty, "apply", mig, tracker,
      "--jdbc-url", url)
    val (ca, oa) = drain(pa)
    val (cb, ob) = drain(pb)
    val results = Seq((ca, oa), (cb, ob))
    val winners = results.filter { case (c, o) =>
      c == 0 && o.contains("applied 2, skipped 0") }
    assert(winners.size == 1,
      s"expected exactly one winner\nA($ca):\n$oa\nB($cb):\n$ob")
    val loser = results.find { case (c, o) =>
      !(c == 0 && o.contains("applied 2, skipped 0")) }.get
    assert(loser._1 == 1 ||
      (loser._1 == 0 && loser._2.contains("applied 0, skipped 2")),
      s"loser neither errored nor skipped (${loser._1}):\n${loser._2}")
    // winner's state intact: a third apply skips everything (and the
    // tables really exist in Derby — re-creating them would fail)
    val (c3, o3) = graft("apply", mig, tracker, "--jdbc-url", url)
    assert(c3 == 0 && o3.contains("applied 0, skipped 2"), o3)
  }
}
