package graft

import graft.cli.GraftMain
import graft.cli.GraftMain._
import graft.model.EngineConfig
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** In-process table tests for the `graft` front end: argv (and an
  * injected environment) to the typed invocation, with no JVM fork and
  * no Spark. The cross-process behaviour lives in CliRootSpec.
  */
class CliParseSpec extends AnyFunSuite {

  private def cfgFile(content: String): String = {
    val f = Files.createTempFile("graft-parse", ".yml")
    Files.writeString(f, content)
    f.toString
  }

  private def parse(args: String*): Either[String, Parsed] =
    GraftMain.parse(args, Map.empty)

  private def invocation(env: Map[String, String], args: String*): Invocation =
    GraftMain.parse(args, env) match {
      case Right(i: Invocation) => i
      case other => fail(s"${args.mkString(" ")} parsed to $other")
    }

  private def run(args: String*): Invocation = invocation(Map.empty, args: _*)

  test("persistent flags parse before and after the command, and between " +
      "its positionals") {
    val cfg = cfgFile("target_pg_version: 11\n")
    val rows = Seq(
      Seq("--verbose", "analyze", "D") -> Invocation(
        Analyze("D", false), true, EngineConfig()),
      Seq("analyze", "D", "--verbose", "--fail-on-high") -> Invocation(
        Analyze("D", true), true, EngineConfig()),
      Seq("analyze", "--verbose", "D") -> Invocation(
        Analyze("D", false), true, EngineConfig()),
      Seq("--database-url", "jdbc:derby:x", "apply", "D", "T") -> Invocation(
        Apply("D", "T", false, false), false,
        EngineConfig(databaseUrl = "jdbc:derby:x")),
      Seq("apply", "D", "T", "--force", "--database-url", "jdbc:derby:x") ->
        Invocation(Apply("D", "T", false, true), false,
          EngineConfig(databaseUrl = "jdbc:derby:x")),
      Seq("--config", cfg, "plan", "D", "T") -> Invocation(
        Plan("D", "T", false, ""), false, EngineConfig(targetPgVersion = 11)),
      Seq("plan", "D", "T", "--pending-only", "--config", cfg, "--stats-dir",
        "S") -> Invocation(Plan("D", "T", true, "S"), false,
        EngineConfig(targetPgVersion = 11)),
      Seq("status", "D", "T", "--format", "json", "--verbose") -> Invocation(
        Status("D", "T", "json"), true, EngineConfig()),
      Seq("stats", "D", "T", "--tables", "a, b,,c") -> Invocation(
        Stats("D", "T", Some(Seq("a", "b", "c"))), false, EngineConfig()))
    for ((args, want) <- rows)
      assert(run(args: _*) == want, args.mkString(" "))
  }

  test("--migrations-dir, MIGRATE_MIGRATIONS_DIR or migrations_dir fills a " +
      "missing first positional; a given one wins") {
    val cfg = cfgFile("migrations_dir: F\n")
    val env = Map("MIGRATE_MIGRATIONS_DIR" -> "E")
    val rows = Seq(
      (Map.empty[String, String], Seq("--migrations-dir", "M", "status", "T"),
        Status("M", "T", "text")),
      (env, Seq("status", "T", "--migrations-dir", "M"),
        Status("M", "T", "text")),
      (env, Seq("status", "T"), Status("E", "T", "text")),
      (Map.empty[String, String], Seq("--config", cfg, "analyze"),
        Analyze("F", false)),
      (env, Seq("--config", cfg, "rollback", "T", "--target", "V"),
        Rollback("E", "T", None, Some("V"))),
      (env, Seq("--migrations-dir", "M", "apply", "D", "T"),
        Apply("D", "T", false, false)))
    for ((e, args, want) <- rows)
      assert(invocation(e, args: _*).command == want, args.mkString(" "))
  }

  test("config precedence: flag > MIGRATE_* env > file > default") {
    val cfg = cfgFile("target_pg_version: 12\nlock_timeout: 10s\n" +
      "statement_timeout: 40s\nformat: json\ndatabase_url: jdbc:file\n")
    val env = Map("MIGRATE_TARGET_PG_VERSION" -> "13",
      "MIGRATE_LOCK_TIMEOUT" -> "20s", "MIGRATE_FORMAT" -> "sarif",
      "MIGRATE_DATABASE_URL" -> "jdbc:env")
    val apply = Seq("apply", "D", "T")
    val rows = Seq(
      (Map.empty[String, String], apply, EngineConfig()),
      (Map.empty[String, String], Seq("--config", cfg) ++ apply,
        EngineConfig("jdbc:file", "", 10000L, 40000L, 12, "json")),
      (env, Seq("--config", cfg) ++ apply,
        EngineConfig("jdbc:env", "", 20000L, 40000L, 13, "sarif")),
      (env, Seq("--config", cfg, "--database-url", "jdbc:root") ++ apply ++
        Seq("--pg-version", "15", "--lock-timeout", "7s",
          "--statement-timeout", "250ms"),
        EngineConfig("jdbc:root", "", 7000L, 250L, 15, "sarif")),
      // --jdbc-url is the command's spelling and wins over --database-url
      (env, Seq("--database-url", "jdbc:root") ++ apply ++
        Seq("--jdbc-url", "jdbc:cmd"),
        EngineConfig("jdbc:cmd", "", 20000L, 30000L, 13, "sarif")),
      (env, Seq("--config", cfg, "analyze", "D", "--format", "text"),
        EngineConfig("jdbc:env", "", 20000L, 40000L, 13, "text")),
      // status's --format is its own: the config's format is untouched
      (env, Seq("status", "D", "T", "--format", "json"),
        EngineConfig("jdbc:env", "", 20000L, 30000L, 13, "sarif")))
    for ((e, args, want) <- rows)
      assert(invocation(e, args: _*).config == want, args.mkString(" "))
  }

  test("--verbose and the config's timeouts reach rollback") {
    val cfg = cfgFile("lock_timeout: 30s\nstatement_timeout: 45s\n")
    val rows = Seq(
      (Map.empty[String, String],
        Seq("--config", cfg, "--verbose", "rollback", "D", "T", "--steps", "1"),
        30000L, 45000L),
      (Map.empty[String, String],
        Seq("rollback", "D", "T", "--steps", "1", "--verbose", "--config", cfg),
        30000L, 45000L),
      (Map("MIGRATE_LOCK_TIMEOUT" -> "2m", "MIGRATE_STATEMENT_TIMEOUT" -> "9s"),
        Seq("--verbose", "rollback", "D", "T", "--steps", "1"),
        120000L, 9000L))
    for ((e, args, lockMs, stmtMs) <- rows) {
      val inv = invocation(e, args: _*)
      assert(inv.command == Rollback("D", "T", Some(1), None))
      assert(inv.verbose, args.mkString(" "))
      assert(inv.config.lockTimeoutMs == lockMs &&
        inv.config.statementTimeoutMs == stmtMs, args.mkString(" "))
    }
  }

  test("rollback takes exactly one of --steps and --target") {
    assert(run("rollback", "D", "T", "--steps", "0").command ==
      Rollback("D", "T", Some(0), None))
    assert(run("rollback", "D", "T", "--target", "V3").command ==
      Rollback("D", "T", None, Some("V3")))
    for (args <- Seq(Seq("rollback", "D", "T"),
        Seq("rollback", "D", "T", "--steps", "1", "--target", "V3")))
      assert(parse(args: _*) == Left("graft rollback: exactly one of " +
        "--steps N or --target V is required"), args.mkString(" "))
  }

  test("a malformed flag value is one usage-error line naming the flag") {
    val rows = Seq(
      Seq("analyze", "D", "--pg-version", "abc") -> "--pg-version abc",
      Seq("apply", "D", "T", "--pg-version", "1.5") -> "--pg-version 1.5",
      Seq("apply", "D", "T", "--lock-timeout", "10x") -> "--lock-timeout 10x",
      Seq("apply", "D", "T", "--statement-timeout", "s") ->
        "--statement-timeout s",
      Seq("rollback", "D", "T", "--steps", "x") -> "--steps x",
      Seq("rollback", "D", "T", "--steps", "-1") -> "--steps -1",
      Seq("analyze", "D", "--format", "xml") -> "--format xml",
      Seq("status", "D", "T", "--format", "sarif") -> "--format sarif")
    for ((args, flagValue) <- rows) {
      val Array(flag, v) = flagValue.split(' ')
      assert(parse(args: _*) == Left(s"invalid value for $flag: $v"),
        args.mkString(" "))
    }
  }

  test("unknown flags are per command; missing values, positionals and " +
      "commands are usage errors") {
    val rows = Seq(
      Seq("analyze", "D", "--force") -> "unknown flag: --force",
      Seq("analyze", "D", "--jdbc-url", "U") -> "unknown flag: --jdbc-url",
      Seq("rollback", "D", "T", "--steps", "1", "--lock-timeout", "1s") ->
        "unknown flag: --lock-timeout",
      Seq("plan", "D", "T", "--format", "json") -> "unknown flag: --format",
      Seq("status", "D", "T", "--pending-only") ->
        "unknown flag: --pending-only",
      Seq("stats", "D", "T", "--pg-version", "12") ->
        "unknown flag: --pg-version",
      Seq("apply", "D", "T", "--force", "extra") -> "unknown flag: extra",
      Seq("apply", "D", "T", "--lock-timeout") ->
        "--lock-timeout requires a value",
      Seq("status", "D", "T", "--config") -> "--config requires a value",
      Seq("apply", "D") -> ("graft apply: expected 2 positional argument(s) " +
        "(or --migrations-dir/config), got 1"),
      Seq("analyze", "D", "E") -> ("graft analyze: expected 1 positional " +
        "argument(s) (or --migrations-dir/config), got 2"),
      Seq("frobnicate") -> "graft: unknown command 'frobnicate' (see graft --help)",
      Seq("--verbose") -> usageText)
    for ((args, want) <- rows)
      assert(parse(args: _*) == Left(want), args.mkString(" "))
  }

  test("--version and --help win anywhere and load no config") {
    val missing = "/nonexistent/graft.yml"
    assert(parse("--config", missing, "apply", "--version") ==
      Right(Info(s"graft $Version")))
    assert(parse("status", "-h", "--config", missing) == Right(Info(usageText)))
    assert(parse("--help") == Right(Info(usageText)))
  }

  test("a malformed config or MIGRATE_* value, or a missing --config file, " +
      "throws one message naming its source") {
    val bad = cfgFile("lock_timeout: 5x\n")
    val rows = Seq(
      (Map("MIGRATE_TARGET_PG_VERSION" -> "abc"), Seq("analyze", "D"),
        "invalid value for MIGRATE_TARGET_PG_VERSION: abc"),
      (Map("MIGRATE_STATEMENT_TIMEOUT" -> "1h"), Seq("status", "D", "T"),
        "invalid value for MIGRATE_STATEMENT_TIMEOUT: 1h"),
      (Map.empty[String, String], Seq("--config", bad, "rollback", "D", "T",
        "--steps", "1"), s"invalid value for lock_timeout in $bad: 5x"),
      (Map.empty[String, String], Seq("--config", "/nonexistent/graft.yml",
        "analyze", "D"), "config file not found: /nonexistent/graft.yml"))
    for ((env, args, want) <- rows) {
      val e = intercept[Exception](GraftMain.parse(args, env))
      assert(e.getMessage == want, args.mkString(" "))
    }
  }

  test("the usage text lists every accepted command, flag and format") {
    for (word <- Seq("--config", "--database-url", "--migrations-dir",
        "--verbose", "--version", "--help", "analyze", "apply", "rollback",
        "plan", "status", "stats", "--pg-version", "--fail-on-high",
        "--format", "text|json|github-actions|sarif", "--dry-run", "--force",
        "--jdbc-url", "--lock-timeout", "--statement-timeout", "--steps",
        "--target", "--pending-only", "--stats-dir", "--tables"))
      assert(usageText.contains(word), word)
  }
}
