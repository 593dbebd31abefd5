package graft.cli

import graft.analyzer.Analyzer
import graft.loader.MigrationLoader
import graft.model.{EngineConfig, Severity}
import java.nio.file.Paths

/** `analyze` command — the reference CLI's primary entry point
  * (`internal/cli/analyze.go:14-68`): load a migrations directory, sort
  * by version, run the rule analyzer, print severity-ranked findings
  * in the config's format (text, json, github-actions or sarif).
  */
object AnalyzeMain {
  /** RFC 8259-complete JSON string escape, shared by the json and
    * sarif emitters: quote, backslash, and EVERY control char below
    * 0x20 (a \r or \t riding in from a migration's SQL text or a
    * quoted identifier must not ship a malformed document — strict
    * parsers reject raw control chars in strings).
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def run(c: GraftMain.Analyze, cfg: EngineConfig, verbose: Boolean): Unit = {
    val GraftMain.Analyze(dir, failOnHigh) = c
    val pgVersion = cfg.targetPgVersion
    val format = cfg.format
    // Color when writing to a terminal; NO_COLOR always wins,
    // FORCE_COLOR forces (for piped/test runs).
    val useColor = !sys.env.contains("NO_COLOR") &&
      (System.console() != null || sys.env.contains("FORCE_COLOR"))
    if (verbose) {
      println(s"config: migrationsDir=$dir targetPgVersion=$pgVersion " +
        s"format=$format failOnHigh=$failOnHigh")
      if (cfg.databaseUrl.nonEmpty)
        println(s"config: databaseUrl=${EngineConfig.redactUrl(cfg.databaseUrl)}")
    }
    // no session: the migration set is tens of rows, loaded and
    // analyzed on the driver
    val migrations = MigrationLoader.loadLocal(dir)
    val results =
      new Analyzer(targetPgVersion = pgVersion).analyzeAll(migrations)
    // file locations as `file:///…` URIs (SARIF's artifactLocation
    // is a URI; the github-actions annotations carry the same form)
    val pathOf = migrations.map(m =>
      m.version -> Paths.get(m.filePath).toUri.toString).toMap
    format match {
      case "json" =>
        def q(s: String) = jsonEscape(s)
        val rows = results.map { r =>
          val fs = r.findings.map { f =>
            s"""{"rule":${q(f.rule)},"severity":${q(Severity.label(f.severity))},"table":${q(f.table)},"message":${q(f.message)},"suggestion":${q(f.suggestion)},"lock_type":${q(f.lockType)},"stmt_index":${f.stmtIndex}}"""
          }.mkString("[", ",", "]")
          s"""{"version":${q(r.version)},"name":${q(r.name)},"max_severity":${q(Severity.label(r.maxSeverity))},"findings":$fs}"""
        }.mkString("[", ",", "]")
        println(rows)
      case "github-actions" =>
        // GitHub Actions workflow-command annotations — the reference
        // registers this format value (internal/cli/analyze.go:24) but
        // only implements text; emitting real `::error file=...` lines
        // makes CI annotate the offending migration file. Severity map:
        // HIGH/CRITICAL → error, MEDIUM → warning, LOW → notice; SAFE
        // migrations emit nothing.
        // workflow-command escaping: % CR LF always; property values
        // additionally escape : and ,
        def escData(s: String) = s.replace("%", "%25")
          .replace("\r", "%0D").replace("\n", "%0A")
        def escProp(s: String) = escData(s)
          .replace(":", "%3A").replace(",", "%2C")
        results.foreach { r =>
          r.findings.foreach { f =>
            val cmd =
              if (f.severity >= Severity.High) "error"
              else if (f.severity == Severity.Medium) "warning"
              else "notice"
            val file = pathOf.getOrElse(r.version, r.version)
            println(s"::$cmd file=${escProp(file)}," +
              s"title=${escProp(s"${f.rule} (${Severity.label(f.severity)})")}::" +
              escData(s"${f.message} -> ${f.suggestion}"))
          }
        }
      case "sarif" =>
        // SARIF 2.1.0 — the OASIS static-analysis interchange format
        // (one `run`, rule metadata from the live Registry, one
        // `result` per finding; severity map: HIGH/CRITICAL → error,
        // MEDIUM → warning, LOW → note). GitHub code scanning,
        // VS Code SARIF viewers, and policy engines ingest this
        // directly — the modern sibling of the reference's
        // github-actions format value.
        def q(s: String) = jsonEscape(s)
        val ruleIds = graft.rules.Registry.defaultRules.map(_.id) ++
          graft.rules.Registry.defaultFileRules.map(_.id)
        val rules = ruleIds.map(id =>
          s"""{"id":${q(id)},"shortDescription":{"text":${q(id)}}}""")
          .mkString("[", ",", "]")
        val sarifResults = results.flatMap { r =>
          r.findings.map { f =>
            val level =
              if (f.severity >= Severity.High) "error"
              else if (f.severity == Severity.Medium) "warning"
              else "note"
            val uri = pathOf.getOrElse(r.version, r.version)
            s"""{"ruleId":${q(f.rule)},"level":${q(level)},""" +
              s""""message":{"text":${
                q(s"${f.message} -> ${f.suggestion}")}},""" +
              s""""locations":[{"physicalLocation":{""" +
              s""""artifactLocation":{"uri":${q(uri)}}}}],""" +
              s""""properties":{"table":${q(f.table)},""" +
              s""""lock_type":${q(f.lockType)},""" +
              s""""stmt_index":${f.stmtIndex},""" +
              s""""severity":${q(Severity.label(f.severity))}}}"""
          }
        }.mkString("[", ",", "]")
        println(
          s"""{"$$schema":"https://raw.githubusercontent.com/oasis-tcs/sarif-spec/master/Schemata/sarif-schema-2.1.0.json","version":"2.1.0","runs":[{"tool":{"driver":{"name":"graft","informationUri":"","rules":$rules}},"results":$sarifResults}]}""")
      case "text" =>
        println(s"Analyzed ${results.length} migration(s) (target PostgreSQL $pgVersion)\n")
        results.foreach { r =>
          val marker = r.maxSeverity match {
            case s if s >= Severity.High => "!!"
            case Severity.Medium => " !"
            case _ => "ok"
          }
          println(s"[$marker] ${r.version} ${r.name} — ${
            Severity.coloredLabel(r.maxSeverity, useColor)}")
          r.findings.foreach { f =>
            println(s"     ${Severity.coloredLabel(f.severity, useColor)} [${f.rule}] table=${f.table} lock=${f.lockType}")
            println(s"       ${f.message}")
            println(s"       -> ${f.suggestion}")
          }
        }
        val nFindings = results.map(_.findings.length).sum
        println(s"\n${results.count(_.maxSeverity >= Severity.High)} dangerous migration(s), $nFindings finding(s) total")
      case other =>
        throw new IllegalArgumentException(s"invalid value for format: $other")
    }
    if (failOnHigh && results.exists(_.hasHighOrCritical)) sys.exit(1)
  }
}
