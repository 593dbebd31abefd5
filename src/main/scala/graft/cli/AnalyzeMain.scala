package graft.cli

import graft.Json
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
        println(Json.arr(results.map { r =>
          Json.obj("version" -> r.version, "name" -> r.name,
            "max_severity" -> Severity.label(r.maxSeverity),
            "findings" -> r.findings.map { f =>
              Json.obj("rule" -> f.rule,
                "severity" -> Severity.label(f.severity), "table" -> f.table,
                "message" -> f.message, "suggestion" -> f.suggestion,
                "lock_type" -> f.lockType, "stmt_index" -> f.stmtIndex)
            })
        }))
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
        val ruleIds = graft.rules.Registry.defaultRules.map(_.id) ++
          graft.rules.Registry.defaultFileRules.map(_.id)
        val rules = ruleIds.map(id =>
          Json.obj("id" -> id, "shortDescription" -> Json.obj("text" -> id)))
        val sarifResults = results.flatMap { r =>
          r.findings.map { f =>
            val level =
              if (f.severity >= Severity.High) "error"
              else if (f.severity == Severity.Medium) "warning"
              else "note"
            val uri = pathOf.getOrElse(r.version, r.version)
            Json.obj("ruleId" -> f.rule, "level" -> level,
              "message" -> Json.obj("text" -> s"${f.message} -> ${f.suggestion}"),
              "locations" -> Seq(Json.obj("physicalLocation" ->
                Json.obj("artifactLocation" -> Json.obj("uri" -> uri)))),
              "properties" -> Json.obj("table" -> f.table,
                "lock_type" -> f.lockType, "stmt_index" -> f.stmtIndex,
                "severity" -> Severity.label(f.severity)))
          }
        }
        println(Json.obj(
          "$schema" -> "https://raw.githubusercontent.com/oasis-tcs/sarif-spec/master/Schemata/sarif-schema-2.1.0.json",
          "version" -> "2.1.0",
          "runs" -> Seq(Json.obj(
            "tool" -> Json.obj("driver" -> Json.obj("name" -> "graft",
              "informationUri" -> "", "rules" -> rules)),
            "results" -> sarifResults))))
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
