package graft.config

import graft.model.EngineConfig
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Engine configuration loading with the reference's precedence chain:
  * CLI flag > environment (`MIGRATE_*`) > config file > default
  * (`internal/config/config.go:53-133`, `internal/cli/root.go:47-74`).
  *
  * The file format is the flat `key: value` subset of YAML the
  * reference uses (no external YAML dependency — the build is
  * zero-egress); comments (#) and blank lines are ignored. A missing
  * file with `allowMissing=true` yields defaults, mirroring
  * `config.Load(path, allowMissing)`.
  */
object ConfigLoader {

  final case class Overrides(
      databaseUrl: Option[String] = None,
      migrationsDir: Option[String] = None,
      lockTimeoutMs: Option[Long] = None,
      statementTimeoutMs: Option[Long] = None,
      targetPgVersion: Option[Int] = None,
      format: Option[String] = None)

  def load(path: String, allowMissing: Boolean = true,
      env: Map[String, String] = sys.env,
      flags: Overrides = Overrides()): EngineConfig = {
    val fromFile = loadFile(path, allowMissing)
    val withEnv = mergeEnv(fromFile, env)
    mergeFlags(withEnv, flags)
  }

  def loadFile(path: String, allowMissing: Boolean): EngineConfig = {
    val p = Paths.get(path)
    if (!Files.exists(p)) {
      if (allowMissing) return EngineConfig()
      throw new java.io.FileNotFoundException(s"config file not found: $path")
    }
    val kv = Files.readAllLines(p).asScala
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains(":"))
      .map { l =>
        val idx = l.indexOf(':')
        (l.substring(0, idx).trim,
          stripQuotes(l.substring(idx + 1).trim))
      }.toMap
    EngineConfig(
      databaseUrl = kv.getOrElse("database_url", ""),
      migrationsDir = kv.getOrElse("migrations_dir", ""),
      lockTimeoutMs = kv.get("lock_timeout")
        .map(parsed(s"lock_timeout in $path", _)(parseDurationMs))
        .getOrElse(EngineConfig().lockTimeoutMs),
      statementTimeoutMs = kv.get("statement_timeout")
        .map(parsed(s"statement_timeout in $path", _)(parseDurationMs))
        .getOrElse(EngineConfig().statementTimeoutMs),
      targetPgVersion = kv.get("target_pg_version")
        .map(parsed(s"target_pg_version in $path", _)(_.toInt))
        .getOrElse(EngineConfig().targetPgVersion),
      format = kv.getOrElse("format", "text"))
  }

  /** `MIGRATE_DATABASE_URL`, `MIGRATE_MIGRATIONS_DIR`,
    * `MIGRATE_LOCK_TIMEOUT`, `MIGRATE_STATEMENT_TIMEOUT`,
    * `MIGRATE_TARGET_PG_VERSION`, `MIGRATE_FORMAT`.
    */
  def mergeEnv(cfg: EngineConfig, env: Map[String, String]): EngineConfig =
    cfg.copy(
      databaseUrl = env.getOrElse("MIGRATE_DATABASE_URL", cfg.databaseUrl),
      migrationsDir = env.getOrElse("MIGRATE_MIGRATIONS_DIR", cfg.migrationsDir),
      lockTimeoutMs = env.get("MIGRATE_LOCK_TIMEOUT")
        .map(parsed("MIGRATE_LOCK_TIMEOUT", _)(parseDurationMs))
        .getOrElse(cfg.lockTimeoutMs),
      statementTimeoutMs = env.get("MIGRATE_STATEMENT_TIMEOUT")
        .map(parsed("MIGRATE_STATEMENT_TIMEOUT", _)(parseDurationMs))
        .getOrElse(cfg.statementTimeoutMs),
      targetPgVersion = env.get("MIGRATE_TARGET_PG_VERSION")
        .map(parsed("MIGRATE_TARGET_PG_VERSION", _)(_.toInt))
        .getOrElse(cfg.targetPgVersion),
      format = env.getOrElse("MIGRATE_FORMAT", cfg.format))

  def mergeFlags(cfg: EngineConfig, f: Overrides): EngineConfig =
    cfg.copy(
      databaseUrl = f.databaseUrl.getOrElse(cfg.databaseUrl),
      migrationsDir = f.migrationsDir.getOrElse(cfg.migrationsDir),
      lockTimeoutMs = f.lockTimeoutMs.getOrElse(cfg.lockTimeoutMs),
      statementTimeoutMs = f.statementTimeoutMs.getOrElse(cfg.statementTimeoutMs),
      targetPgVersion = f.targetPgVersion.getOrElse(cfg.targetPgVersion),
      format = f.format.getOrElse(cfg.format))

  /** "5s" → 5000, "30s" → 30000, "250ms" → 250, "2m" → 120000, bare
    * number → ms.
    */
  def parseDurationMs(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.endsWith("ms")) t.dropRight(2).trim.toLong
    else if (t.endsWith("s")) t.dropRight(1).trim.toLong * 1000
    else if (t.endsWith("m")) t.dropRight(1).trim.toLong * 60000
    else t.toLong
  }

  /** `f(v)`, or an error naming the setting a malformed `v` came from. */
  private def parsed[T](setting: String, v: String)(f: String => T): T =
    try f(v)
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid value for $setting: $v")
    }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 &&
        ((s.head == '"' && s.last == '"') ||
          (s.head == '\'' && s.last == '\''))) s.substring(1, s.length - 1)
    else s
}
