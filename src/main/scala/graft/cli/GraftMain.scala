package graft.cli

import graft.config.ConfigLoader
import graft.model.EngineConfig
import scala.collection.immutable.ArraySeq
import scala.util.Try

/** The `graft` command line: one entry point for the six commands,
  * shaped like the reference's Cobra root (`internal/cli/root.go:18-74`):
  * persistent flags anywhere in argv, the config loaded once with
  * flag > `MIGRATE_*` env > file > default precedence, and every command
  * reading that one [[EngineConfig]].
  *
  * [[parse]] turns argv into a typed [[Invocation]], or a usage error
  * (exit 2); [[main]] runs it inside [[CliSpark.run]], so a config error
  * and a command failure are both one `error:` line and exit 1.
  *
  * A command's positional arguments come right after it, its flags after
  * them. A missing first positional is filled from `--migrations-dir` (or
  * the config's `migrations_dir`). `--jdbc-url` is apply's and rollback's
  * spelling of `--database-url`, and wins over it.
  */
object GraftMain {

  val Version = "0.1.0"

  val usageText: String =
    """usage: graft [--config PATH] [--database-url URL]
      |             [--migrations-dir DIR] [--verbose] [--version] [--help]
      |             <command> [args]
      |
      |commands:
      |  analyze  <migrationsDir> [--pg-version N] [--fail-on-high]
      |           [--format text|json|github-actions|sarif]
      |  apply    <migrationsDir> <trackerDir> [--dry-run] [--force] [--pg-version N]
      |           [--jdbc-url URL] [--lock-timeout D] [--statement-timeout D]   (D like 10s, 1m, 250ms)
      |  rollback <migrationsDir> <trackerDir> (--steps N | --target V) [--jdbc-url URL]
      |  plan     <migrationsDir> <trackerDir> [--pg-version N] [--pending-only] [--stats-dir DIR]
      |  status   <migrationsDir> <trackerDir> [--format text|json]
      |  stats    <dataDir> <trackerDir> [--tables t1,t2,...]""".stripMargin

  /** A command with its typed arguments; everything else it reads comes
    * from the resolved config.
    */
  sealed trait Command
  final case class Analyze(dir: String, failOnHigh: Boolean) extends Command
  final case class Apply(dir: String, trackerDir: String, dryRun: Boolean,
      force: Boolean) extends Command
  /** Exactly one of `steps` and `target` is set. */
  final case class Rollback(dir: String, trackerDir: String,
      steps: Option[Int], target: Option[String]) extends Command
  final case class Plan(dir: String, trackerDir: String, pendingOnly: Boolean,
      statsDir: String) extends Command
  final case class Status(dir: String, trackerDir: String, format: String)
      extends Command
  final case class Stats(dataDir: String, trackerDir: String,
      tables: Option[Seq[String]]) extends Command

  sealed trait Parsed
  /** `--version` / `--help`: print `text` and exit 0. */
  final case class Info(text: String) extends Parsed
  final case class Invocation(command: Command, verbose: Boolean,
      config: EngineConfig) extends Parsed

  /** The flags a command line accepts: those that take a value, and
    * switches.
    */
  private final case class Flags(valued: Seq[String], switches: Seq[String])

  /** Flags accepted anywhere in argv, besides `--version` and `--help`. */
  private val rootFlags = Flags(
    Seq("--config", "--database-url", "--migrations-dir"), Seq("--verbose"))

  /** A command's positional argument count and flags. */
  private def spec(name: String): Option[(Int, Flags)] = name match {
    case "analyze" => Some((1, Flags(Seq("--pg-version", "--format"),
      Seq("--fail-on-high"))))
    case "apply" => Some((2, Flags(Seq("--pg-version", "--jdbc-url",
      "--lock-timeout", "--statement-timeout"), Seq("--dry-run", "--force"))))
    case "rollback" =>
      Some((2, Flags(Seq("--steps", "--target", "--jdbc-url"), Seq.empty)))
    case "plan" => Some((2, Flags(Seq("--pg-version", "--stats-dir"),
      Seq("--pending-only"))))
    case "status" => Some((2, Flags(Seq("--format"), Seq.empty)))
    case "stats" => Some((2, Flags(Seq("--tables"), Seq.empty)))
    case _ => None
  }

  private def formats(name: String): Seq[String] =
    if (name == "analyze") Seq("text", "json", "github-actions", "sarif")
    else Seq("text", "json")

  def main(args: Array[String]): Unit =
    CliSpark.run("graft") { session =>
      parse(ArraySeq.unsafeWrapArray(args), sys.env) match {
        case Left(error) => System.err.println(error); sys.exit(2)
        case Right(Info(text)) => println(text)
        case Right(Invocation(command, verbose, cfg)) => command match {
          case c: Analyze => AnalyzeMain.run(c, cfg, verbose)
          case c: Apply => ApplyMain.run(c, cfg, verbose, session)
          case c: Rollback => RollbackMain.run(c, cfg, verbose, session)
          case c: Plan => PlanMain.run(c, cfg, session)
          case c: Status => StatusMain.run(c, session)
          case c: Stats => StatsMain.run(c, session)
        }
      }
    }

  /** Argv to what `graft` should do, or a usage error. Reads the config
    * file (a missing or malformed one throws); starts nothing and never
    * exits. `env` is read only to resolve a command's config, so
    * `--version` and `--help` stay at the JVM's cold-start floor.
    */
  def parse(args: Seq[String], env: => Map[String, String]): Either[String, Parsed] =
    if (args.contains("--version")) Right(Info(s"graft $Version"))
    else if (args.contains("--help") || args.contains("-h")) Right(Info(usageText))
    else try Right(invocation(args, env))
    catch { case e: UsageError => Left(e.getMessage) }

  private final class UsageError(msg: String) extends Exception(msg)

  private def usage(msg: String): Nothing = throw new UsageError(msg)

  private def invocation(args: Seq[String],
      env: => Map[String, String]): Invocation = {
    val (root, words) = scan(args, rootFlags)
    if (words.isEmpty) usage(usageText)
    val name = words.head
    val (arity, known) = spec(name)
      .getOrElse(usage(s"graft: unknown command '$name' (see graft --help)"))
    val (positional, flagArgs) = words.tail.span(!_.startsWith("--"))
    val (flags, unknown) = scan(flagArgs, known)
    if (unknown.nonEmpty) usage(s"unknown flag: ${unknown.head}")

    // `flag`'s value converted by `f`, if given; a value `f` rejects is
    // a usage error
    def typed[T](flag: String)(f: String => Option[T]): Option[T] =
      flags.get(flag).map(v => f(v).getOrElse(usage(s"invalid value for $flag: $v")))
    val pgVersion = typed("--pg-version")(_.toIntOption)
    val lockTimeout = typed("--lock-timeout")(durationMs)
    val statementTimeout = typed("--statement-timeout")(durationMs)
    val steps = typed("--steps")(_.toIntOption.filter(_ >= 0))
    val format = typed("--format")(Some(_).filter(formats(name).contains))
    if (name == "rollback" && steps.isDefined == flags.contains("--target"))
      usage("graft rollback: exactly one of --steps N or --target V is required")

    val cfg = ConfigLoader.load(root.getOrElse("--config", "migrate.yml"),
      allowMissing = !root.contains("--config"), env = env,
      flags = ConfigLoader.Overrides(
        databaseUrl = flags.get("--jdbc-url").orElse(root.get("--database-url")),
        migrationsDir = root.get("--migrations-dir"),
        lockTimeoutMs = lockTimeout, statementTimeoutMs = statementTimeout,
        targetPgVersion = pgVersion,
        // status's --format is its own; the config's is analyze's
        format = if (name == "analyze") format else None))
    val dirs =
      if (positional.length < arity && cfg.migrationsDir.nonEmpty)
        cfg.migrationsDir +: positional
      else positional
    if (dirs.length != arity)
      usage(s"graft $name: expected $arity positional argument(s) " +
        s"(or --migrations-dir/config), got ${dirs.length}")

    val command = name match {
      case "analyze" => Analyze(dirs(0), flags.contains("--fail-on-high"))
      case "apply" => Apply(dirs(0), dirs(1), flags.contains("--dry-run"),
        flags.contains("--force"))
      case "rollback" => Rollback(dirs(0), dirs(1), steps, flags.get("--target"))
      case "plan" => Plan(dirs(0), dirs(1), flags.contains("--pending-only"),
        flags.getOrElse("--stats-dir", ""))
      case "status" => Status(dirs(0), dirs(1), format.getOrElse("text"))
      case "stats" => Stats(dirs(0), dirs(1), flags.get("--tables")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))
    }
    Invocation(command, root.contains("--verbose"), cfg)
  }

  /** Splits `args` into the `known` flags (a switch maps to "", a
    * repeated flag keeps its last value) and the other words; a flag
    * given without its value is a usage error.
    */
  private def scan(args: Seq[String], known: Flags)
      : (Map[String, String], Vector[String]) = {
    var flags = Map.empty[String, String]
    val words = Vector.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (known.valued.contains(a)) {
        if (i + 1 >= args.length) usage(s"$a requires a value")
        flags += a -> args(i + 1); i += 2
      } else if (known.switches.contains(a)) { flags += a -> ""; i += 1 }
      else { words += a; i += 1 }
    }
    (flags, words.result())
  }

  private def durationMs(v: String): Option[Long] =
    Try(ConfigLoader.parseDurationMs(v)).toOption
}
