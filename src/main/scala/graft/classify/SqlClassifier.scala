package graft.classify

import graft.model.SqlParseError

/** Classified-statement ADT + classifier for the PostgreSQL-dialect DDL
  * shapes the analysis rules inspect.
  *
  * The reference uses the real PG parser (pg_query_go,
  * `internal/parser/parser.go:18-33`); Spark's Catalyst parser cannot
  * parse PG DDL (`VACUUM FULL`, `CREATE INDEX CONCURRENTLY`,
  * `LOCK TABLE`, `NOT VALID`, ...). Per SURVEY.md §7.3 we build a
  * *classifier*, not a grammar: one lexer that splits statements and
  * tokenizes them in a single pass under PostgreSQL's own lexical rules
  * (`standard_conforming_strings` on, so a backslash in `'…'` is
  * literal — see [[lex]]), plus a head-token matcher extracting exactly
  * the attributes the nine rules need. Anything unrecognized classifies as
  * [[OtherStmt]] — which every rule treats as safe, mirroring the
  * reference rules ignoring other AST node types
  * (e.g. `internal/analyzer/rules/rename.go:54`).
  *
  * Pure Scala (no Spark deps) so it can run driver-side or inside a
  * `Dataset.flatMap` unchanged.
  */
object SqlClassifier {

  /** `schema.table` or bare `table`; rendered like the reference's
    * `TableName` (`internal/analyzer/rules.go:48-58`).
    */
  final case class QualifiedName(schema: Option[String], name: String) {
    def render: String = schema.map(_ + ".").getOrElse("") + name
  }

  /** Default-expression shape for ADD COLUMN ... DEFAULT analysis
    * (reference `isVolatileDefault`,
    * `internal/analyzer/rules/alter_add_column.go:94-134`): constants and
    * casts-of-constants are non-volatile; function calls and anything
    * else are assumed volatile.
    */
  sealed trait DefaultExpr { def volatile: Boolean }
  case object ConstantDefault extends DefaultExpr { val volatile = false }
  case object CastConstantDefault extends DefaultExpr { val volatile = false }
  final case class VolatileDefault(text: String) extends DefaultExpr {
    val volatile = true
  }

  /** Column-generation clause on ADD COLUMN. Both server-computed forms
    * force a FULL table rewrite when the column is added to an existing
    * table (R21): STORED computes the expression for every row;
    * IDENTITY assigns a sequence value to every row (the PG 11
    * fast-default path covers constant defaults only). VIRTUAL
    * generated columns (PG 18+) are computed on read — metadata-only —
    * and classify with `generated = None`.
    */
  sealed trait GeneratedKind
  case object StoredGenerated extends GeneratedKind
  case object IdentityGenerated extends GeneratedKind
  /** GENERATED ALWAYS AS (expr) with NEITHER STORED nor VIRTUAL: the
    * default flipped across PG major versions (< 18: STORED is the
    * only legal spelling and the implied one; >= 18: the omitted
    * keyword means VIRTUAL, metadata-only). Classification is
    * version-independent, so the kind records the ambiguity and the
    * rule layer resolves it against the target version.
    */
  case object DefaultGenerated extends GeneratedKind

  sealed trait ConstraintKind
  case object CheckConstraint extends ConstraintKind
  case object ForeignKeyConstraint extends ConstraintKind
  case object UniqueConstraint extends ConstraintKind
  case object PrimaryKeyConstraint extends ConstraintKind
  case object OtherConstraint extends ConstraintKind

  /** One command inside ALTER TABLE (PG allows a comma-separated list). */
  sealed trait AlterCmd
  final case class AddColumn(column: String, typeName: String,
      default: Option[DefaultExpr], notNull: Boolean,
      generated: Option[GeneratedKind] = None) extends AlterCmd
  /** `DROP [COLUMN] [IF EXISTS] name [CASCADE|RESTRICT]` — metadata-
    * fast but irreversible, and it breaks running application versions
    * still reading the column (R22). `DROP CONSTRAINT` stays
    * [[OtherAlterCmd]] (safe).
    */
  final case class DropColumn(column: String) extends AlterCmd
  /** `usingIndex` = the `ADD CONSTRAINT … PRIMARY KEY/UNIQUE USING
    * INDEX idx` form, the safe second half of the
    * build-index-CONCURRENTLY-then-attach recipe (R15 skips it).
    */
  final case class AddConstraint(name: String, kind: ConstraintKind,
      notValid: Boolean, usingIndex: Boolean = false) extends AlterCmd
  final case class AlterColumnType(column: String, newType: String)
      extends AlterCmd
  final case class SetNotNull(column: String) extends AlterCmd
  final case class DropNotNull(column: String) extends AlterCmd
  /** `VALIDATE CONSTRAINT name` — the safe second half of R3's own
    * NOT VALID suggestion (SHARE UPDATE EXCLUSIVE scan; writes keep
    * flowing). Recognized explicitly so the recipe the analyzer
    * recommends classifies as what it is, not as an opaque command.
    */
  final case class ValidateConstraint(name: String) extends AlterCmd
  /** `ATTACH PARTITION part FOR VALUES …` — SHARE UPDATE EXCLUSIVE on
    * the parent plus a full validation scan of the attached table
    * unless a pre-existing CHECK constraint proves the bound (R17).
    */
  final case class AttachPartition(partition: String) extends AlterCmd
  /** `DETACH PARTITION part [CONCURRENTLY | FINALIZE]` — the
    * non-concurrent form takes ACCESS EXCLUSIVE on the partitioned
    * parent (R16); CONCURRENTLY (PG≥14) detaches without blocking.
    */
  final case class DetachPartition(partition: String,
      concurrent: Boolean) extends AlterCmd
  /** `SET TABLESPACE ts` / `SET LOGGED` / `SET UNLOGGED` — each is a
    * FULL table rewrite under ACCESS EXCLUSIVE (R20). `kind` is the
    * uppercased discriminator: TABLESPACE | LOGGED | UNLOGGED.
    */
  final case class SetTableStorage(kind: String) extends AlterCmd
  final case class OtherAlterCmd(text: String) extends AlterCmd

  sealed trait RenameKind
  case object RenameTable extends RenameKind
  case object RenameColumn extends RenameKind
  case object RenameIndex extends RenameKind
  case object RenameOther extends RenameKind

  /** A classified SQL statement. `sql` is the original statement text
    * (trimmed, no trailing semicolon).
    */
  sealed trait Stmt { def sql: String }
  /** `columns` carries the parsed (name, type) list of the column
    * definitions (table-level constraints skipped) — the surface the
    * column-type advisory rules (R25-R27) inspect. Type strings
    * preserve parameter parens and multi-word types
    * ("varchar(255)", "timestamp with time zone").
    */
  final case class CreateTableStmt(table: QualifiedName, sql: String,
      columns: Seq[(String, String)] = Nil) extends Stmt
  final case class CreateIndexStmt(table: QualifiedName,
      indexName: Option[String], unique: Boolean, concurrent: Boolean,
      sql: String) extends Stmt
  final case class DropIndexStmt(concurrent: Boolean,
      indexes: Seq[QualifiedName], sql: String) extends Stmt
  final case class AlterTableStmt(table: QualifiedName, cmds: Seq[AlterCmd],
      sql: String) extends Stmt
  final case class RenameStmt(kind: RenameKind, table: QualifiedName,
      from: String, to: String, sql: String) extends Stmt
  final case class DropTableStmt(tables: Seq[QualifiedName],
      ifExists: Boolean, sql: String) extends Stmt
  final case class TruncateStmt(tables: Seq[QualifiedName], sql: String)
      extends Stmt
  final case class VacuumStmt(full: Boolean, table: Option[QualifiedName],
      sql: String) extends Stmt
  final case class LockStmt(tables: Seq[QualifiedName], mode: Option[String],
      sql: String) extends Stmt
  /** `DO $$ … $$` — an anonymous procedural block. Its body is
    * arbitrary PL/pgSQL the scoped classifier cannot see into (the
    * reference's pg_query parses the block but also does not descend
    * into the body's dynamic SQL), so instead of silently classifying
    * safe like [[OtherStmt]], it is its OWN kind and the analyzer
    * flags it LOW as explicitly unanalyzable: an `ALTER TABLE` hidden
    * inside the body would otherwise pass the gate unseen.
    */
  final case class DoStmt(sql: String) extends Stmt
  /** `CREATE [OR REPLACE] FUNCTION|PROCEDURE` — same blind spot as
    * [[DoStmt]]: the routine body (PL/pgSQL, SQL, anything) is opaque
    * to this classifier AND to the reference's node-type walk, so DDL
    * spelled inside it would pass the danger gate unseen. Own kind →
    * the analyzer flags it LOW as explicitly unanalyzable instead of
    * silently safe.
    */
  final case class CreateRoutineStmt(name: QualifiedName, routine: String,
      sql: String) extends Stmt
  /** `REINDEX [(opts)] {INDEX|TABLE|SCHEMA|DATABASE|SYSTEM}
    * [CONCURRENTLY] name` — the non-concurrent form rebuilds under
    * locks that block writes (R12). CONCURRENTLY can appear either as
    * the PG≥12 keyword position or inside the PG≥14 option list.
    */
  final case class ReindexStmt(kind: String, concurrent: Boolean,
      target: Option[QualifiedName], sql: String) extends Stmt
  /** `CLUSTER [VERBOSE] [table [USING index]]` — a full-table rewrite
    * under ACCESS EXCLUSIVE (R13); bare CLUSTER re-clusters every
    * previously clustered table.
    */
  final case class ClusterStmt(table: Option[QualifiedName], sql: String)
      extends Stmt
  /** `REFRESH MATERIALIZED VIEW [CONCURRENTLY] name [WITH [NO] DATA]`
    * — non-concurrent refresh locks the MV ACCESS EXCLUSIVE, blocking
    * even reads for the whole recompute (R14).
    */
  final case class RefreshMatViewStmt(concurrent: Boolean,
      view: QualifiedName, sql: String) extends Stmt
  /** `CREATE [OR REPLACE] [CONSTRAINT] TRIGGER name … ON table …` —
    * takes SHARE ROW EXCLUSIVE on the table: brief, but it blocks
    * writes while held and queues behind long transactions (R18).
    */
  final case class CreateTriggerStmt(name: String, table: QualifiedName,
      sql: String) extends Stmt
  /** `COMMENT ON …` — typed (not OtherStmt) so the classifier's
    * known-safe surface matches the reference parser's node
    * coverage; takes no lock that matters.
    */
  final case class CommentStmt(sql: String) extends Stmt
  final case class OtherStmt(head: String, sql: String) extends Stmt

  // ---------------------------------------------------------------------
  // Lexer
  // ---------------------------------------------------------------------

  /** Token: WORD (identifier/keyword; quoted identifiers keep case, bare
    * ones are matched case-insensitively), STR (string constant in any
    * spelling: `'…'`, `E'…'` or `$tag$…$tag$`), NUM, or PUNCT.
    */
  final case class Tok(text: String, kind: Int) {
    def isKw(kw: String): Boolean = kind == Tok.Word && text.equalsIgnoreCase(kw)
  }
  object Tok {
    val Word = 0; val Str = 1; val Num = 2; val Punct = 3
  }

  /** One statement: trimmed, comment-stripped text (no trailing
    * semicolon) and its tokens.
    */
  private final case class Lexed(sql: String, toks: Vector[Tok])

  /** The one lexer: a single left-to-right pass over `sql` under
    * PostgreSQL's lexical rules, with `standard_conforming_strings` on
    * (the default since PG 9.1):
    *   - `'…'`: `''` is the only escape, a backslash is literal;
    *   - `E'…'` (the `E` its own word): backslash escapes as well;
    *   - `"…"` identifiers, `""` the escape;
    *   - `$tag$…$tag$` opens only where an identifier cannot continue
    *     (`t$a$` is one identifier) and the tag does not start with a
    *     digit (`$1` is a parameter);
    *   - `--` comments are dropped, nested block comments become a space;
    *   - a top-level `;` ends a statement, except inside a PG 14+
    *     SQL-standard routine body (`BEGIN ATOMIC stmt; stmt; END`, not
    *     dollar-quoted), where `CASE … END` is depth-tracked so its END
    *     does not close the body.
    * Empty/whitespace-only statements are dropped (parser.go:24-26). A
    * construct still open at the end of the input is an error naming it.
    */
  private def lex(sql: String): Either[SqlParseError, Vector[Lexed]] = {
    val out = Vector.newBuilder[Lexed]
    val text = new StringBuilder
    val toks = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    var tok: Tok = null // the token the current step produced, if any
    var open = "" // the construct left unterminated, if any
    // BEGIN ATOMIC tracking: prevWord is the last bare word (uppercased),
    // reset by strings, quoted identifiers and `;`; numbers and other
    // punctuation are transparent
    var prevWord = ""
    var atomicDepth = 0
    var caseDepth = 0
    def at(k: Int, c: Char): Boolean = k < n && sql.charAt(k) == c
    def flush(): Unit = {
      val s = text.toString.trim
      if (s.nonEmpty) out += Lexed(s, toks.result())
      text.clear(); toks.clear()
      prevWord = ""; atomicDepth = 0; caseDepth = 0
    }
    /** From just past an opening `q` through its close: a doubled `q`
      * is an escape, and with `backslash` so is `\` + any char.
      */
    def quoted(q: Char, backslash: Boolean, kind: Int, what: String): Unit = {
      val sb = new StringBuilder
      while (i < n) {
        val d = sql.charAt(i)
        if (backslash && d == '\\' && i + 1 < n) { sb ++= sql.substring(i, i + 2); i += 2 }
        else if (d != q) { sb += d; i += 1 }
        else if (at(i + 1, q)) { sb += q; i += 2 }
        else { i += 1; tok = Tok(sb.toString, kind); return }
      }
      open = what
    }
    while (i < n && open.isEmpty) {
      val start = i
      val c = sql.charAt(i)
      tok = null
      var word = ""
      if (c == ';' && atomicDepth == 0) { flush(); i += 1 }
      else if (c == '-' && at(i + 1, '-')) {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1, '*')) {
        var depth = 1; i += 2
        while (i < n && depth > 0) {
          if (at(i, '/') && at(i + 1, '*')) { depth += 1; i += 2 }
          else if (at(i, '*') && at(i + 1, '/')) { depth -= 1; i += 2 }
          else i += 1
        }
        if (depth > 0) open = "block comment" else text += ' '
      } else {
        if (c.isWhitespace) i += 1
        else if (c.isLetter || c == '_') {
          while (i < n && (sql.charAt(i).isLetterOrDigit ||
              sql.charAt(i) == '_' || sql.charAt(i) == '$')) i += 1
          if (i == start + 1 && (c == 'E' || c == 'e') && at(i, '\'')) {
            i += 1; quoted('\'', backslash = true, Tok.Str, "string literal")
          } else {
            tok = Tok(sql.substring(start, i), Tok.Word)
            word = tok.text.toUpperCase
          }
        } else if (c == '\'') {
          i += 1; quoted(c, backslash = false, Tok.Str, "string literal")
        } else if (c == '"') {
          i += 1; quoted(c, backslash = false, Tok.Word, "quoted identifier")
        } else if (c == '$') {
          var j = i + 1
          if (j < n && (sql.charAt(j).isLetter || sql.charAt(j) == '_'))
            while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
          if (at(j, '$')) {
            val tag = sql.substring(i, j + 1)
            val end = sql.indexOf(tag, j + 1)
            if (end < 0) open = "dollar-quoted string"
            else { tok = Tok(sql.substring(j + 1, end), Tok.Str); i = end + tag.length }
          } else { tok = Tok("$", Tok.Punct); i += 1 }
        } else if (c.isDigit || (c == '.' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
          while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.' ||
              sql.charAt(i) == 'e' || sql.charAt(i) == 'E' ||
              ((sql.charAt(i) == '+' || sql.charAt(i) == '-') && i > start &&
                (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) i += 1
          tok = Tok(sql.substring(start, i), Tok.Num)
        } else if (c == ':' && at(i + 1, ':')) { tok = Tok("::", Tok.Punct); i += 2 }
        else { tok = Tok(c.toString, Tok.Punct); i += 1 }
        if (tok != null) {
          toks += tok
          if (word == "ATOMIC" && prevWord == "BEGIN") atomicDepth += 1
          else if (atomicDepth > 0) {
            if (word == "CASE") caseDepth += 1
            else if (word == "END") {
              if (caseDepth > 0) caseDepth -= 1 else atomicDepth -= 1
            }
          }
          if (tok.kind == Tok.Word || tok.kind == Tok.Str || tok.text == ";")
            prevWord = word
        }
        text ++= sql.substring(start, i)
      }
    }
    if (open.nonEmpty) Left(SqlParseError(s"unterminated $open"))
    else { flush(); Right(out.result()) }
  }

  private def lexOrThrow(sql: String): Vector[Lexed] =
    lex(sql).fold(e => throw e, identity)

  /** Split a multi-statement SQL string into its statements' text
    * (trimmed, comments stripped, no trailing semicolon) by [[lex]]'s
    * rules; throws [[SqlParseError]] on an unterminated construct.
    */
  def splitStatements(sql: String): Seq[String] = lexOrThrow(sql).map(_.sql)

  /** All tokens of `s` by [[lex]]'s rules, statement separators dropped. */
  def tokenize(s: String): Vector[Tok] = lexOrThrow(s).flatMap(_.toks)

  // ---------------------------------------------------------------------
  // Classification
  // ---------------------------------------------------------------------

  /** Parse + classify a (possibly multi-statement) SQL string: one
    * [[lex]] pass, each statement classified from its own tokens.
    * Empty / whitespace-only → Right(Nil). An unterminated string,
    * quoted identifier, dollar quote or block comment, or a statement
    * that ends where a name is expected → Left(SqlParseError) naming it.
    */
  def parse(sql: String): Either[SqlParseError, Seq[Stmt]] =
    lex(sql).flatMap { stmts =>
      try Right(stmts.map(l => classify(l.toks, l.sql)))
      catch { case e: SqlParseError => Left(e) }
    }

  /** Classify, throwing on structural errors (Dataset-friendly). */
  def parseOrThrow(sql: String): Seq[Stmt] =
    parse(sql).fold(e => throw e, identity)

  /** Classify one statement's text; throws [[SqlParseError]] where
    * [[parse]] returns Left.
    */
  def classify(stmtSql: String): Stmt = classify(tokenize(stmtSql), stmtSql)

  private def classify(toks: Vector[Tok], stmtSql: String): Stmt = {
    if (toks.isEmpty) return OtherStmt("", stmtSql)
    val t = new Cursor(toks)
    val head = toks.head.text.toUpperCase
    head match {
      case "CREATE" => classifyCreate(t, stmtSql)
      case "ALTER" if t.peekKw(1, "TABLE") => classifyAlterTable(t, stmtSql)
      case "ALTER" if t.peekKw(1, "INDEX") => classifyAlterIndex(t, stmtSql)
      case "DROP" => classifyDrop(t, stmtSql)
      case "TRUNCATE" => classifyTruncate(t, stmtSql)
      case "VACUUM" => classifyVacuum(t, stmtSql)
      case "LOCK" => classifyLock(t, stmtSql)
      case "DO" => DoStmt(stmtSql)
      case "REINDEX" => classifyReindex(t, stmtSql)
      case "CLUSTER" => classifyCluster(t, stmtSql)
      case "REFRESH" if t.peekKw(1, "MATERIALIZED") && t.peekKw(2, "VIEW") =>
        classifyRefresh(t, stmtSql)
      case "COMMENT" => CommentStmt(stmtSql)
      case _ => OtherStmt(head, stmtSql)
    }
  }

  /** Token cursor with small lookahead helpers. */
  private final class Cursor(val toks: Vector[Tok]) {
    var pos = 0
    def eof: Boolean = pos >= toks.length
    def peek: Option[Tok] = if (eof) None else Some(toks(pos))
    def peekKw(off: Int, kw: String): Boolean =
      pos + off < toks.length && toks(pos + off).isKw(kw)
    def curIsKw(kw: String): Boolean = peekKw(0, kw)
    /** The current token; a statement that ends where the grammar
      * still needs one (`LOCK`, `DROP TABLE`, `CREATE INDEX i ON`) is a
      * [[SqlParseError]] naming the last token read.
      */
    def next(): Tok = {
      if (eof) throw SqlParseError(
        s"unexpected end of statement after '${toks(pos - 1).text}'")
      val t = toks(pos); pos += 1; t
    }
    def skipKw(kw: String): Boolean =
      if (curIsKw(kw)) { pos += 1; true } else false
    def skipPunct(p: String): Boolean =
      if (!eof && toks(pos).kind == Tok.Punct && toks(pos).text == p) {
        pos += 1; true
      } else false
    /** Consume `IF EXISTS` / `IF NOT EXISTS`; returns true if consumed. */
    def skipIfExists(): Boolean =
      if (curIsKw("IF") && peekKw(1, "EXISTS")) { pos += 2; true }
      else if (curIsKw("IF") && peekKw(1, "NOT") && peekKw(2, "EXISTS")) {
        pos += 3; true
      } else false
    /** Parse `ident` or `schema.ident` (possibly catalog.schema.ident —
      * keep last two parts like PG's RangeVar).
      */
    def qualifiedName(): QualifiedName = {
      var parts = List(next().text)
      while (skipPunct(".")) parts = next().text :: parts
      parts match {
        case name :: Nil => QualifiedName(None, name)
        case name :: schema :: _ => QualifiedName(Some(schema), name)
        case Nil => QualifiedName(None, "<unknown>")
      }
    }
    /** Skip a parenthesized group, tracking nesting. Cursor must be at '('. */
    def skipParens(): Unit = {
      if (!skipPunct("(")) return
      var depth = 1
      while (!eof && depth > 0) {
        val tk = next()
        if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
        else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
      }
    }
  }

  private def classifyCreate(t: Cursor, sql: String): Stmt = {
    t.next() // CREATE
    if (t.curIsKw("OR") && t.peekKw(1, "REPLACE") &&
        (t.peekKw(2, "FUNCTION") || t.peekKw(2, "PROCEDURE") ||
          t.peekKw(2, "TRIGGER"))) {
      t.next(); t.next() // OR REPLACE
    }
    if (t.curIsKw("FUNCTION") || t.curIsKw("PROCEDURE")) {
      val routine = t.next().text.toUpperCase // FUNCTION | PROCEDURE
      val name =
        if (!t.eof && t.peek.get.kind == Tok.Word) t.qualifiedName()
        else QualifiedName(None, "<unknown>")
      return CreateRoutineStmt(name, routine, sql)
    }
    if (t.curIsKw("TRIGGER") ||
        (t.curIsKw("CONSTRAINT") && t.peekKw(1, "TRIGGER"))) {
      t.skipKw("CONSTRAINT")
      t.next() // TRIGGER
      val name =
        if (!t.eof && t.peek.get.kind == Tok.Word) t.next().text else ""
      // events are INSERT/UPDATE [OF col]/DELETE/TRUNCATE — the first
      // bare ON introduces the table (INSTEAD OF tokenizes as OF)
      while (!t.eof && !t.curIsKw("ON")) t.next()
      val tbl =
        if (t.skipKw("ON") && !t.eof && t.peek.get.kind == Tok.Word)
          t.qualifiedName()
        else QualifiedName(None, "<unknown>")
      return CreateTriggerStmt(name, tbl, sql)
    }
    val unique = t.skipKw("UNIQUE")
    if (t.skipKw("INDEX")) {
      val concurrent = t.skipKw("CONCURRENTLY")
      t.skipIfExists() // IF NOT EXISTS
      // optional index name, then ON table
      var indexName: Option[String] = None
      if (!t.curIsKw("ON") && !t.eof && t.peek.get.kind == Tok.Word) {
        indexName = Some(t.next().text)
      }
      if (t.skipKw("ON")) {
        t.skipKw("ONLY")
        val tbl = t.qualifiedName()
        CreateIndexStmt(tbl, indexName, unique, concurrent, sql)
      } else CreateIndexStmt(QualifiedName(None, "<unknown>"), indexName,
        unique, concurrent, sql)
    } else if (t.curIsKw("TABLE") ||
        ((t.curIsKw("TEMP") || t.curIsKw("TEMPORARY") || t.curIsKw("UNLOGGED"))
          && t.peekKw(1, "TABLE"))) {
      t.skipKw("TEMP"); t.skipKw("TEMPORARY"); t.skipKw("UNLOGGED")
      t.next() // TABLE
      t.skipIfExists()
      val tbl = t.qualifiedName()
      // column-definition list: (name type ..., ..., <table constraints>)
      val cols = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      if (!t.eof && t.peek.get.kind == Tok.Punct && t.peek.get.text == "(") {
        t.next() // (
        var depth = 1
        var itemStart = true
        val tableLevel = Set("CONSTRAINT", "PRIMARY", "UNIQUE", "CHECK",
          "FOREIGN", "EXCLUDE", "LIKE")
        val colStop = Set("NOT", "NULL", "DEFAULT", "PRIMARY", "UNIQUE",
          "REFERENCES", "CHECK", "GENERATED", "CONSTRAINT", "COLLATE")
        while (!t.eof && depth > 0) {
          if (itemStart && t.peek.get.kind != Tok.Punct &&
              !tableLevel.contains(t.peek.get.text.toUpperCase)) {
            val name = t.next().text
            val typeSb = new StringBuilder
            var tdepth = 0
            var prevWord = false
            var done = false
            while (!t.eof && !done) {
              val p = t.peek.get
              if (p.kind == Tok.Punct && p.text == "(") {
                tdepth += 1; typeSb ++= t.next().text; prevWord = false
              } else if (p.kind == Tok.Punct && p.text == ")") {
                if (tdepth == 0) done = true
                else { tdepth -= 1; typeSb ++= t.next().text; prevWord = false }
              } else if (tdepth == 0 && p.kind == Tok.Punct &&
                  p.text == ",") done = true
              else if (tdepth == 0 &&
                  colStop.contains(p.text.toUpperCase)) done = true
              else {
                if (prevWord && p.kind != Tok.Punct) typeSb += ' '
                typeSb ++= t.next().text
                prevWord = p.kind != Tok.Punct
              }
            }
            if (typeSb.nonEmpty) cols += name -> typeSb.toString
            itemStart = false
          } else {
            val tk = t.next()
            if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
            else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
            else if (tk.kind == Tok.Punct && tk.text == "," && depth == 1)
              itemStart = true
            else if (tk.kind != Tok.Punct) itemStart = false
          }
        }
      }
      CreateTableStmt(tbl, sql, cols.toSeq)
    } else OtherStmt("CREATE", sql)
  }

  private def classifyDrop(t: Cursor, sql: String): Stmt = {
    t.next() // DROP
    if (t.skipKw("TABLE")) {
      val ifExists = t.skipIfExists()
      var tables = List(t.qualifiedName())
      while (t.skipPunct(",")) tables = t.qualifiedName() :: tables
      DropTableStmt(tables.reverse, ifExists, sql)
    } else if (t.skipKw("INDEX")) {
      val concurrent = t.skipKw("CONCURRENTLY")
      t.skipIfExists()
      var idx = List.empty[QualifiedName]
      if (!t.eof && t.peek.get.kind == Tok.Word) {
        idx = List(t.qualifiedName())
        while (t.skipPunct(",")) idx = t.qualifiedName() :: idx
      }
      DropIndexStmt(concurrent, idx.reverse, sql)
    } else OtherStmt("DROP", sql)
  }

  private def classifyTruncate(t: Cursor, sql: String): Stmt = {
    t.next() // TRUNCATE
    t.skipKw("TABLE")
    t.skipKw("ONLY")
    var tables = List(t.qualifiedName())
    while (t.skipPunct(",")) { t.skipKw("ONLY"); tables = t.qualifiedName() :: tables }
    TruncateStmt(tables.reverse, sql)
  }

  private def classifyVacuum(t: Cursor, sql: String): Stmt = {
    t.next() // VACUUM
    var full = false
    // paren option list: VACUUM (FULL, ANALYZE) tbl
    if (!t.eof && t.peek.get.kind == Tok.Punct && t.peek.get.text == "(") {
      val start = t.pos
      t.skipParens()
      val opts = t.toks.slice(start, t.pos)
      // an option may carry an explicit boolean: (FULL false) / (FULL 0)
      // must NOT count as full (PG boolean option grammar)
      val fi = opts.indexWhere(o =>
        o.kind == Tok.Word && o.text.equalsIgnoreCase("FULL"))
      full = fi >= 0 && !(fi + 1 < opts.length && {
        val v = opts(fi + 1)
        (v.kind == Tok.Word && (v.text.equalsIgnoreCase("FALSE") ||
          v.text.equalsIgnoreCase("OFF"))) ||
          (v.kind == Tok.Num && v.text == "0")
      })
    } else {
      // bare keyword options: VACUUM FULL [FREEZE] [VERBOSE] [ANALYZE]
      var more = true
      while (more) {
        if (t.skipKw("FULL")) full = true
        else if (t.skipKw("FREEZE") || t.skipKw("VERBOSE") || t.skipKw("ANALYZE")) ()
        else more = false
      }
    }
    val table =
      if (!t.eof && t.peek.get.kind == Tok.Word) Some(t.qualifiedName())
      else None
    VacuumStmt(full, table, sql)
  }

  private def classifyLock(t: Cursor, sql: String): Stmt = {
    t.next() // LOCK
    t.skipKw("TABLE")
    t.skipKw("ONLY")
    var tables = List(t.qualifiedName())
    while (t.skipPunct(",")) { t.skipKw("ONLY"); tables = t.qualifiedName() :: tables }
    // IN <mode words> MODE
    var mode: Option[String] = None
    if (t.skipKw("IN")) {
      val words = new StringBuilder
      while (!t.eof && !t.curIsKw("MODE")) {
        if (words.nonEmpty) words += ' '
        words ++= t.next().text.toUpperCase
      }
      mode = Some(words.toString)
    }
    LockStmt(tables.reverse, mode, sql)
  }

  private def classifyReindex(t: Cursor, sql: String): Stmt = {
    t.next() // REINDEX
    // PG14+ paren option list: REINDEX (VERBOSE, CONCURRENTLY) ...
    var concurrent = false
    if (!t.eof && t.peek.get.kind == Tok.Punct && t.peek.get.text == "(") {
      val start = t.pos
      t.skipParens()
      concurrent = t.toks.slice(start, t.pos).exists(o =>
        o.kind == Tok.Word && o.text.equalsIgnoreCase("CONCURRENTLY"))
    }
    val kind =
      if (t.curIsKw("INDEX") || t.curIsKw("TABLE") || t.curIsKw("SCHEMA") ||
          t.curIsKw("DATABASE") || t.curIsKw("SYSTEM"))
        t.next().text.toUpperCase
      else "INDEX" // PG tolerates nothing here; default conservatively
    if (t.skipKw("CONCURRENTLY")) concurrent = true // PG12+ keyword slot
    val target =
      if (!t.eof && t.peek.get.kind == Tok.Word) Some(t.qualifiedName())
      else None
    ReindexStmt(kind, concurrent, target, sql)
  }

  private def classifyCluster(t: Cursor, sql: String): Stmt = {
    t.next() // CLUSTER
    // PG14+ paren option list: CLUSTER (VERBOSE) tbl
    if (!t.eof && t.peek.get.kind == Tok.Punct && t.peek.get.text == "(")
      t.skipParens()
    t.skipKw("VERBOSE")
    if (t.eof || t.peek.get.kind != Tok.Word)
      return ClusterStmt(None, sql) // bare CLUSTER: all clustered tables
    val first = t.qualifiedName()
    // legacy pre-PG-9.0 syntax: CLUSTER index ON table
    if (t.skipKw("ON")) ClusterStmt(Some(t.qualifiedName()), sql)
    else ClusterStmt(Some(first), sql) // [USING index] is irrelevant here
  }

  private def classifyRefresh(t: Cursor, sql: String): Stmt = {
    t.next(); t.next(); t.next() // REFRESH MATERIALIZED VIEW
    val concurrent = t.skipKw("CONCURRENTLY")
    val view =
      if (!t.eof && t.peek.get.kind == Tok.Word) t.qualifiedName()
      else QualifiedName(None, "<unknown>")
    RefreshMatViewStmt(concurrent, view, sql)
  }

  /** ALTER INDEX: only the RENAME form is typed (RenameIndex — the
    * rule layer's safe fallthrough, matching the reference's
    * RenameStmt classification); every other ALTER INDEX form (SET
    * TABLESPACE copies the index under ACCESS EXCLUSIVE, SET
    * storage parameters, ATTACH PARTITION) stays OtherStmt and draws
    * the unclassified-alter opaque warning.
    */
  private def classifyAlterIndex(t: Cursor, sql: String): Stmt = {
    t.next(); t.next() // ALTER INDEX
    t.skipIfExists()
    val idx =
      if (!t.eof && t.peek.get.kind == Tok.Word) t.qualifiedName()
      else QualifiedName(None, "<unknown>")
    if (t.skipKw("RENAME")) {
      t.skipKw("TO")
      val to = if (!t.eof) t.next().text else ""
      RenameStmt(RenameIndex, idx, idx.name, to, sql)
    } else OtherStmt("ALTER", sql)
  }

  private def classifyAlterTable(t: Cursor, sql: String): Stmt = {
    t.next(); t.next() // ALTER TABLE
    t.skipIfExists()
    t.skipKw("ONLY")
    val tbl = t.qualifiedName()
    // RENAME forms are separate statement kinds in the PG AST (RenameStmt)
    if (t.curIsKw("RENAME")) {
      t.next()
      if (t.skipKw("TO")) {
        val to = if (!t.eof) t.next().text else ""
        return RenameStmt(RenameTable, tbl, tbl.name, to, sql)
      }
      if (t.skipKw("COLUMN")) {
        val from = if (!t.eof) t.next().text else ""
        t.skipKw("TO")
        val to = if (!t.eof) t.next().text else ""
        return RenameStmt(RenameColumn, tbl, from, to, sql)
      }
      if (t.skipKw("CONSTRAINT")) {
        val from = if (!t.eof) t.next().text else ""
        t.skipKw("TO")
        val to = if (!t.eof) t.next().text else ""
        return RenameStmt(RenameOther, tbl, from, to, sql)
      }
      // ALTER TABLE x RENAME col TO newcol (COLUMN keyword optional)
      val from = if (!t.eof) t.next().text else ""
      t.skipKw("TO")
      val to = if (!t.eof) t.next().text else ""
      return RenameStmt(RenameColumn, tbl, from, to, sql)
    }
    // comma-separated command list
    val cmds = Vector.newBuilder[AlterCmd]
    var more = true
    while (more && !t.eof) {
      cmds += parseAlterCmd(t)
      more = t.skipPunct(",")
    }
    AlterTableStmt(tbl, cmds.result(), sql)
  }

  /** Parse one ALTER TABLE sub-command up to the next top-level comma. */
  private def parseAlterCmd(t: Cursor): AlterCmd = {
    val start = t.pos
    def restText(): String = {
      // consume to next top-level comma
      var depth = 0
      while (!t.eof && !(depth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
        val tk = t.next()
        if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
        else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
      }
      t.toks.slice(start, t.pos).map(_.text).mkString(" ")
    }
    if (t.skipKw("ADD")) {
      if (t.skipKw("CONSTRAINT")) {
        val name = if (!t.eof) t.next().text else ""
        val kind =
          if (t.curIsKw("CHECK")) CheckConstraint
          else if (t.curIsKw("FOREIGN")) ForeignKeyConstraint
          else if (t.curIsKw("UNIQUE")) UniqueConstraint
          else if (t.curIsKw("PRIMARY")) PrimaryKeyConstraint
          else OtherConstraint
        // scan remainder of this command for NOT VALID / USING INDEX
        // at top level
        val cmdStart = t.pos
        var depth = 0
        var notValid = false
        var usingIndex = false
        while (!t.eof && !(depth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
          val tk = t.next()
          if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
          else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
          else if (depth == 0 && tk.isKw("NOT") && !t.eof && t.peek.get.isKw("VALID")) {
            t.next(); notValid = true
          } else if (depth == 0 && tk.isKw("USING") && !t.eof && t.peek.get.isKw("INDEX")) {
            t.next(); usingIndex = true
          }
        }
        val _ = cmdStart
        AddConstraint(name, kind, notValid, usingIndex)
      } else if (t.curIsKw("CHECK") || t.curIsKw("FOREIGN") ||
          t.curIsKw("UNIQUE") || t.curIsKw("PRIMARY")) {
        // unnamed table constraint: ADD CHECK (...) / ADD FOREIGN KEY ...
        val kind =
          if (t.curIsKw("CHECK")) CheckConstraint
          else if (t.curIsKw("FOREIGN")) ForeignKeyConstraint
          else if (t.curIsKw("UNIQUE")) UniqueConstraint
          else PrimaryKeyConstraint
        var depth = 0
        var notValid = false
        var usingIndex = false
        while (!t.eof && !(depth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
          val tk = t.next()
          if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
          else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
          else if (depth == 0 && tk.isKw("NOT") && !t.eof && t.peek.get.isKw("VALID")) {
            t.next(); notValid = true
          } else if (depth == 0 && tk.isKw("USING") && !t.eof && t.peek.get.isKw("INDEX")) {
            t.next(); usingIndex = true
          }
        }
        AddConstraint("", kind, notValid, usingIndex)
      } else {
        // ADD [COLUMN] [IF NOT EXISTS] name type [opts]
        t.skipKw("COLUMN")
        t.skipIfExists()
        val col = if (!t.eof) t.next().text else ""
        // type: words/parens until a recognized column-option keyword or
        // top-level comma
        val typeSb = new StringBuilder
        var depth = 0
        def atOption: Boolean = !t.eof && depth == 0 && {
          val tk = t.peek.get
          tk.isKw("DEFAULT") || tk.isKw("NOT") || tk.isKw("NULL") ||
          tk.isKw("PRIMARY") || tk.isKw("UNIQUE") || tk.isKw("REFERENCES") ||
          tk.isKw("CHECK") || tk.isKw("CONSTRAINT") || tk.isKw("GENERATED") ||
          tk.isKw("COLLATE")
        }
        while (!t.eof && !atOption &&
            !(depth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
          val tk = t.next()
          if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
          else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
          if (typeSb.nonEmpty) typeSb += ' '
          typeSb ++= tk.text
        }
        // options — depth-tracked so a comma INSIDE a paren group
        // (CHECK (f(a, b)), GENERATED ... AS (coalesce(a, b)) STORED)
        // never terminates the sub-command early
        var default: Option[DefaultExpr] = None
        var notNull = false
        var generated: Option[GeneratedKind] = None
        var odepth = 0
        while (!t.eof &&
            !(odepth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
          if (odepth == 0 && t.skipKw("DEFAULT")) default = Some(parseDefaultExpr(t))
          else if (odepth == 0 && t.curIsKw("NOT") && t.peekKw(1, "NULL")) { t.pos += 2; notNull = true }
          else if (odepth == 0 && t.curIsKw("GENERATED")) {
            // GENERATED ALWAYS AS ( expr ) [STORED | VIRTUAL]
            // GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY [( seq opts )]
            t.next() // GENERATED
            t.skipKw("ALWAYS")
            if (t.skipKw("BY")) t.skipKw("DEFAULT")
            t.skipKw("AS")
            if (t.skipKw("IDENTITY")) generated = Some(IdentityGenerated)
            else {
              var gd = 0
              if (!t.eof && t.peek.get.kind == Tok.Punct && t.peek.get.text == "(") {
                var started = false
                while (!t.eof && (!started || gd > 0)) {
                  val tk = t.next()
                  if (tk.kind == Tok.Punct && tk.text == "(") { gd += 1; started = true }
                  else if (tk.kind == Tok.Punct && tk.text == ")") gd -= 1
                }
              }
              // VIRTUAL (PG 18+) is computed on read — no rewrite;
              // STORED rewrites; an OMITTED keyword is version-
              // dependent (pre-18: implies STORED; 18+: defaults to
              // VIRTUAL) — typed DefaultGenerated for the rule layer
              if (t.skipKw("VIRTUAL")) ()
              else if (t.skipKw("STORED")) generated = Some(StoredGenerated)
              else generated = Some(DefaultGenerated)
            }
          }
          else if (odepth == 0 && t.skipKw("NULL")) ()
          else {
            val tk = t.next()
            if (tk.kind == Tok.Punct && tk.text == "(") odepth += 1
            else if (tk.kind == Tok.Punct && tk.text == ")") odepth -= 1
          }
        }
        AddColumn(col, typeSb.toString, default, notNull, generated)
      }
    } else if (t.skipKw("ALTER")) {
      t.skipKw("COLUMN")
      val col = if (!t.eof) t.next().text else ""
      if (t.curIsKw("TYPE") || (t.curIsKw("SET") && t.peekKw(1, "DATA"))) {
        if (t.skipKw("SET")) { t.skipKw("DATA") }
        t.skipKw("TYPE")
        val typeSb = new StringBuilder
        var depth = 0
        while (!t.eof &&
            !(depth == 0 && t.peek.get.kind == Tok.Punct && t.peek.get.text == ",") &&
            !(depth == 0 && t.peek.get.isKw("USING"))) {
          val tk = t.next()
          if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
          else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
          if (typeSb.nonEmpty) typeSb += ' '
          typeSb ++= tk.text
        }
        // skip USING clause if present — depth-tracked: the expression
        // may contain commas inside calls (USING coalesce(a, b))
        var udepth = 0
        while (!t.eof && !(udepth == 0 &&
            t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
          val tk = t.next()
          if (tk.kind == Tok.Punct && tk.text == "(") udepth += 1
          else if (tk.kind == Tok.Punct && tk.text == ")") udepth -= 1
        }
        AlterColumnType(col, typeSb.toString)
      } else if (t.curIsKw("SET") && t.peekKw(1, "NOT") && t.peekKw(2, "NULL")) {
        t.pos += 3
        SetNotNull(col)
      } else if (t.curIsKw("DROP") && t.peekKw(1, "NOT") && t.peekKw(2, "NULL")) {
        t.pos += 3
        DropNotNull(col)
      } else OtherAlterCmd(restText())
    } else if (t.curIsKw("DROP") && !t.peekKw(1, "CONSTRAINT")) {
      // DROP [COLUMN] [IF EXISTS] name [CASCADE|RESTRICT] (R22);
      // DROP CONSTRAINT stays OtherAlterCmd (metadata, safe)
      t.next() // DROP
      t.skipKw("COLUMN")
      t.skipIfExists()
      val col = if (!t.eof) t.next().text else ""
      while (!t.eof && !(t.peek.get.kind == Tok.Punct && t.peek.get.text == ","))
        t.next() // CASCADE | RESTRICT
      DropColumn(col)
    } else if (t.curIsKw("VALIDATE") && t.peekKw(1, "CONSTRAINT")) {
      t.pos += 2
      val name = if (!t.eof) t.next().text else ""
      ValidateConstraint(name)
    } else if (t.curIsKw("SET") && (t.peekKw(1, "TABLESPACE") ||
        t.peekKw(1, "LOGGED") || t.peekKw(1, "UNLOGGED"))) {
      t.next() // SET
      val kind = t.next().text.toUpperCase
      if (kind == "TABLESPACE" && !t.eof &&
          t.peek.get.kind == Tok.Word) t.next() // tablespace name
      SetTableStorage(kind)
    } else if (t.curIsKw("SET") && t.peekKw(1, "ACCESS") &&
        t.peekKw(2, "METHOD")) {
      // PG 15+: SET ACCESS METHOD <am> rewrites the whole table —
      // same storage-rewrite class as SET TABLESPACE/LOGGED/UNLOGGED
      t.pos += 3
      if (!t.eof && t.peek.get.kind == Tok.Word) t.next() // am name
      SetTableStorage("ACCESS METHOD")
    } else if (t.curIsKw("ATTACH") && t.peekKw(1, "PARTITION")) {
      t.pos += 2
      val part = if (!t.eof) t.qualifiedName().render else ""
      // consume the FOR VALUES …/DEFAULT bound spec to the next
      // TOP-LEVEL comma — list/hash bounds carry commas inside parens
      // (FOR VALUES IN ('a', 'b') / WITH (MODULUS 4, REMAINDER 0))
      var bdepth = 0
      while (!t.eof && !(bdepth == 0 &&
          t.peek.get.kind == Tok.Punct && t.peek.get.text == ",")) {
        val tk = t.next()
        if (tk.kind == Tok.Punct && tk.text == "(") bdepth += 1
        else if (tk.kind == Tok.Punct && tk.text == ")") bdepth -= 1
      }
      AttachPartition(part)
    } else if (t.curIsKw("DETACH") && t.peekKw(1, "PARTITION")) {
      t.pos += 2
      val part = if (!t.eof) t.qualifiedName().render else ""
      val concurrent = t.skipKw("CONCURRENTLY")
      // FINALIZE completes an interrupted CONCURRENTLY detach — it is
      // the concurrent protocol's second transaction, not a blocking
      // whole-table detach, so it must not trip the detach rule
      val finalize = t.skipKw("FINALIZE")
      DetachPartition(part, concurrent || finalize)
    } else OtherAlterCmd(restText())
  }

  /** DEFAULT expression volatility per the reference's isVolatileDefault:
    * constant literal (string/number/TRUE/FALSE/NULL) → non-volatile;
    * constant followed by ::cast or CAST(constant AS type) → non-volatile;
    * anything else (function call like NOW(), expressions) → volatile.
    */
  private def parseDefaultExpr(t: Cursor): DefaultExpr = {
    // DEFAULT NULL is a constant — consume it here, because collect()
    // must otherwise stop BEFORE a bare NULL/NOT NULL column option
    // (leaving the token list empty, which misread as volatile)
    if (t.curIsKw("NULL") && !t.peekKw(1, "NOT")) {
      t.next()
      return ConstantDefault
    }
    val start = t.pos
    def collect(): String = {
      var depth = 0
      val sb = new StringBuilder
      def stop: Boolean = !(!t.eof &&
        !(depth == 0 && t.peek.get.kind == Tok.Punct &&
          (t.peek.get.text == ",")) &&
        !(depth == 0 && (t.peek.get.isKw("NOT") || t.peek.get.isKw("NULL") ||
          t.peek.get.isKw("PRIMARY") || t.peek.get.isKw("UNIQUE") ||
          t.peek.get.isKw("REFERENCES") || t.peek.get.isKw("CHECK") ||
          t.peek.get.isKw("CONSTRAINT") || t.peek.get.isKw("COLLATE"))))
      while (!stop) {
        val tk = t.next()
        if (tk.kind == Tok.Punct && tk.text == "(") depth += 1
        else if (tk.kind == Tok.Punct && tk.text == ")") depth -= 1
        if (sb.nonEmpty) sb += ' '
        sb ++= tk.text
      }
      sb.toString
    }
    val text = collect()
    val toks = t.toks.slice(start, t.pos)
    classifyDefaultToks(toks, text)
  }

  private[classify] def classifyDefaultToks(toks: Vector[Tok], text: String): DefaultExpr = {
    def isConstTok(tk: Tok): Boolean =
      tk.kind == Tok.Str || tk.kind == Tok.Num ||
        tk.isKw("TRUE") || tk.isKw("FALSE") || tk.isKw("NULL")
    toks match {
      case Vector(c) if isConstTok(c) => ConstantDefault
      case Vector(c, cast, _*) if isConstTok(c) &&
          cast.kind == Tok.Punct && cast.text == "::" => CastConstantDefault
      // CAST ( const AS type )
      case v if v.length >= 5 && v(0).isKw("CAST") &&
          v(1).text == "(" && isConstTok(v(2)) && v(3).isKw("AS") =>
        CastConstantDefault
      // negative numeric literal: - 5
      case Vector(m, nTok) if m.kind == Tok.Punct && m.text == "-" &&
          nTok.kind == Tok.Num => ConstantDefault
      case _ => VolatileDefault(text)
    }
  }

  /** Fast prefilter + classification: does this SQL contain a
    * CONCURRENTLY index operation? (reference:
    * `internal/executor/concurrent.go:15-40` — cheap `contains` guard
    * before the expensive parse, same pushdown idea.)
    */
  def containsConcurrentOp(sql: String): Boolean = {
    if (!sql.toUpperCase.contains("CONCURRENTLY")) return false
    // Propagate parse failures (reference aborts rather than falling back
    // to a transactional run of broken SQL, internal/executor/concurrent.go)
    parseOrThrow(sql).exists {
      case s: CreateIndexStmt => s.concurrent
      case s: DropIndexStmt   => s.concurrent
      case _                  => false
    }
  }

  /** Truncate statement text for display (reference `TruncateSQL`,
    * `internal/analyzer/result.go:30-35`; cap 120 chars,
    * `analyzer.go:10`).
    */
  def truncateSql(sql: String, maxLen: Int = 120): String =
    if (sql.length <= maxLen) sql else sql.substring(0, maxLen - 3) + "..."
}
