package graft

import graft.classify.SqlClassifier
import graft.classify.SqlClassifier._
import org.scalatest.funsuite.AnyFunSuite

/** Classifier tests — case matrix ported from the reference's parser
  * tests (`internal/parser/parser_test.go:13-147`) plus the shapes the
  * nine rules inspect.
  */
class ClassifierSpec extends AnyFunSuite {

  def one(sql: String): Stmt = {
    val r = SqlClassifier.parseOrThrow(sql)
    assert(r.length == 1, s"expected 1 stmt, got ${r.length} for: $sql")
    r.head
  }

  test("empty and whitespace-only input yield zero statements") {
    assert(SqlClassifier.parseOrThrow("") == Nil)
    assert(SqlClassifier.parseOrThrow("   \n\t  ") == Nil)
    assert(SqlClassifier.parseOrThrow("-- just a comment\n") == Nil)
    assert(SqlClassifier.parseOrThrow("/* block */") == Nil)
  }

  test("multi-statement split honors quotes, comments, dollar-quoting") {
    val sql =
      """CREATE TABLE a (x TEXT DEFAULT 'semi;colon');
        |-- comment; with semicolon
        |/* block ; comment */
        |INSERT INTO a VALUES ($tag$body;with;semis$tag$);
        |DROP TABLE a;""".stripMargin
    val stmts = SqlClassifier.parseOrThrow(sql)
    assert(stmts.length == 3)
    assert(stmts(0).isInstanceOf[CreateTableStmt])
    assert(stmts(1).isInstanceOf[OtherStmt])
    assert(stmts(2).isInstanceOf[DropTableStmt])
    // standard_conforming_strings: a backslash is literal in '…', so the
    // quote after it closes the string and the index is a statement
    val hidden = "INSERT INTO t VALUES ('a\\'); CREATE INDEX i ON big (x); -- ')"
    assert(SqlClassifier.parseOrThrow(hidden).map(_.getClass) ==
      Seq(classOf[OtherStmt], classOf[CreateIndexStmt]))
  }

  test("unterminated quote is a parse error") {
    def err(sql: String) = SqlClassifier.parse(sql).left.map(_.detail)
    assert(err("SELECT 'oops") == Left("unterminated string literal"))
    assert(err("SELECT E'it\\'s") == Left("unterminated string literal"))
    assert(err("SELECT \"oops") == Left("unterminated quoted identifier"))
    assert(err("/* never closed") == Left("unterminated block comment"))
    assert(err("SELECT $$ open") == Left("unterminated dollar-quoted string"))
    // `t$a$` is one identifier (`$` continues it), so no dollar quote
    // opens there and the later quote is left open
    assert(err("CREATE TABLE t$a$ (id bigint); SELECT 'x") ==
      Left("unterminated string literal"))
  }

  test("CREATE INDEX variants") {
    val s1 = one("CREATE INDEX idx_users_email ON users (email)")
    assert(s1 == CreateIndexStmt(QualifiedName(None, "users"),
      Some("idx_users_email"), unique = false, concurrent = false, s1.sql))
    val s2 = one("CREATE UNIQUE INDEX idx_u ON users (email)")
      .asInstanceOf[CreateIndexStmt]
    assert(s2.unique && !s2.concurrent)
    val s3 = one("CREATE INDEX CONCURRENTLY idx_c ON users (email)")
      .asInstanceOf[CreateIndexStmt]
    assert(s3.concurrent)
    // partial index with WHERE
    val s4 = one("CREATE INDEX idx_p ON users (email) WHERE active = true")
      .asInstanceOf[CreateIndexStmt]
    assert(s4.table.name == "users")
    // schema-qualified
    val s5 = one("CREATE INDEX idx_s ON myschema.users (email)")
      .asInstanceOf[CreateIndexStmt]
    assert(s5.table == QualifiedName(Some("myschema"), "users"))
    // unnamed index
    val s6 = one("CREATE INDEX ON users (email)").asInstanceOf[CreateIndexStmt]
    assert(s6.indexName.isEmpty && s6.table.name == "users")
    // a comment between the keywords is skipped
    assert(SqlClassifier.classify("CREATE /* c */ INDEX i ON t (x)")
      .isInstanceOf[CreateIndexStmt])
  }

  test("ALTER TABLE ADD COLUMN with defaults") {
    val s1 = one("ALTER TABLE users ADD COLUMN status TEXT DEFAULT 'active'")
      .asInstanceOf[AlterTableStmt]
    assert(s1.cmds == Seq(AddColumn("status", "TEXT",
      Some(ConstantDefault), notNull = false)))
    val s2 = one("ALTER TABLE users ADD COLUMN created TIMESTAMPTZ DEFAULT NOW()")
      .asInstanceOf[AlterTableStmt]
    assert(s2.cmds.head.asInstanceOf[AddColumn].default.get.volatile)
    val s3 = one("ALTER TABLE users ADD COLUMN n INT DEFAULT 0 NOT NULL")
      .asInstanceOf[AlterTableStmt]
    val c3 = s3.cmds.head.asInstanceOf[AddColumn]
    assert(c3.default.contains(ConstantDefault) && c3.notNull)
    val s4 = one("ALTER TABLE users ADD COLUMN s TEXT DEFAULT 'x'::text")
      .asInstanceOf[AlterTableStmt]
    assert(s4.cmds.head.asInstanceOf[AddColumn].default
      .contains(CastConstantDefault))
    val s5 = one("ALTER TABLE users ADD COLUMN bio TEXT")
      .asInstanceOf[AlterTableStmt]
    assert(s5.cmds.head.asInstanceOf[AddColumn].default.isEmpty)
    // ADD without COLUMN keyword
    val s6 = one("ALTER TABLE users ADD flag BOOLEAN DEFAULT false")
      .asInstanceOf[AlterTableStmt]
    assert(s6.cmds.head.asInstanceOf[AddColumn].default
      .contains(ConstantDefault))
  }

  test("CREATE TABLE column list parses (name, type) pairs: parameter " +
      "parens, multi-word types, table-level constraints skipped, " +
      "commas inside CHECK don't split") {
    val ct = one("CREATE TABLE t (id integer PRIMARY KEY, " +
      "code char(8), happened_at timestamp with time zone, " +
      "note varchar(40) NOT NULL DEFAULT 'x', " +
      "PRIMARY KEY (id), CONSTRAINT c CHECK (id > 0 AND id < 10), " +
      "FOREIGN KEY (code) REFERENCES codes (c))")
      .asInstanceOf[CreateTableStmt]
    assert(ct.columns == Seq(
      "id" -> "integer", "code" -> "char(8)",
      "happened_at" -> "timestamp with time zone",
      "note" -> "varchar(40)"), ct.columns)
    // no column list (CREATE TABLE AS / LIKE shells): empty, no crash
    assert(one("CREATE TABLE t2 (LIKE t INCLUDING ALL)")
      .asInstanceOf[CreateTableStmt].columns.isEmpty)
  }

  test("ALTER TABLE ADD COLUMN GENERATED: STORED/IDENTITY typed, " +
      "VIRTUAL untyped; commas inside the expression don't split the " +
      "command; DROP COLUMN in every spelling") {
    val g1 = one("ALTER TABLE t ADD COLUMN d text GENERATED ALWAYS AS " +
      "(coalesce(a, b)) STORED").asInstanceOf[AlterTableStmt]
    assert(g1.cmds == Seq(AddColumn("d", "text", None, notNull = false,
      generated = Some(StoredGenerated))))
    // omitted STORED/VIRTUAL keyword: version-dependent default
    // (pre-18 implies STORED, 18+ defaults VIRTUAL) — typed
    // DefaultGenerated so the rule layer resolves against the target
    val g2 = one("ALTER TABLE t ADD COLUMN d int GENERATED ALWAYS AS (a + b)")
      .asInstanceOf[AlterTableStmt]
    assert(g2.cmds.head.asInstanceOf[AddColumn].generated
      .contains(DefaultGenerated))
    val g3 = one("ALTER TABLE t ADD COLUMN uid bigint GENERATED BY " +
      "DEFAULT AS IDENTITY (START WITH 10 INCREMENT BY 5)")
      .asInstanceOf[AlterTableStmt]
    assert(g3.cmds.head.asInstanceOf[AddColumn].generated
      .contains(IdentityGenerated))
    val g4 = one("ALTER TABLE t ADD COLUMN v int GENERATED ALWAYS AS " +
      "(a + b) VIRTUAL").asInstanceOf[AlterTableStmt]
    assert(g4.cmds.head.asInstanceOf[AddColumn].generated.isEmpty)
    // multi-command: comma inside coalesce() must not end the command
    val m = one("ALTER TABLE t ADD COLUMN d text GENERATED ALWAYS AS " +
      "(coalesce(a, b)) STORED, DROP COLUMN IF EXISTS old_d CASCADE, " +
      "DROP legacy").asInstanceOf[AlterTableStmt]
    assert(m.cmds == Seq(
      AddColumn("d", "text", None, notNull = false,
        generated = Some(StoredGenerated)),
      DropColumn("old_d"), DropColumn("legacy")))
    // DROP CONSTRAINT stays untyped (safe)
    val dc = one("ALTER TABLE t DROP CONSTRAINT c")
      .asInstanceOf[AlterTableStmt]
    assert(dc.cmds.head.isInstanceOf[OtherAlterCmd])
  }

  test("ALTER TABLE ADD CONSTRAINT with and without NOT VALID") {
    val s1 = one("ALTER TABLE users ADD CONSTRAINT chk CHECK (email <> '')")
      .asInstanceOf[AlterTableStmt]
    assert(s1.cmds == Seq(AddConstraint("chk", CheckConstraint, notValid = false)))
    val s2 = one("ALTER TABLE users ADD CONSTRAINT chk CHECK (email <> '') NOT VALID")
      .asInstanceOf[AlterTableStmt]
    assert(s2.cmds == Seq(AddConstraint("chk", CheckConstraint, notValid = true)))
    val s3 = one("ALTER TABLE orders ADD CONSTRAINT fk FOREIGN KEY (uid) REFERENCES users(id) NOT VALID")
      .asInstanceOf[AlterTableStmt]
    assert(s3.cmds == Seq(AddConstraint("fk", ForeignKeyConstraint, notValid = true)))
    val s4 = one("ALTER TABLE users ADD CONSTRAINT uq UNIQUE (email)")
      .asInstanceOf[AlterTableStmt]
    assert(s4.cmds == Seq(AddConstraint("uq", UniqueConstraint, notValid = false)))
  }

  test("ALTER COLUMN TYPE / SET NOT NULL / DROP NOT NULL") {
    val s1 = one("ALTER TABLE users ALTER COLUMN email TYPE VARCHAR(255)")
      .asInstanceOf[AlterTableStmt]
    assert(s1.cmds.head.isInstanceOf[AlterColumnType])
    val s2 = one("ALTER TABLE users ALTER COLUMN email SET DATA TYPE TEXT")
      .asInstanceOf[AlterTableStmt]
    assert(s2.cmds.head == AlterColumnType("email", "TEXT"))
    val s3 = one("ALTER TABLE users ALTER COLUMN status SET NOT NULL")
      .asInstanceOf[AlterTableStmt]
    assert(s3.cmds == Seq(SetNotNull("status")))
    val s4 = one("ALTER TABLE users ALTER COLUMN status DROP NOT NULL")
      .asInstanceOf[AlterTableStmt]
    assert(s4.cmds == Seq(DropNotNull("status")))
    val s5 = one("ALTER TABLE users ALTER COLUMN v TYPE NUMERIC(10,2) USING v::numeric")
      .asInstanceOf[AlterTableStmt]
    assert(s5.cmds.head.asInstanceOf[AlterColumnType].column == "v")
  }

  test("multi-command ALTER TABLE") {
    val s = one("ALTER TABLE users ADD COLUMN a INT DEFAULT 1, ALTER COLUMN b SET NOT NULL, ADD CONSTRAINT c CHECK (a > 0)")
      .asInstanceOf[AlterTableStmt]
    assert(s.cmds.length == 3)
    assert(s.cmds(0).isInstanceOf[AddColumn])
    assert(s.cmds(1) == SetNotNull("b"))
    assert(s.cmds(2) == AddConstraint("c", CheckConstraint, notValid = false))
  }

  test("multi-command ALTER TABLE across ALL typed command kinds in " +
      "one list: each parses to its own cmd in order (the mixed " +
      "matrix the per-kind tests don't cover)") {
    val s = one("ALTER TABLE m ADD COLUMN a INT, " +
      "SET TABLESPACE fast_ssd, " +
      "DETACH PARTITION p2023 CONCURRENTLY, " +
      "ATTACH PARTITION p2024 FOR VALUES FROM (1) TO (10), " +
      "VALIDATE CONSTRAINT chk, " +
      "ADD CONSTRAINT pk PRIMARY KEY USING INDEX pk_idx, " +
      "SET LOGGED, " +
      "ALTER COLUMN b SET NOT NULL")
      .asInstanceOf[AlterTableStmt]
    assert(s.cmds.length == 8, s.cmds)
    assert(s.cmds(0).isInstanceOf[AddColumn])
    assert(s.cmds(1) == SetTableStorage("TABLESPACE"))
    assert(s.cmds(2) == DetachPartition("p2023", concurrent = true))
    assert(s.cmds(3) == AttachPartition("p2024"))
    assert(s.cmds(4) == ValidateConstraint("chk"))
    assert(s.cmds(5) == AddConstraint("pk", PrimaryKeyConstraint,
      notValid = false, usingIndex = true))
    assert(s.cmds(6) == SetTableStorage("LOGGED"))
    assert(s.cmds(7) == SetNotNull("b"))
    // and the rules see through the list: storage rewrite (HIGH, ×2)
    // + non-concurrent detach absent (it was concurrent) + safe
    // USING INDEX attach of the PK
    val findings = new graft.analyzer.Analyzer(targetPgVersion = 14)
      .analyze(graft.model.Migration("001", "t", s.sql + ";", "", "f.sql"))
      .findings
    assert(findings.count(_.rule == "table-storage-rewrite") == 2)
    assert(!findings.exists(_.rule == "detach-partition-not-concurrent"))
    assert(!findings.exists(_.rule == "add-primary-key"))
    assert(findings.exists(_.rule == "attach-partition-validation"))
  }

  test("RENAME statements") {
    val s1 = one("ALTER TABLE users RENAME TO people").asInstanceOf[RenameStmt]
    assert(s1.kind == RenameTable && s1.to == "people")
    val s2 = one("ALTER TABLE users RENAME COLUMN email TO email_address")
      .asInstanceOf[RenameStmt]
    assert(s2.kind == RenameColumn && s2.from == "email" && s2.to == "email_address")
    val s3 = one("ALTER TABLE users RENAME email TO email2")
      .asInstanceOf[RenameStmt]
    assert(s3.kind == RenameColumn)
    val s4 = one("ALTER TABLE users RENAME CONSTRAINT a TO b")
      .asInstanceOf[RenameStmt]
    assert(s4.kind == RenameOther)
  }

  test("DROP TABLE / TRUNCATE multi-table") {
    val s1 = one("DROP TABLE users").asInstanceOf[DropTableStmt]
    assert(s1.tables.map(_.render) == Seq("users") && !s1.ifExists)
    val s2 = one("DROP TABLE IF EXISTS a, b.c").asInstanceOf[DropTableStmt]
    assert(s2.ifExists && s2.tables.map(_.render) == Seq("a", "b.c"))
    val s3 = one("TRUNCATE users, orders").asInstanceOf[TruncateStmt]
    assert(s3.tables.map(_.render) == Seq("users", "orders"))
    val s4 = one("TRUNCATE TABLE ONLY users").asInstanceOf[TruncateStmt]
    assert(s4.tables.map(_.render) == Seq("users"))
  }

  test("VACUUM variants") {
    assert(one("VACUUM FULL users").asInstanceOf[VacuumStmt].full)
    assert(one("VACUUM users") == VacuumStmt(full = false,
      Some(QualifiedName(None, "users")), "VACUUM users"))
    val all = one("VACUUM FULL").asInstanceOf[VacuumStmt]
    assert(all.full && all.table.isEmpty)
    assert(one("VACUUM (FULL, ANALYZE) users").asInstanceOf[VacuumStmt].full)
    assert(!one("VACUUM (ANALYZE) users").asInstanceOf[VacuumStmt].full)
    assert(!one("VACUUM ANALYZE users").asInstanceOf[VacuumStmt].full)
  }

  test("LOCK TABLE") {
    val s1 = one("LOCK TABLE users IN ACCESS EXCLUSIVE MODE")
      .asInstanceOf[LockStmt]
    assert(s1.tables.map(_.render) == Seq("users"))
    assert(s1.mode.contains("ACCESS EXCLUSIVE"))
    val s2 = one("LOCK users, orders").asInstanceOf[LockStmt]
    assert(s2.tables.map(_.render) == Seq("users", "orders"))
  }

  test("a statement that ends where a name is expected is a named parse error") {
    def err(sql: String) = SqlClassifier.parse(sql).left.map(_.detail)
    def after(tok: String) = Left(s"unexpected end of statement after '$tok'")
    assert(err("LOCK") == after("LOCK"))
    assert(err("LOCK TABLE") == after("TABLE"))
    assert(err("DROP TABLE") == after("TABLE"))
    assert(err("DROP TABLE IF EXISTS") == after("EXISTS"))
    assert(err("DROP TABLE a,") == after(","))
    assert(err("ALTER TABLE") == after("TABLE"))
    assert(err("CREATE INDEX i ON") == after("ON"))
    assert(err("TRUNCATE") == after("TRUNCATE"))
    // one bad statement fails the whole migration, not just itself
    assert(err("CREATE TABLE t (id int); LOCK;") == after("LOCK"))
    val e = intercept[graft.model.SqlParseError](SqlClassifier.classify("LOCK"))
    assert(e.detail == "unexpected end of statement after 'LOCK'")
  }

  test("non-DDL statements classify as Other (safe)") {
    assert(one("SELECT * FROM users").isInstanceOf[OtherStmt])
    assert(one("INSERT INTO t VALUES (1)").isInstanceOf[OtherStmt])
    assert(one("UPDATE t SET a = 1").isInstanceOf[OtherStmt])
    assert(one("CREATE VIEW v AS SELECT 1").isInstanceOf[OtherStmt])
    assert(one("ALTER SEQUENCE s RESTART").isInstanceOf[OtherStmt])
  }

  test("DO blocks are their OWN statement kind (not Other): the body " +
      "stays one statement through dollar-quoting, inner semicolons " +
      "and all") {
    val s = one("DO $$ BEGIN ALTER TABLE t DROP COLUMN c; " +
      "PERFORM 1; END $$")
    assert(s.isInstanceOf[DoStmt], s)
    // tagged quoting too, and the body text survives verbatim
    val tagged = one("DO $fn$ BEGIN SELECT 1; END $fn$")
    assert(tagged.isInstanceOf[DoStmt], tagged)
    assert(tagged.sql.contains("SELECT 1"))
  }

  test("ALTER TABLE ... VALIDATE CONSTRAINT parses as " +
      "ValidateConstraint (the safe second half of R3's suggestion), " +
      "also inside a command list") {
    val s = one("ALTER TABLE orders VALIDATE CONSTRAINT chk_total")
    val a = s.asInstanceOf[AlterTableStmt]
    assert(a.table.name == "orders")
    assert(a.cmds == Seq(ValidateConstraint("chk_total")), a.cmds)
    val multi = one("ALTER TABLE t ADD CONSTRAINT c CHECK (a > 0) " +
      "NOT VALID, VALIDATE CONSTRAINT c")
    val m = multi.asInstanceOf[AlterTableStmt]
    assert(m.cmds == Seq(AddConstraint("c", CheckConstraint, true),
      ValidateConstraint("c")), m.cmds)
  }

  test("containsConcurrentOp: fast prefilter + classification") {
    assert(SqlClassifier.containsConcurrentOp(
      "CREATE INDEX CONCURRENTLY i ON t (a)"))
    assert(SqlClassifier.containsConcurrentOp("DROP INDEX CONCURRENTLY i"))
    assert(!SqlClassifier.containsConcurrentOp("CREATE INDEX i ON t (a)"))
    // the word appears but not as an index op
    assert(!SqlClassifier.containsConcurrentOp(
      "INSERT INTO log VALUES ('CONCURRENTLY')"))
    assert(!SqlClassifier.containsConcurrentOp("SELECT 1"))
    // broken SQL mentioning CONCURRENTLY propagates the parse error
    // instead of silently classifying as transactional (concurrent.go)
    intercept[graft.model.SqlParseError] {
      SqlClassifier.containsConcurrentOp(
        "CREATE INDEX CONCURRENTLY i ON t (a); SELECT 'unterminated")
    }
  }

  test("truncateSql caps at 120 chars with ellipsis") {
    val long = "X" * 200
    val tr = SqlClassifier.truncateSql(long)
    assert(tr.length == 120 && tr.endsWith("..."))
    assert(SqlClassifier.truncateSql("short") == "short")
  }

  test("quoted identifiers and schema qualification") {
    val s = one("ALTER TABLE \"My Schema\".\"Users\" ADD COLUMN x INT")
      .asInstanceOf[AlterTableStmt]
    assert(s.table == QualifiedName(Some("My Schema"), "Users"))
  }
}
