package graft

import graft.analyzer.Analyzer
import graft.classify.SqlClassifier
import graft.model.Migration
import org.scalatest.funsuite.AnyFunSuite

/** Differential-fuzz corpus for the SqlClassifier (VERDICT r15 #1):
  * ~200 gnarly real-world PostgreSQL migration statements — partition
  * DDL, every ALTER TABLE sub-form, exotic constraint syntax, COMMENT
  * ON, routine bodies (dollar-quoted AND PG 14 `BEGIN ATOMIC`),
  * parenthesized utility options — asserting three contracts the
  * reference's pg_query parser gives for free
  * (`/root/reference/internal/parser/parser.go:18-33`):
  *
  *  (a) the splitter partitions the whole corpus LOSSLESSLY (no
  *      statement merged, split, or dropped);
  *  (b) every statement a rule SHOULD flag classifies well enough for
  *      that rule to fire — the expected rule-id set is EXACT, so a
  *      false-positive fails the same as a false-negative;
  *  (c) statements outside the subset grammar land in an opaque
  *      container WITH a warning (opaque-do-block / opaque-routine-
  *      body / unclassified-alter — R10's posture), or are genuinely
  *      rule-free (DML/DCL, which the reference registry also
  *      ignores) — never a silently-skipped danger.
  *
  * Every statement below is public-knowledge PostgreSQL syntax (the
  * PG reference manual's DDL grammar).
  */
class ClassifierFuzzSpec extends AnyFunSuite {

  private def analyze(sql: String, pg: Int = 14) =
    new Analyzer(targetPgVersion = pg)
      .analyze(Migration("001", "t", sql, "", "f.sql"))

  /** One corpus entry: statement text (no trailing semicolon) and the
    * EXACT set of rule ids it must fire at PG 14.
    */
  private final case class C(sql: String, expect: Set[String])
  private def c(sql: String, rules: String*): C = C(sql, rules.toSet)

  // rule-id shorthands
  private val IDX = "create-index-not-concurrent"
  private val VOL = "add-column-volatile-default"
  private val CHK = "add-constraint-without-not-valid"
  private val TYP = "alter-column-type"
  private val SNN = "set-not-null"
  private val DRT = "drop-table"
  private val VAC = "vacuum-full"
  private val LCK = "lock-table"
  private val REN = "rename"
  private val ODO = "opaque-do-block"
  private val ORB = "opaque-routine-body"
  private val UAL = "unclassified-alter"
  private val REI = "reindex-not-concurrent"
  private val CLU = "cluster"
  private val RMV = "refresh-matview-not-concurrent"
  private val APK = "add-primary-key"
  private val DET = "detach-partition-not-concurrent"
  private val ATT = "attach-partition-validation"
  private val TRG = "create-trigger"
  private val DIX = "drop-index-not-concurrent"
  private val STO = "table-storage-rewrite"
  private val GEN = "add-generated-column"
  private val DRC = "drop-column"
  private val UNQ = "add-unique-constraint"
  private val BIG = "prefer-bigint-key"
  private val TSZ = "prefer-timestamptz"
  private val CHA = "ban-char-field"

  private val corpus: Seq[C] = Seq(
    // ---- CREATE INDEX zoo -------------------------------------------
    c("CREATE INDEX idx_a ON users (email)", IDX),
    c("CREATE INDEX CONCURRENTLY idx_b ON users (email)"),
    c("CREATE UNIQUE INDEX idx_c ON users (email)", IDX),
    c("CREATE UNIQUE INDEX CONCURRENTLY idx_d ON users (email)"),
    c("CREATE INDEX ON users (email)", IDX),
    c("CREATE INDEX CONCURRENTLY ON users (email)"),
    c("CREATE INDEX IF NOT EXISTS idx_e ON users (email)", IDX),
    c("CREATE INDEX CONCURRENTLY IF NOT EXISTS idx_f ON users (email)"),
    c("CREATE INDEX idx_g ON users USING gin (tags)", IDX),
    c("CREATE INDEX idx_h ON users USING gist (location)", IDX),
    c("CREATE INDEX idx_i ON users USING brin (created_at)", IDX),
    c("CREATE INDEX idx_j ON users USING hash (email)", IDX),
    c("CREATE INDEX idx_k ON users (lower(email))", IDX),
    c("CREATE INDEX idx_l ON users ((first_name || ' ' || last_name))", IDX),
    c("CREATE INDEX idx_m ON users (email text_pattern_ops)", IDX),
    c("CREATE INDEX idx_n ON users (email) INCLUDE (id, status)", IDX),
    c("CREATE INDEX idx_o ON users (email) WITH (fillfactor = 70)", IDX),
    c("CREATE INDEX idx_p ON users (email) TABLESPACE fastspace", IDX),
    c("CREATE INDEX idx_q ON users (email) WHERE deleted_at IS NULL", IDX),
    c("CREATE UNIQUE INDEX idx_r ON users (email) NULLS NOT DISTINCT", IDX),
    c("CREATE INDEX idx_s ON ONLY measurements (logdate)", IDX),
    c("CREATE INDEX idx_t ON myschema.users (email DESC NULLS LAST)", IDX),
    c("create index concurrently idx_u on users(email)"),
    c("CREATE INDEX \"Idx Quoted\" ON \"Users\" (\"Email\")", IDX),
    c("CREATE UNIQUE INDEX CONCURRENTLY idx_v ON users (lower(email)) " +
      "INCLUDE (id) WITH (fillfactor = 90) WHERE active"),
    // ---- ALTER TABLE: ADD COLUMN ------------------------------------
    c("ALTER TABLE users ADD COLUMN bio text"),
    c("ALTER TABLE users ADD bio text"),
    c("ALTER TABLE users ADD COLUMN IF NOT EXISTS bio text"),
    c("ALTER TABLE IF EXISTS users ADD COLUMN bio text"),
    c("ALTER TABLE ONLY users ADD COLUMN bio text"),
    c("ALTER TABLE users ADD COLUMN status text DEFAULT 'active'"),
    c("ALTER TABLE users ADD COLUMN n integer DEFAULT 0 NOT NULL"),
    c("ALTER TABLE users ADD COLUMN r numeric(10,2) DEFAULT 0.0"),
    c("ALTER TABLE users ADD COLUMN f boolean DEFAULT false"),
    c("ALTER TABLE users ADD COLUMN z text DEFAULT NULL"),
    c("ALTER TABLE users ADD COLUMN c5 bigint DEFAULT 5::bigint"),
    c("ALTER TABLE users ADD COLUMN c6 bigint DEFAULT CAST(5 AS bigint)"),
    c("ALTER TABLE users ADD COLUMN ts timestamptz DEFAULT now()", VOL),
    c("ALTER TABLE users ADD COLUMN u uuid DEFAULT gen_random_uuid()", VOL),
    c("ALTER TABLE users ADD COLUMN d date DEFAULT CURRENT_DATE", VOL),
    c("ALTER TABLE users ADD COLUMN e text DEFAULT 'a' || 'b'", VOL),
    c("ALTER TABLE users ADD COLUMN g bigint DEFAULT 1 + 2", VOL),
    c("ALTER TABLE users ADD COLUMN tags text[]"),
    c("ALTER TABLE users ADD COLUMN m jsonb DEFAULT '{}'::jsonb"),
    c("ALTER TABLE users ADD COLUMN nn text COLLATE \"de_DE\" NOT NULL " +
      "DEFAULT 'x'"),
    c("ALTER TABLE users ADD COLUMN chk bigint CHECK (chk > 0)"),
    c("ALTER TABLE users ADD COLUMN parent_id bigint REFERENCES " +
      "users(id) ON DELETE CASCADE"),
    c("ALTER TABLE users ADD COLUMN vec double precision"),
    c("ALTER TABLE users ADD COLUMN iv interval DEFAULT '1 day'"),
    // every spelling of a string constant is a constant (pg_query:
    // A_Const); a backslash in '…' is literal
    c("ALTER TABLE t ADD COLUMN c text DEFAULT E'abc'"),
    c("ALTER TABLE t ADD COLUMN c text DEFAULT $$abc$$"),
    c("ALTER TABLE t ADD COLUMN c text DEFAULT $q$it's$q$ NOT NULL"),
    c("ALTER TABLE t ADD COLUMN c text DEFAULT 'C:\\' NOT NULL"),
    // generated columns
    c("ALTER TABLE users ADD COLUMN disp text GENERATED ALWAYS AS " +
      "(first || ' ' || last) STORED", GEN),
    c("ALTER TABLE users ADD COLUMN gid bigint GENERATED ALWAYS AS IDENTITY",
      GEN),
    c("ALTER TABLE users ADD COLUMN gd bigint GENERATED BY DEFAULT AS " +
      "IDENTITY", GEN),
    c("ALTER TABLE users ADD COLUMN gv text GENERATED ALWAYS AS " +
      "(upper(name)) VIRTUAL"),
    c("ALTER TABLE users ADD COLUMN gu text GENERATED ALWAYS AS " +
      "(coalesce(a, b))", GEN), // omitted keyword implies STORED pre-18
    // column-type advisories
    c("ALTER TABLE users ADD COLUMN user_id integer", BIG),
    c("ALTER TABLE users ADD COLUMN account_id serial", BIG),
    c("ALTER TABLE users ADD COLUMN happened_at timestamp", TSZ),
    c("ALTER TABLE users ADD COLUMN seen timestamp(3) without time zone",
      TSZ),
    c("ALTER TABLE users ADD COLUMN seen_tz timestamp with time zone"),
    c("ALTER TABLE users ADD COLUMN code char(8)", CHA),
    c("ALTER TABLE users ADD COLUMN code2 character(2)", CHA),
    c("ALTER TABLE users ADD COLUMN name2 character varying(50)"),
    c("ALTER TABLE users ADD COLUMN big_id bigint"),
    // ---- ALTER TABLE: type / null churn ------------------------------
    c("ALTER TABLE users ALTER COLUMN email TYPE varchar(255)", TYP),
    c("ALTER TABLE users ALTER COLUMN email SET DATA TYPE text", TYP),
    c("ALTER TABLE users ALTER email TYPE text", TYP),
    c("ALTER TABLE users ALTER COLUMN amount TYPE numeric(12,4) USING " +
      "amount::numeric(12,4)", TYP),
    c("ALTER TABLE users ALTER COLUMN id TYPE bigint USING id::bigint", TYP),
    c("alter table public.users alter column email set data type " +
      "character varying(100)", TYP),
    c("ALTER TABLE users ALTER COLUMN status SET NOT NULL", SNN),
    c("ALTER TABLE users ALTER status SET NOT NULL", SNN),
    c("ALTER TABLE users ALTER COLUMN status DROP NOT NULL"),
    c("ALTER TABLE users ALTER COLUMN status SET DEFAULT 'active'"),
    c("ALTER TABLE users ALTER COLUMN status SET DEFAULT now()"),
    c("ALTER TABLE users ALTER COLUMN status DROP DEFAULT"),
    c("ALTER TABLE users ALTER COLUMN email SET STATISTICS 500"),
    c("ALTER TABLE users ALTER COLUMN blob SET STORAGE EXTERNAL"),
    c("ALTER TABLE users ALTER COLUMN j SET COMPRESSION lz4"),
    // ---- ALTER TABLE: constraints ------------------------------------
    c("ALTER TABLE users ADD CONSTRAINT chk_email CHECK (email ~* " +
      "'^.+@.+$')", CHK),
    c("ALTER TABLE users ADD CONSTRAINT chk_nv CHECK (n > 0) NOT VALID"),
    c("ALTER TABLE users ADD CHECK (n > 0)", CHK),
    c("ALTER TABLE orders ADD CONSTRAINT fk_cust FOREIGN KEY (cust_id) " +
      "REFERENCES customers (id)", CHK),
    c("ALTER TABLE orders ADD CONSTRAINT fk_cust2 FOREIGN KEY (cust_id) " +
      "REFERENCES customers (id) ON DELETE SET NULL NOT VALID"),
    c("ALTER TABLE orders ADD FOREIGN KEY (cust_id) REFERENCES " +
      "customers (id) DEFERRABLE INITIALLY DEFERRED", CHK),
    c("ALTER TABLE users ADD CONSTRAINT uq_email UNIQUE (email)", UNQ),
    c("ALTER TABLE users ADD UNIQUE (email, tenant_id)", UNQ),
    c("ALTER TABLE users ADD CONSTRAINT uq_ui UNIQUE USING INDEX idx_email"),
    c("ALTER TABLE users ADD CONSTRAINT pk_users PRIMARY KEY (id)", APK),
    c("ALTER TABLE users ADD PRIMARY KEY (id, tenant_id)", APK),
    c("ALTER TABLE users ADD CONSTRAINT pk_ui PRIMARY KEY USING INDEX " +
      "uidx_users_id"),
    c("ALTER TABLE users ADD CONSTRAINT ex_room EXCLUDE USING gist " +
      "(room WITH =, during WITH &&)"),
    c("ALTER TABLE users VALIDATE CONSTRAINT chk_email"),
    c("ALTER TABLE users DROP CONSTRAINT chk_email"),
    c("ALTER TABLE users DROP CONSTRAINT IF EXISTS chk_email CASCADE"),
    c("ALTER TABLE users ALTER CONSTRAINT fk_cust DEFERRABLE"),
    c("ALTER TABLE users RENAME CONSTRAINT chk_old TO chk_new"),
    // ---- ALTER TABLE: drop / rename ----------------------------------
    c("ALTER TABLE users DROP COLUMN legacy", DRC),
    c("ALTER TABLE users DROP COLUMN IF EXISTS legacy CASCADE", DRC),
    c("ALTER TABLE users DROP legacy RESTRICT", DRC),
    c("ALTER TABLE users RENAME TO members", REN),
    c("ALTER TABLE users RENAME COLUMN email TO email_address", REN),
    c("ALTER TABLE users RENAME email TO email_address", REN),
    c("ALTER TABLE IF EXISTS sch.users RENAME TO members", REN),
    // ---- ALTER TABLE: storage / partition ----------------------------
    c("ALTER TABLE users SET TABLESPACE fastspace", STO),
    c("ALTER TABLE users SET LOGGED", STO),
    c("ALTER TABLE users SET UNLOGGED", STO),
    c("ALTER TABLE users SET ACCESS METHOD heap2", STO),
    c("ALTER TABLE users SET (fillfactor = 70)"),
    c("ALTER TABLE users SET (autovacuum_enabled = false, " +
      "toast.autovacuum_enabled = false)"),
    c("ALTER TABLE users RESET (fillfactor)"),
    c("ALTER TABLE users REPLICA IDENTITY FULL"),
    c("ALTER TABLE users REPLICA IDENTITY USING INDEX idx_users_id"),
    c("ALTER TABLE users ENABLE ROW LEVEL SECURITY"),
    c("ALTER TABLE users DISABLE TRIGGER audit_trg"),
    c("ALTER TABLE users ENABLE ALWAYS TRIGGER audit_trg"),
    c("ALTER TABLE users OWNER TO app_rw"),
    c("ALTER TABLE users SET SCHEMA archive"),
    c("ALTER TABLE users INHERIT parent_tbl"),
    c("ALTER TABLE users NO INHERIT parent_tbl"),
    c("ALTER TABLE users CLUSTER ON idx_users_email"),
    c("ALTER TABLE users SET WITHOUT CLUSTER"),
    c("ALTER TABLE measurements ATTACH PARTITION m2024 FOR VALUES FROM " +
      "('2024-01-01') TO ('2025-01-01')", ATT),
    c("ALTER TABLE measurements ATTACH PARTITION m_default DEFAULT", ATT),
    c("ALTER TABLE listkeyed ATTACH PARTITION l_eu FOR VALUES IN " +
      "('de', 'fr', 'es')", ATT),
    c("ALTER TABLE hashkeyed ATTACH PARTITION h0 FOR VALUES WITH " +
      "(MODULUS 4, REMAINDER 0)", ATT),
    c("ALTER TABLE measurements DETACH PARTITION m2023", DET),
    c("ALTER TABLE measurements DETACH PARTITION m2023 CONCURRENTLY"),
    c("ALTER TABLE measurements DETACH PARTITION m2023 FINALIZE"),
    // multi-command lists: each sub-command's rule fires
    c("ALTER TABLE users ADD COLUMN a bigint, ALTER COLUMN b TYPE text, " +
      "ADD CONSTRAINT cc CHECK (a > 0)", TYP, CHK),
    c("ALTER TABLE users DROP COLUMN x, DROP COLUMN y", DRC),
    c("ALTER TABLE users ADD COLUMN j jsonb DEFAULT '{}'::jsonb NOT NULL, " +
      "ALTER COLUMN k SET NOT NULL", SNN),
    c("ALTER TABLE users ADD COLUMN s text CHECK (f(a, b)), ADD COLUMN " +
      "t bigint GENERATED ALWAYS AS (coalesce(a, b)) STORED", GEN),
    // ---- ALTER non-TABLE: opaque-container posture (R28) -------------
    c("ALTER INDEX idx_users_email SET TABLESPACE fastspace", UAL),
    c("ALTER INDEX idx_users_email RENAME TO idx_members_email"),
    c("ALTER INDEX idx_big SET (fillfactor = 80)", UAL),
    c("ALTER MATERIALIZED VIEW mv_stats SET TABLESPACE fastspace", UAL),
    c("ALTER SEQUENCE users_id_seq RESTART WITH 1000", UAL),
    c("ALTER TYPE mood ADD VALUE IF NOT EXISTS 'meh' AFTER 'ok'", UAL),
    c("ALTER TYPE mood RENAME TO sentiment", UAL),
    c("ALTER VIEW v_active RENAME TO v_live", UAL),
    c("ALTER SCHEMA app RENAME TO app_v2", UAL),
    c("ALTER FUNCTION f(int) OWNER TO app_rw", UAL),
    c("ALTER DATABASE appdb SET timezone TO 'UTC'", UAL),
    c("ALTER ROLE app_rw SET statement_timeout = '5s'", UAL),
    c("ALTER DEFAULT PRIVILEGES IN SCHEMA app GRANT SELECT ON TABLES " +
      "TO readonly", UAL),
    c("ALTER PUBLICATION pub_all ADD TABLE users", UAL),
    c("ALTER FOREIGN TABLE ext_users ADD COLUMN note text", UAL),
    // ---- DROP zoo -----------------------------------------------------
    c("DROP TABLE users", DRT),
    c("DROP TABLE IF EXISTS users CASCADE", DRT),
    c("DROP TABLE a, sch.b RESTRICT", DRT),
    c("DROP INDEX idx_users_email", DIX),
    c("DROP INDEX IF EXISTS idx_a, idx_b CASCADE", DIX),
    c("DROP INDEX CONCURRENTLY idx_users_email"),
    c("DROP INDEX CONCURRENTLY IF EXISTS idx_users_email"),
    c("DROP VIEW IF EXISTS v_active"),
    c("DROP MATERIALIZED VIEW IF EXISTS mv_stats"),
    c("DROP SEQUENCE users_id_seq"),
    c("DROP FUNCTION f(integer, text)"),
    c("DROP TRIGGER audit_trg ON users"),
    c("DROP POLICY p_tenant ON users"),
    c("DROP TYPE mood"),
    c("DROP SCHEMA app CASCADE"),
    c("DROP EXTENSION IF EXISTS pg_trgm"),
    c("DROP RULE r_protect ON users"),
    c("DROP OWNED BY app_rw"),
    // ---- TRUNCATE / VACUUM / LOCK / REINDEX / CLUSTER / REFRESH ------
    c("TRUNCATE users", DRT),
    c("TRUNCATE TABLE users", DRT),
    c("TRUNCATE TABLE ONLY users, ONLY audit_log RESTART IDENTITY " +
      "CASCADE", DRT),
    c("VACUUM users"),
    c("VACUUM"),
    c("VACUUM ANALYZE users"),
    c("VACUUM FULL users", VAC),
    c("VACUUM FULL", VAC),
    c("VACUUM FULL VERBOSE ANALYZE users", VAC),
    c("VACUUM (ANALYZE) users"),
    c("VACUUM (FULL) users", VAC),
    c("VACUUM (FULL, ANALYZE, VERBOSE) users", VAC),
    c("VACUUM (FULL false) users"),
    c("VACUUM (PARALLEL 4) users"),
    c("LOCK TABLE users IN ACCESS EXCLUSIVE MODE", LCK),
    c("LOCK TABLE users IN SHARE ROW EXCLUSIVE MODE NOWAIT", LCK),
    c("LOCK users", LCK),
    c("LOCK TABLE ONLY users, ONLY orders IN SHARE MODE", LCK),
    c("REINDEX TABLE users", REI),
    c("REINDEX INDEX idx_users_email", REI),
    c("REINDEX SCHEMA app", REI),
    c("REINDEX DATABASE appdb", REI),
    c("REINDEX SYSTEM appdb", REI),
    c("REINDEX TABLE CONCURRENTLY users"),
    c("REINDEX INDEX CONCURRENTLY idx_users_email"),
    c("REINDEX (VERBOSE) TABLE users", REI),
    c("REINDEX (CONCURRENTLY) TABLE users"),
    c("REINDEX (CONCURRENTLY, VERBOSE) INDEX idx_users_email"),
    c("CLUSTER users USING idx_users_email", CLU),
    c("CLUSTER users", CLU),
    c("CLUSTER", CLU),
    c("CLUSTER VERBOSE users", CLU),
    c("CLUSTER (VERBOSE) users", CLU),
    c("CLUSTER idx_users_email ON users", CLU), // pre-9.0 legacy form
    c("REFRESH MATERIALIZED VIEW mv_stats", RMV),
    c("REFRESH MATERIALIZED VIEW CONCURRENTLY mv_stats"),
    c("REFRESH MATERIALIZED VIEW sch.mv_stats WITH NO DATA", RMV),
    // ---- CREATE TABLE zoo ---------------------------------------------
    c("CREATE TABLE t1 (id bigserial PRIMARY KEY, email text NOT NULL, " +
      "created_at timestamptz DEFAULT now())"),
    c("CREATE TABLE t2 (id serial PRIMARY KEY)", BIG),
    c("CREATE TABLE t3 (id bigint GENERATED ALWAYS AS IDENTITY, " +
      "happened_at timestamp NOT NULL)", TSZ),
    c("CREATE TABLE t4 (code char(8), note varchar(100))", CHA),
    c("CREATE TABLE t5 (id integer, ts timestamp(6), pad character(3))",
      BIG, TSZ, CHA),
    c("CREATE TABLE IF NOT EXISTS t6 (x int)"),
    c("CREATE TEMP TABLE tmp1 (x int)"),
    c("CREATE TEMPORARY TABLE tmp2 (x int) ON COMMIT DROP"),
    c("CREATE UNLOGGED TABLE scratch (x int)"),
    c("CREATE TABLE measurements (logdate date NOT NULL, peaktemp int) " +
      "PARTITION BY RANGE (logdate)"),
    c("CREATE TABLE m2024 PARTITION OF measurements FOR VALUES FROM " +
      "('2024-01-01') TO ('2025-01-01')"),
    c("CREATE TABLE m_default PARTITION OF measurements DEFAULT"),
    c("CREATE TABLE clone (LIKE users INCLUDING ALL)"),
    c("CREATE TABLE child () INHERITS (parent)"),
    c("CREATE TABLE booking (room bigint, during tsrange, EXCLUDE USING " +
      "gist (room WITH =, during WITH &&))"),
    c("CREATE TABLE wide (a bigint CONSTRAINT a_pos CHECK (a > 0), " +
      "b text UNIQUE, c bigint REFERENCES t1 (id), PRIMARY KEY (a, b))"),
    c("CREATE TABLE \"Quoted Tbl\" (\"Weird Col\" text DEFAULT " +
      "'semi;colon')"),
    c("CREATE TABLE sel AS SELECT 1 AS x"), // CTAS: no column list parse
    // ---- routines / DO / trigger: opaque containers -------------------
    c("DO $$ BEGIN RAISE NOTICE 'hi'; END $$", ODO),
    c("DO $x$ BEGIN EXECUTE 'DROP TABLE users'; END $x$", ODO),
    c("DO LANGUAGE plpgsql $$ BEGIN PERFORM 1; END $$", ODO),
    c("CREATE FUNCTION f_add(a int, b int) RETURNS int AS $$ SELECT " +
      "a + b $$ LANGUAGE sql", ORB),
    c("CREATE OR REPLACE FUNCTION f_danger() RETURNS void AS $body$ " +
      "ALTER TABLE users DROP COLUMN x; DROP TABLE users; $body$ " +
      "LANGUAGE sql", ORB),
    c("CREATE PROCEDURE p_cleanup() LANGUAGE plpgsql AS $$ BEGIN " +
      "DELETE FROM audit_log; END $$", ORB),
    c("CREATE OR REPLACE PROCEDURE sch.p2(x int) LANGUAGE sql AS " +
      "$$ SELECT x $$", ORB),
    c("CREATE FUNCTION f_atomic(a int) RETURNS int LANGUAGE sql BEGIN " +
      "ATOMIC SELECT a + 1; END", ORB),
    c("CREATE FUNCTION f_case(a int) RETURNS int LANGUAGE sql BEGIN " +
      "ATOMIC SELECT CASE WHEN a > 0 THEN a ELSE 0 END; SELECT a; END",
      ORB),
    c("CREATE PROCEDURE p_atomic() LANGUAGE sql BEGIN ATOMIC INSERT " +
      "INTO audit_log VALUES (1); DELETE FROM audit_log WHERE id < 0; " +
      "END", ORB),
    c("CREATE TRIGGER audit_trg AFTER INSERT OR UPDATE OF email ON " +
      "users FOR EACH ROW EXECUTE FUNCTION audit()", TRG),
    c("CREATE TRIGGER t_before BEFORE DELETE ON sch.users FOR EACH " +
      "STATEMENT WHEN (pg_trigger_depth() = 0) EXECUTE PROCEDURE " +
      "guard()", TRG),
    c("CREATE CONSTRAINT TRIGGER ct AFTER INSERT ON users DEFERRABLE " +
      "INITIALLY DEFERRED FOR EACH ROW EXECUTE FUNCTION check_it()", TRG),
    c("CREATE OR REPLACE TRIGGER up_trg BEFORE UPDATE ON users FOR " +
      "EACH ROW EXECUTE FUNCTION touch()", TRG),
    // ---- CREATE other: genuinely rule-free ----------------------------
    c("CREATE VIEW v_active AS SELECT id FROM users WHERE active"),
    c("CREATE OR REPLACE VIEW v2 AS SELECT 1"),
    c("CREATE MATERIALIZED VIEW mv_stats AS SELECT count(*) FROM users"),
    c("CREATE SEQUENCE users_id_seq START WITH 1000 INCREMENT BY 1"),
    c("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')"),
    c("CREATE TYPE pair AS (a int, b int)"),
    c("CREATE DOMAIN email_t AS text CHECK (VALUE ~ '@')"),
    c("CREATE EXTENSION IF NOT EXISTS pg_trgm WITH SCHEMA public"),
    c("CREATE SCHEMA IF NOT EXISTS app AUTHORIZATION app_rw"),
    c("CREATE POLICY p_tenant ON users USING (tenant_id = " +
      "current_setting('app.tenant')::bigint)"),
    c("CREATE RULE r_protect AS ON DELETE TO users DO INSTEAD NOTHING"),
    c("CREATE STATISTICS st_dep (dependencies) ON a, b FROM users"),
    c("CREATE PUBLICATION pub_all FOR ALL TABLES"),
    c("CREATE COLLATION de_ci (provider = icu, locale = 'de-u-ks-level2')"),
    // ---- DML / DCL / session: rule-free by design ---------------------
    c("SELECT 1"),
    c("INSERT INTO users (email) VALUES ('a@b.c'), ('d;e@f.g')"),
    c("UPDATE users SET email = 'x;y@z' WHERE id = 1"),
    c("DELETE FROM users WHERE id = 1"),
    c("MERGE INTO tgt USING src ON tgt.id = src.id WHEN MATCHED THEN " +
      "UPDATE SET v = src.v WHEN NOT MATCHED THEN INSERT VALUES " +
      "(src.id, src.v)"),
    c("WITH d AS (DELETE FROM audit_log WHERE old RETURNING *) INSERT " +
      "INTO archive SELECT * FROM d"),
    c("COPY users (id, email) FROM STDIN WITH (FORMAT csv)"),
    c("CALL p_cleanup()"),
    c("GRANT SELECT, INSERT ON users TO readonly"),
    c("REVOKE ALL ON users FROM public"),
    c("COMMENT ON TABLE users IS 'people; with semicolons'"),
    c("COMMENT ON COLUMN users.email IS 'primary contact'"),
    c("SECURITY LABEL ON TABLE users IS 'classified'"),
    c("SET statement_timeout = '5s'"),
    c("SET LOCAL lock_timeout TO '1s'"),
    c("RESET ALL"),
    c("BEGIN"),
    c("COMMIT"),
    c("ANALYZE users"),
    c("ANALYZE"),
    c("CHECKPOINT"),
    c("NOTIFY channel_x, 'payload;with;semis'"),
    c("EXPLAIN (ANALYZE, BUFFERS) SELECT 1"),
    c("PREPARE q1 AS SELECT $1::int"),
    c("EXECUTE q1 (5)"),
    c("DEALLOCATE q1"),
    c("INSERT INTO t VALUES (E'a\\';b')"),
    c("UPDATE t SET a = 'x;y' WHERE b = $1"),
    c("INSERT INTO a VALUES ($tag$body;with;semis$tag$)"))

  test("corpus: every statement fires EXACTLY its expected rule set " +
      "at PG 14 (false positives fail the same as false negatives)") {
    val failures = corpus.zipWithIndex.flatMap { case (e, i) =>
      val fired = analyze(e.sql).findings.map(_.rule).toSet
      if (fired != e.expect)
        Some(s"[$i] ${e.sql.replaceAll("\\s+", " ").take(72)}\n" +
          s"     fired   ${fired.toSeq.sorted.mkString(", ")}\n" +
          s"     expected ${e.expect.toSeq.sorted.mkString(", ")}")
      else None
    }
    assert(failures.isEmpty,
      s"${failures.length}/${corpus.length} mismatches:\n" +
        failures.mkString("\n"))
  }

  test("corpus: splitter partitions the full concatenation LOSSLESSLY " +
      "(count preserved, each statement byte-equal modulo whitespace)") {
    def normWs(s: String) = s.replaceAll("\\s+", " ").trim
    val joined = corpus.map(_.sql)
      .mkString("", ";\n-- between; statements /* ; */\n", ";\n")
    val split = SqlClassifier.splitStatements(joined)
    assert(split.length == corpus.length,
      s"split ${split.length} != corpus ${corpus.length}")
    corpus.zip(split).zipWithIndex.foreach { case ((e, got), i) =>
      assert(normWs(got) == normWs(e.sql),
        s"[$i] lossless violation:\n  in:  ${normWs(e.sql)}\n" +
          s"  out: ${normWs(got)}")
    }
  }

  test("corpus: no statement vanishes — each classifies to exactly " +
      "one Stmt whose sql survives") {
    corpus.zipWithIndex.foreach { case (e, i) =>
      val stmts = SqlClassifier.parseOrThrow(e.sql)
      assert(stmts.length == 1, s"[$i] got ${stmts.length} stmts")
      assert(stmts.head.sql.nonEmpty, s"[$i] empty sql")
    }
  }

  test("BEGIN ATOMIC bodies: semicolons inside do not split; CASE END " +
      "inside the body does not close it; nesting closes correctly") {
    val sql =
      """CREATE FUNCTION f1(a int) RETURNS int LANGUAGE sql
        |BEGIN ATOMIC
        |  SELECT CASE WHEN a > 0 THEN a ELSE -a END;
        |  SELECT a + 1;
        |END;
        |CREATE INDEX idx_after ON users (email);
        |CREATE PROCEDURE p1() LANGUAGE sql
        |BEGIN ATOMIC
        |  INSERT INTO log VALUES (1);
        |  DELETE FROM log WHERE id < 0;
        |END;
        |DROP TABLE users;""".stripMargin
    val stmts = SqlClassifier.parseOrThrow(sql)
    assert(stmts.length == 4, stmts.map(_.sql.take(30)).mkString(" | "))
    assert(stmts(0).isInstanceOf[SqlClassifier.CreateRoutineStmt])
    assert(stmts(1).isInstanceOf[SqlClassifier.CreateIndexStmt])
    assert(stmts(2).isInstanceOf[SqlClassifier.CreateRoutineStmt])
    assert(stmts(3).isInstanceOf[SqlClassifier.DropTableStmt])
    // the danger INSIDE the atomic body must not fire statement rules,
    // but the container itself warns (opaque-routine-body ×2) and the
    // real top-level dangers still fire
    val r = analyze(sql)
    val byRule = r.findings.groupBy(_.rule).view.mapValues(_.length).toMap
    assert(byRule.getOrElse("opaque-routine-body", 0) == 2)
    assert(byRule.getOrElse("create-index-not-concurrent", 0) == 1)
    assert(byRule.getOrElse("drop-table", 0) == 1)
  }

  test("opaque-container contract: DO / routine / unparsed ALTER all " +
      "warn instead of passing silent, and the warning is LOW (never " +
      "gate-blocking)") {
    val opaque = Seq(
      "DO $$ BEGIN EXECUTE 'VACUUM FULL users'; END $$",
      "CREATE FUNCTION g() RETURNS void AS $$ TRUNCATE users $$ " +
        "LANGUAGE sql",
      "ALTER INDEX idx_x SET TABLESPACE slow",
      "ALTER TYPE mood ADD VALUE 'wat'")
    opaque.foreach { sql =>
      val r = analyze(sql)
      assert(r.findings.nonEmpty, s"silently passed: $sql")
      assert(r.findings.forall(_.severity == graft.model.Severity.Low),
        s"opaque warning must be LOW: $sql")
    }
  }
}
