package graft.queries

import graft.analyzer.Analyzer
import graft.loader.MigrationLoader
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Catalog._

/** The migration engine's own dataflow exposed as queries — loader,
  * analyzer, pending-set computation (SURVEY.md §2.2 S1-S3, R1-R9, E3).
  * m01-m06 read the repo's SQL fixture corpus, not the sf parquet
  * tables; m07 (post-migration validation) fingerprints the `orders`
  * table.
  * ALL of them are oracle-verified: DuckDB re-derives
  * version/name/checksum/pairing from the same files via read_text +
  * regexp + sha256 (m01, m04), and the analyzer/classifier outputs
  * (m02/m03/m05/m06) against an independent SQL re-implementation of the
  * nine danger rules over the same files (`findingsCte`), cross-checked
  * by the ScalaTest suites against the reference's expected findings.
  */
object MigrationOps {

  val fixturesDir = "/root/repo/fixtures/migrations"

  /** Impact-estimation fixture corpus (m11 / PlanMain --stats-dir):
    * rewrite-class migrations whose target tables are the actual
    * parquet testdata tables, so row-count / histogram estimates have
    * real stats to consume.
    */
  val impactDir = "/root/repo/fixtures/impact"

  /** Shared oracle CTE: filename→(version, name, direction) parse +
    * whitespace trim + up/down pivot, re-deriving the loader's rules in
    * DuckDB (same filename regex, orphan .down skipped; the \s trim
    * equals `String.trim` on the fixtures, which hold no unusual
    * whitespace). Parameterized by fixture dir (m01-m06 and m14 read
    * `fixturesDir`, m11 reads `impactDir`).
    */
  private def loaderCteFor(dir: String): String = {
    val re = "^(?:V(\\d+)|(\\d{14}))_(.+)\\.(up|down)\\.sql$"
    s"""WITH f AS (
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, content
        FROM read_text('$dir/*.sql')),
      p AS (
        SELECT
          CASE WHEN regexp_extract(fname, '$re', 1) <> ''
               THEN regexp_extract(fname, '$re', 1)
               ELSE regexp_extract(fname, '$re', 2) END AS version,
          regexp_extract(fname, '$re', 3) AS name,
          regexp_extract(fname, '$re', 4) AS direction,
          regexp_replace(content, '^\\s+|\\s+$$', '', 'g') AS c
        FROM f WHERE regexp_extract(fname, '$re', 4) <> ''),
      piv AS (
        SELECT version, name,
          max(CASE WHEN direction = 'up' THEN c END) AS up_sql,
          max(CASE WHEN direction = 'down' THEN c END) AS down_sql
        FROM p GROUP BY version, name)"""
  }

  private val loaderCte: String = loaderCteFor(fixturesDir)

  /** One of [[findingsCte]]'s column-type advisories (severity 1, lock
    * NONE): a CREATE TABLE, or an ALTER TABLE … ADD COLUMN, whose text
    * matches the regex `typePattern`; the target is the created or
    * altered table.
    */
  private def sqlColumnTypeRule(rule: String, typePattern: String): String =
    s"""SELECT version, name, stmt_index, '$rule', 1,
          coalesce(nullif(regexp_extract(s,
            '(?i)^\\s*CREATE\\s+(?:TEMP\\s+|TEMPORARY\\s+|UNLOGGED\\s+)?TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1), ''),
            regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1)),
          'NONE'
        FROM stmts
        WHERE (regexp_matches(s, '(?i)^\\s*CREATE\\s+(TEMP\\s+|TEMPORARY\\s+|UNLOGGED\\s+)?TABLE\\b')
               OR (regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
                   AND regexp_matches(s, '(?i)\\bADD\\s+COLUMN\\b')))
          AND regexp_matches(s, '$typePattern')"""

  /** Oracle mini-rule-engine: DuckDB re-derives the analyzer findings
    * independently — regexp classification of each fixture statement plus
    * the statement-triggered danger rules (all 21 with a fixture
    * in the corpus) expressed as SQL predicates at
    * targetPgVersion=14 (so R2 fires only on volatile defaults and R5 is
    * MEDIUM, matching `alter_add_column.go:74-76` /
    * `alter_set_not_null.go:47-50`). Statements are split on ';' — valid
    * for this corpus, which contains no semicolons inside literals or
    * dollar-quoted bodies — so multi-statement fixtures (V025) carry
    * real stmt_index values and the file-level R24 leg can count a
    * file's statements; multi-table DROP/TRUNCATE/LOCK still unnest a
    * split table list like the reference's name extraction
    * (`drop_table.go:60-69`).
    */
  private val findingsCte: String = s"""$loaderCte,
      stmtsx AS (
        SELECT version, name,
          unnest(string_split(up_sql, ';')) AS stmt,
          generate_subscripts(string_split(up_sql, ';'), 1) AS ordpos
        FROM piv WHERE up_sql IS NOT NULL),
      stmts AS (
        SELECT version, name, cast(ordpos - 1 as int) AS stmt_index,
          trim(regexp_replace(stmt, '\\s+', ' ', 'g')) AS s
        FROM stmtsx
        WHERE trim(regexp_replace(stmt, '\\s+', ' ', 'g')) <> ''),
      findings AS (
        SELECT version, name, stmt_index,
          'create-index-not-concurrent' AS rule, 3 AS severity,
          regexp_extract(s, '(?i)\\bON\\s+(?:ONLY\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1) AS table_name,
          'SHARE' AS lock_type
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\b')
          AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'add-column-volatile-default', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)\\bADD\\s+COLUMN\\s+.*\\bDEFAULT\\b')
          AND regexp_matches(s, '(?i)\\bDEFAULT\\s+(NOW|RANDOM|CLOCK_TIMESTAMP|TIMEOFDAY|GEN_RANDOM_UUID|UUID_GENERATE_V4|NEXTVAL)\\s*\\(')
        UNION ALL
        SELECT version, name, stmt_index, 'add-constraint-without-not-valid', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)\\bADD\\s+CONSTRAINT\\s+\\S+\\s+(CHECK|FOREIGN\\s+KEY)\\b')
          AND NOT regexp_matches(s, '(?i)\\bNOT\\s+VALID\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'alter-column-type', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)\\bALTER\\s+COLUMN\\s+\\S+\\s+(SET\\s+DATA\\s+)?TYPE\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'set-not-null', 2,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)\\bALTER\\s+COLUMN\\s+\\S+\\s+SET\\s+NOT\\s+NULL\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'drop-table', 4,
          trim(regexp_replace(t.tname, '(?i)\\s+(CASCADE|RESTRICT)\\s*$$', '')),
          'ACCESS EXCLUSIVE'
        FROM stmts, unnest(string_split(
          regexp_extract(s, '(?i)^\\s*(?:DROP\\s+TABLE|TRUNCATE(?:\\s+TABLE)?)\\s+(?:IF\\s+EXISTS\\s+)?(?:ONLY\\s+)?(.*)$$', 1),
          ',')) AS t(tname)
        WHERE regexp_matches(s, '(?i)^\\s*(DROP\\s+TABLE|TRUNCATE)\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'vacuum-full', 3,
          coalesce(nullif(regexp_extract(s,
            '(?i)^\\s*VACUUM\\s+(?:\\([^)]*\\)\\s+)?FULL\\s+(?:FREEZE\\s+)?(?:VERBOSE\\s+)?(?:ANALYZE\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1), ''),
            '<all tables>'),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*VACUUM\\b') AND regexp_matches(s, '(?i)\\bFULL\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'lock-table', 3, trim(t.tname), 'EXPLICIT'
        FROM stmts, unnest(string_split(regexp_replace(
          regexp_extract(s, '(?i)^\\s*LOCK\\s+(?:TABLE\\s+)?(?:ONLY\\s+)?(.*)$$', 1),
          '(?i)\\s+IN\\s+.*MODE\\s*(NOWAIT)?\\s*$$', ''), ',')) AS t(tname)
        WHERE regexp_matches(s, '(?i)^\\s*LOCK\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'rename', 2,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND NOT regexp_matches(s, '(?i)\\bRENAME\\s+(CONSTRAINT|INDEX)\\b')
          AND (regexp_matches(s, '(?i)\\bRENAME\\s+TO\\b')
               OR regexp_matches(s, '(?i)\\bRENAME\\s+(COLUMN\\s+)?[A-Za-z_][A-Za-z0-9_]*\\s+TO\\b'))
        UNION ALL
        SELECT version, name, stmt_index, 'reindex-not-concurrent', 3,
          coalesce(nullif(regexp_extract(s,
            '(?i)^\\s*REINDEX\\s+(?:\\([^)]*\\)\\s+)?(?:INDEX|TABLE|SCHEMA|DATABASE|SYSTEM)\\s+([A-Za-z_][A-Za-z0-9_.]*)', 1), ''),
            '<index>'),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*REINDEX\\b')
          AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'cluster', 3,
          coalesce(nullif(regexp_extract(s,
            '(?i)^\\s*CLUSTER\\s+(?:VERBOSE\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1), ''),
            '<all clustered tables>'),
          'ACCESS EXCLUSIVE'
        FROM stmts WHERE regexp_matches(s, '(?i)^\\s*CLUSTER\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'refresh-matview-not-concurrent', 3,
          regexp_extract(s,
            '(?i)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\b')
          AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'add-primary-key', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bADD\\s+(CONSTRAINT\\s+\\S+\\s+)?PRIMARY\\s+KEY\\b')
          AND NOT regexp_matches(s, '(?i)\\bUSING\\s+INDEX\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'detach-partition-not-concurrent', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bDETACH\\s+PARTITION\\b')
          AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'attach-partition-validation', 2,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'SHARE UPDATE EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bATTACH\\s+PARTITION\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'create-trigger', 1,
          regexp_extract(s, '(?i)\\bON\\s+(?:ONLY\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'SHARE ROW EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(CONSTRAINT\\s+)?TRIGGER\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'drop-index-not-concurrent', 2,
          regexp_extract(s, '(?i)^\\s*DROP\\s+INDEX\\s+(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*DROP\\s+INDEX\\b')
          AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'table-storage-rewrite', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bSET\\s+(TABLESPACE|LOGGED|UNLOGGED)\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'add-generated-column', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bADD\\s+COLUMN\\b')
          AND (regexp_matches(s, '(?i)\\bGENERATED\\s+ALWAYS\\s+AS\\s*\\(.*\\)\\s*STORED\\b')
               OR regexp_matches(s, '(?i)\\bGENERATED\\s+(ALWAYS|BY\\s+DEFAULT)\\s+AS\\s+IDENTITY\\b'))
        UNION ALL
        SELECT version, name, stmt_index, 'drop-column', 2,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bDROP\\s+COLUMN\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'add-unique-constraint', 3,
          regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
          'ACCESS EXCLUSIVE'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND regexp_matches(s, '(?i)\\bADD\\s+(CONSTRAINT\\s+\\S+\\s+)?UNIQUE\\b')
          AND NOT regexp_matches(s, '(?i)\\bUSING\\s+INDEX\\b')
        UNION ALL
        ${sqlColumnTypeRule("prefer-bigint-key",
          "(?i)[(,\\s]\\s*(id|[a-z_]+_id)\\s+(int|integer|int4|serial)\\b")}
        UNION ALL
        ${sqlColumnTypeRule("prefer-timestamptz",
          "(?i)\\stimestamp\\s*(\\(\\s*\\d+\\s*\\))?(\\s+without\\s+time\\s+zone)?(\\s*[,)]|\\s+(not|null|default|primary|unique|references|check|constraint|generated|collate)\\b|\\s*$)")}
        UNION ALL
        ${sqlColumnTypeRule("ban-char-field",
          "(?i)\\schar(acter)?\\s*\\(\\s*\\d+\\s*\\)")}
        UNION ALL
        SELECT version, name, stmt_index, 'unclassified-alter', 1,
          '', 'UNKNOWN'
        FROM stmts
        WHERE regexp_matches(s, '(?i)^\\s*ALTER\\s+')
          AND NOT regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
          AND NOT regexp_matches(s,
            '(?i)^\\s*ALTER\\s+INDEX\\s+(IF\\s+EXISTS\\s+)?[A-Za-z_][A-Za-z0-9_.]*\\s+RENAME\\s+TO\\b')
        UNION ALL
        SELECT version, name, stmt_index, 'mixed-concurrent-atomicity', 2,
          CASE
            WHEN regexp_matches(s, '(?i)^\\s*CREATE\\b')
              THEN regexp_extract(s, '(?i)\\bON\\s+(?:ONLY\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1)
            WHEN regexp_matches(s, '(?i)^\\s*DROP\\s+INDEX\\b')
              THEN regexp_extract(s, '(?i)^\\s*DROP\\s+INDEX\\s+CONCURRENTLY\\s+(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1)
            WHEN regexp_matches(s, '(?i)^\\s*REINDEX\\b')
              THEN coalesce(nullif(regexp_extract(s,
                '(?i)(?:INDEX|TABLE|SCHEMA|DATABASE|SYSTEM)\\s+(?:CONCURRENTLY\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1), ''), '<index>')
            WHEN regexp_matches(s, '(?i)^\\s*REFRESH\\b')
              THEN regexp_extract(s, '(?i)\\bVIEW\\s+CONCURRENTLY\\s+([A-Za-z_][A-Za-z0-9_.]*)', 1)
            ELSE regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1)
          END,
          'NONE'
        FROM stmts st
        WHERE regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
          AND regexp_matches(s, '(?i)^\\s*(CREATE\\s+(UNIQUE\\s+)?INDEX|DROP\\s+INDEX|REINDEX|REFRESH\\s+MATERIALIZED\\s+VIEW|ALTER\\s+TABLE)\\b')
          AND (NOT regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
               OR regexp_matches(s, '(?i)\\bDETACH\\s+PARTITION\\b'))
          AND (SELECT count(*) FROM stmts st2
               WHERE st2.version = st.version) >= 2)"""

  def queries: Seq[(String, Q)] = Seq(

    // Loader output: version/name/checksum/pairing (S1-S3 + T1 + T2).
    "m01_load_migrations" -> Q(
      (s, _) =>
        MigrationLoader.loadSorted(s, fixturesDir)
          .select(col("version"), col("name"), col("checksum"),
            (col("downSql") =!= "").as("has_down"),
            length(col("upSql")).as("up_len"))
          .orderBy(col("version")),
      Some(s"""$loaderCte
        SELECT version, name, sha256(up_sql) AS checksum,
          down_sql IS NOT NULL AND down_sql <> '' AS has_down,
          cast(length(up_sql) as int) AS up_len
        FROM piv WHERE up_sql IS NOT NULL
        ORDER BY version""")),

    // Analyzer findings: statements × rules flatMap (R1-R9).
    "m02_findings" -> Q(
      (s, _) => {
        val a = new Analyzer(targetPgVersion = 14)
        a.findingsDs(MigrationLoader.loadSorted(s, fixturesDir))
          .select(col("version"),
            col("finding.rule").as("rule"),
            col("finding.severity").as("severity"),
            col("finding.table").as("table_name"),
            col("finding.lockType").as("lock_type"),
            col("finding.stmtIndex").as("stmt_index"))
          .orderBy(col("version"), col("rule"), col("table_name"),
            col("stmt_index"))
      },
      Some(s"""$findingsCte
        SELECT version, rule, severity, table_name, lock_type, stmt_index
        FROM findings
        ORDER BY version, rule, table_name NULLS FIRST, stmt_index""")),

    // Per-migration rollup: max severity + rule set (§3.1 pipeline).
    // Arrays are emitted comma-joined: the verify harness round-trips
    // results through pandas, where array cells are unhashable/unsortable.
    "m03_analysis_summary" -> Q(
      (s, _) =>
        Analyzer.summaryDf(s, MigrationLoader.loadSorted(s, fixturesDir))
          .withColumn("rules", array_join(col("rules"), ",")),
      Some(s"""$findingsCte
        SELECT p.version, p.name,
          coalesce(max(f.severity), 0) AS max_severity,
          cast(count(f.rule) AS bigint) AS n_findings,
          coalesce(string_agg(DISTINCT f.rule, ',' ORDER BY f.rule), '') AS rules
        FROM piv p LEFT JOIN findings f USING (version)
        WHERE p.up_sql IS NOT NULL
        GROUP BY p.version, p.name
        ORDER BY p.version""")),

    // Statement-type census via an explicit udf() over the classifier —
    // the scalar-UDF surface (SURVEY §2.3 UDF/UDAF row). Kept off data-
    // scale hot paths by policy; migration metadata is where a UDF
    // around existing Scala logic is the right tool.
    "m05_stmt_types" -> Q(
      (s, _) => {
        val classify = udf((sql: String) =>
          graft.classify.SqlClassifier.parseOrThrow(sql)
            .map(_.getClass.getSimpleName.stripSuffix("$")))
        MigrationLoader.loadSorted(s, fixturesDir)
          .select(col("version"), explode(classify(col("upSql")))
            .as("stmt_type"))
          .groupBy(col("stmt_type"))
          .agg(count(lit(1)).as("n"),
            array_join(sort_array(collect_set(col("version"))), ",")
              .as("versions"))
          .orderBy(col("stmt_type"))
      },
      Some(s"""$findingsCte,
        cls AS (
          SELECT version, CASE
            WHEN regexp_matches(s, '(?i)^\\s*CREATE\\s+TABLE\\b') THEN 'CreateTableStmt'
            WHEN regexp_matches(s, '(?i)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\b') THEN 'CreateIndexStmt'
            WHEN regexp_matches(s, '(?i)^\\s*DROP\\s+INDEX\\b') THEN 'DropIndexStmt'
            WHEN regexp_matches(s, '(?i)^\\s*DROP\\s+TABLE\\b') THEN 'DropTableStmt'
            WHEN regexp_matches(s, '(?i)^\\s*TRUNCATE\\b') THEN 'TruncateStmt'
            WHEN regexp_matches(s, '(?i)^\\s*VACUUM\\b') THEN 'VacuumStmt'
            WHEN regexp_matches(s, '(?i)^\\s*LOCK\\b') THEN 'LockStmt'
            WHEN regexp_matches(s, '(?i)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(CONSTRAINT\\s+)?TRIGGER\\b')
              THEN 'CreateTriggerStmt'
            WHEN regexp_matches(s, '(?i)^\\s*REINDEX\\b') THEN 'ReindexStmt'
            WHEN regexp_matches(s, '(?i)^\\s*CLUSTER\\b') THEN 'ClusterStmt'
            WHEN regexp_matches(s, '(?i)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\b')
              THEN 'RefreshMatViewStmt'
            WHEN regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b')
                 AND regexp_matches(s, '(?i)\\bRENAME\\b')
                 AND NOT regexp_matches(s, '(?i)\\bRENAME\\s+(CONSTRAINT|INDEX)\\b')
              THEN 'RenameStmt'
            WHEN regexp_matches(s, '(?i)^\\s*ALTER\\s+TABLE\\b') THEN 'AlterTableStmt'
            ELSE 'OtherStmt' END AS stmt_type
          FROM stmts)
        SELECT stmt_type, cast(count(*) AS bigint) AS n,
          string_agg(DISTINCT version, ',' ORDER BY version) AS versions
        FROM cls GROUP BY stmt_type ORDER BY stmt_type""")),

    // Typed Aggregator[IN, BUF, OUT]: worst finding per migration with
    // the causing rule as payload (the UDAF surface).
    "m06_worst_finding" -> Q(
      (s, _) => {
        import s.implicits._
        val a = new graft.analyzer.Analyzer()
        val findings = MigrationLoader.loadSorted(s, fixturesDir)
          .flatMap { m =>
            val r = a.analyze(m)
            if (r.findings.isEmpty) Seq((m.version, graft.model.Severity.Safe, ""))
            else r.findings.map(f => (m.version, f.severity, f.rule))
          }
        findings.groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(new graft.functions.MaxSeverityAgg().toColumn.name("worst"))
          .toDF("version", "worst")
          .orderBy(col("version"))
      },
      Some(s"""$findingsCte,
        ws AS (SELECT version, max(severity) AS sev FROM findings GROUP BY version),
        wr AS (
          SELECT f.version, w.sev, max(f.rule) AS rule
          FROM findings f JOIN ws w ON f.version = w.version AND f.severity = w.sev
          GROUP BY f.version, w.sev)
        SELECT p.version,
          coalesce(
            (CASE wr.sev WHEN 4 THEN 'CRITICAL' WHEN 3 THEN 'HIGH'
                         WHEN 2 THEN 'MEDIUM' WHEN 1 THEN 'LOW'
                         ELSE 'SAFE' END) || '(' || wr.rule || ')',
            'SAFE') AS worst
        FROM piv p LEFT JOIN wr USING (version)
        WHERE p.up_sql IS NOT NULL
        ORDER BY p.version""")),

    // Pending-set: migrations not yet applied — the left-anti join the
    // executor runs before applying (E3). Tracker state is a literal
    // 6-row table here; in production it's the parquet tracker.
    "m04_pending_antijoin" -> Q(
      (s, _) => {
        import s.implicits._
        val applied = Seq("001", "002", "003").toDF("version")
        MigrationLoader.loadSorted(s, fixturesDir)
          .join(applied, Seq("version"), "left_anti")
          .select(col("version"), col("name"))
          .orderBy(col("version"))
      },
      Some(s"""$loaderCte
        SELECT version, name FROM piv
        WHERE up_sql IS NOT NULL
          AND version NOT IN ('001', '002', '003')
        ORDER BY version""")),

    // ------------------------------------------------------------------
    // Post-migration data validation — the step a real migration run
    // needs AFTER the S5/S6 ETL copy and which the reference leaves to
    // the operator: prove source and target hold the same rows WITHOUT
    // moving either table. Mechanism: bucket every row by key hash
    // (64 buckets), fingerprint each bucket with an order-independent
    // XOR fold of a canonical-row hash, and compare (count, xor) per
    // bucket — a mismatch names the ~1/64th key range to re-sync,
    // turning "diff two 100 TB tables" into two independent
    // full-scan-once aggregations of 64 rows each (this is the
    // row-count+checksum validation pattern of AWS DMS / pt-table-
    // checksum, re-expressed as two Spark aggregates). Buckets are
    // key MOD 64 — pt-table-checksum's key-range chunking, and
    // deliberately md5-free: a hashed bucket would re-evaluate its
    // md5 in the join-key null filter AND the projection (the plan
    // showed 3 md5/row/side); the row fingerprint is the only md5. The "target"
    // here is the source with one deliberately corrupted row (lowest
    // order key), so the output proves DETECTION: exactly one bucket
    // carries fp_match = false. XOR (not sum) keeps the fold in
    // BIGINT in both engines — no overflow, no HUGEINT promotion.
    // Canonical string uses only exactly-rendered columns (ints,
    // strings, ISO dates); doubles would need a decimal cast first.
    // ------------------------------------------------------------------
    "m07_fingerprint_validate" -> Q(
      (s, d) => {
        val canon = concat_ws("|", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("o_orderdate").cast("date").cast("string"))
        def fps(df: DataFrame, side: String): DataFrame = df
          .select(
            pmod(col("o_orderkey"), lit(64L)).as("bucket"),
            graft.functions.PortableHash.h60col(
              concat(lit("fp_"), canon)).as("rh"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as(s"n_$side"),
            expr("bit_xor(rh)").as(s"fp_$side"))
        val src = t(s, d, "orders")
        // metadata-scale scalar (one min over the key column) picking
        // a deterministic row to corrupt in the simulated target — a
        // scalar subquery inside the plan, not an eager job at
        // construction
        val minKey = src.agg(min(col("o_orderkey"))).scalar()
        val tgt = src.withColumn("o_orderpriority",
          when(col("o_orderkey") === minKey, lit("9-CORRUPTED"))
            .otherwise(col("o_orderpriority")))
        fps(src, "src").join(fps(tgt, "tgt"), Seq("bucket"))
          .select(col("bucket"), col("n_src"), col("n_tgt"),
            (col("fp_src") === col("fp_tgt") &&
              col("n_src") === col("n_tgt")).as("fp_match"))
          .orderBy(col("bucket"))
      },
      Some("""WITH src AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
            cast(cast(o_orderdate as date) as varchar) AS od
          FROM orders),
        mut AS (SELECT min(o_orderkey) AS mk FROM orders),
        tgt AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
            CASE WHEN o_orderkey = (SELECT mk FROM mut)
                 THEN '9-CORRUPTED' ELSE o_orderpriority
            END AS o_orderpriority, od
          FROM src),
        fs AS (
          SELECT o_orderkey % 64 AS bucket,
            cast(count(*) as bigint) AS n_src,
            bit_xor(('0x' || substr(md5('fp_' || o_orderkey || '|' ||
              o_custkey || '|' || o_orderstatus || '|' ||
              o_orderpriority || '|' || od), 1, 15))::BIGINT) AS fp_src
          FROM src GROUP BY 1),
        ft AS (
          SELECT o_orderkey % 64 AS bucket,
            cast(count(*) as bigint) AS n_tgt,
            bit_xor(('0x' || substr(md5('fp_' || o_orderkey || '|' ||
              o_custkey || '|' || o_orderstatus || '|' ||
              o_orderpriority || '|' || od), 1, 15))::BIGINT) AS fp_tgt
          FROM tgt GROUP BY 1)
        SELECT bucket, n_src, n_tgt,
          fp_src = fp_tgt AND n_src = n_tgt AS fp_match
        FROM fs JOIN ft USING (bucket)
        ORDER BY bucket""")),

    // ------------------------------------------------------------------
    // Schema matching via per-column value-overlap sketches — the
    // heterogeneous-migration companion to m07: given a target table
    // whose columns were RENAMED in flight (order_ref, customer_id,
    // status_code, priority_class), recover the column mapping from
    // the DATA, not the names. Per side, ONE scan computes a bounded
    // KMV min-set sketch of every column's value domain (4 aggregators
    // in a single aggregate — k·8 bytes of additive state per column,
    // never a distinct per column); the 4×4 candidate matrix is then
    // pure list arithmetic over 8 metadata rows: estimated Jaccard =
    // shared fraction of the merged k-min-set (Beyer et al., q71's
    // estimator; exact when a column has < k distinct values, as
    // status/priority do here). At 100 TB this is how you map a
    // 400-column legacy dump onto a new schema without reading either
    // table twice — two scan-once sketch passes and an n_cols²
    // metadata computation. argmax per source column (jacc desc,
    // name asc) is the emitted mapping.
    // ------------------------------------------------------------------
    "m08_schema_match" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val kmvset = udaf(new graft.functions.KmvMinSet(k),
          org.apache.spark.sql.Encoders.scalaLong)
        def hv(c: Column): Column =
          graft.functions.PortableHash.h60col(
            concat(lit("smv_"), c.cast("string")))
        val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")
        val renamed = Map("o_orderkey" -> "order_ref",
          "o_custkey" -> "customer_id",
          "o_orderstatus" -> "status_code",
          "o_orderpriority" -> "priority_class")
        val o = t(s, d, "orders")
        def sketches(rename: String => String): DataFrame = o
          .agg(kmvset(hv(col(names(0)))).as("k0"),
            kmvset(hv(col(names(1)))).as("k1"),
            kmvset(hv(col(names(2)))).as("k2"),
            kmvset(hv(col(names(3)))).as("k3"))
          .select(explode(array(
            names.indices.map(i =>
              struct(lit(rename(names(i))).as("cname"),
                col(s"k$i").as("sk"))): _*)).as("e"))
          .select(col("e.cname"), col("e.sk"))
        val srcSk = sketches(identity)
          .select(col("cname").as("src_col"), col("sk").as("ska"))
        val tgtSk = sketches(renamed)
          .select(col("cname").as("tgt_col"), col("sk").as("skb"))
        srcSk.crossJoin(tgtSk)
          .withColumn("m", slice(
            array_sort(array_distinct(concat(col("ska"), col("skb")))),
            1, k))
          .withColumn("shared", size(filter(col("m"), x =>
            array_contains(col("ska"), x) &&
              array_contains(col("skb"), x))))
          .withColumn("jacc", col("shared").cast("double") /
            size(col("m")).cast("double"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("src_col"))
            .orderBy(col("jacc").desc, col("tgt_col"))))
          .filter(col("rn") === 1)
          .select(col("src_col"), col("tgt_col").as("matched_col"),
            col("jacc").as("jacc_est"),
            col("shared").cast("bigint").as("n_shared"))
          .orderBy(col("src_col"))
      },
      Some("""WITH h AS (
          SELECT
            ('0x' || substr(md5('smv_' || cast(o_orderkey as varchar)),
              1, 15))::BIGINT AS h0,
            ('0x' || substr(md5('smv_' || cast(o_custkey as varchar)),
              1, 15))::BIGINT AS h1,
            ('0x' || substr(md5('smv_' || o_orderstatus),
              1, 15))::BIGINT AS h2,
            ('0x' || substr(md5('smv_' || o_orderpriority),
              1, 15))::BIGINT AS h3
          FROM orders),
        s0 AS (SELECT list(h ORDER BY h) AS sk FROM
          (SELECT DISTINCT h0 AS h FROM h ORDER BY h LIMIT 64)),
        s1 AS (SELECT list(h ORDER BY h) AS sk FROM
          (SELECT DISTINCT h1 AS h FROM h ORDER BY h LIMIT 64)),
        s2 AS (SELECT list(h ORDER BY h) AS sk FROM
          (SELECT DISTINCT h2 AS h FROM h ORDER BY h LIMIT 64)),
        s3 AS (SELECT list(h ORDER BY h) AS sk FROM
          (SELECT DISTINCT h3 AS h FROM h ORDER BY h LIMIT 64)),
        src AS (
          SELECT 'o_orderkey' AS src_col, sk AS ska FROM s0
          UNION ALL SELECT 'o_custkey', sk FROM s1
          UNION ALL SELECT 'o_orderstatus', sk FROM s2
          UNION ALL SELECT 'o_orderpriority', sk FROM s3),
        tgt AS (
          SELECT 'order_ref' AS tgt_col, sk AS skb FROM s0
          UNION ALL SELECT 'customer_id', sk FROM s1
          UNION ALL SELECT 'status_code', sk FROM s2
          UNION ALL SELECT 'priority_class', sk FROM s3),
        pairs AS (
          SELECT src_col, tgt_col, ska, skb,
            list_sort(list_distinct(list_concat(ska, skb)))[1:64] AS m
          FROM src, tgt),
        scored AS (
          SELECT src_col, tgt_col,
            len(list_filter(m, x -> list_contains(ska, x)
              AND list_contains(skb, x))) AS shared,
            cast(len(list_filter(m, x -> list_contains(ska, x)
              AND list_contains(skb, x))) as double) /
              cast(len(m) as double) AS jacc
          FROM pairs)
        SELECT src_col, tgt_col AS matched_col, jacc AS jacc_est,
          cast(shared as bigint) AS n_shared
        FROM (SELECT *, row_number() OVER (PARTITION BY src_col
            ORDER BY jacc DESC, tgt_col) AS rn FROM scored) x
        WHERE rn = 1
        ORDER BY src_col""")),

    // ------------------------------------------------------------------
    // Row-level reconciliation diff — the remediation report run AFTER
    // m07 flags a bucket: which keys differ, in which direction, and
    // which COLUMNS drifted (the data-diff tool shape). The simulated
    // target injects all three defect classes deterministically via
    // h60 (m07's inject-the-defect convention, ~1% each): dropped rows
    // (only_in_source), a drifted priority + totalprice (+1.00 —
    // row-local double add, exact in both engines), and re-keyed clone
    // rows beyond the source key span (only_in_target). ONE
    // key-partitioned full-outer join classifies every key; all column
    // comparisons are row-local; the report is metadata-scale (a
    // 4-row census with per-column mismatch attribution). At 100 TB
    // this is a sort-merge join on the primary key — the shape that
    // scales — versus the per-row SELECT-loop a naive validator runs;
    // m07 (64 fingerprint buckets) tells you WHETHER to pay for it.
    // ------------------------------------------------------------------
    "m09_data_diff" -> Q(
      (s, d) => {
        def h(tag: String): Column =
          graft.functions.PortableHash.h60col(
            concat(lit(tag), col("o_orderkey")))
        val src = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        val base = src.filter(h("del_") % 97 =!= 0)
          .withColumn("o_orderpriority",
            when(h("mod_") % 97 === 0, lit("X-DRIFTED"))
              .otherwise(col("o_orderpriority")))
          .withColumn("o_totalprice",
            when(h("mod_") % 97 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        val extra = src.filter(h("ins_") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        val tgt = base.unionAll(extra)
        def pfx(df: DataFrame, p: String): DataFrame =
          df.columns.foldLeft(df)((acc, c) => acc.withColumnRenamed(c, p + c))
        val j = pfx(src, "s_").join(pfx(tgt, "t_"),
          col("s_o_orderkey") === col("t_o_orderkey"), "full_outer")
        val bothSame = col("s_o_custkey") === col("t_o_custkey") &&
          col("s_o_orderstatus") === col("t_o_orderstatus") &&
          col("s_o_totalprice") === col("t_o_totalprice") &&
          col("s_o_orderpriority") === col("t_o_orderpriority")
        j.withColumn("kind",
            when(col("t_o_orderkey").isNull, "only_in_source")
              .when(col("s_o_orderkey").isNull, "only_in_target")
              .when(bothSame, "identical")
              .otherwise("modified"))
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("s_o_custkey") =!= col("t_o_custkey"), 1))
              .as("n_custkey"),
            count(when(col("s_o_orderstatus") =!= col("t_o_orderstatus"),
              1)).as("n_status"),
            count(when(col("s_o_totalprice") =!= col("t_o_totalprice"),
              1)).as("n_price"),
            count(when(col("s_o_orderpriority") =!=
              col("t_o_orderpriority"), 1)).as("n_priority"))
          .orderBy(col("kind"))
      },
      Some("""WITH src AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderpriority
          FROM orders),
        base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
            CASE WHEN ('0x' || substr(md5('mod_' || o_orderkey), 1, 15))
                ::BIGINT % 97 = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice
            END AS o_totalprice,
            CASE WHEN ('0x' || substr(md5('mod_' || o_orderkey), 1, 15))
                ::BIGINT % 97 = 0
              THEN 'X-DRIFTED' ELSE o_orderpriority
            END AS o_orderpriority
          FROM src
          WHERE ('0x' || substr(md5('del_' || o_orderkey), 1, 15))
            ::BIGINT % 97 <> 0),
        extra AS (
          SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
            o_orderstatus, o_totalprice, o_orderpriority
          FROM src
          WHERE ('0x' || substr(md5('ins_' || o_orderkey), 1, 15))
            ::BIGINT % 97 = 0),
        tgt AS (SELECT * FROM base UNION ALL SELECT * FROM extra),
        j AS (
          SELECT s.o_orderkey AS sk, t.o_orderkey AS tk,
            s.o_custkey AS sc, t.o_custkey AS tc,
            s.o_orderstatus AS ss, t.o_orderstatus AS ts2,
            s.o_totalprice AS sp, t.o_totalprice AS tp,
            s.o_orderpriority AS so, t.o_orderpriority AS to2
          FROM src s FULL OUTER JOIN tgt t
            ON s.o_orderkey = t.o_orderkey),
        k AS (
          SELECT *,
            CASE WHEN tk IS NULL THEN 'only_in_source'
              WHEN sk IS NULL THEN 'only_in_target'
              WHEN sc = tc AND ss = ts2 AND sp = tp AND so = to2
                THEN 'identical'
              ELSE 'modified' END AS kind
          FROM j)
        SELECT kind, cast(count(*) as bigint) AS n_rows,
          cast(count(*) FILTER (WHERE sc <> tc) as bigint) AS n_custkey,
          cast(count(*) FILTER (WHERE ss <> ts2) as bigint) AS n_status,
          cast(count(*) FILTER (WHERE sp <> tp) as bigint) AS n_price,
          cast(count(*) FILTER (WHERE so <> to2) as bigint)
            AS n_priority
        FROM k GROUP BY kind
        ORDER BY kind""")),

    // ------------------------------------------------------------------
    // Data-quality rule suite — the dbt-test / Great-Expectations
    // operator: declarative invariants evaluated as a table of
    // (rule, n_checked, n_violations, passed), run AFTER a migration
    // against m09's defect-injected target so the violations tie back
    // to KNOWN injections (the m07 convention, now validating the
    // validator): fk_lineitem_orders fails by exactly the deleted-row
    // class (lineitems orphaned by del_), priority_in_domain by
    // exactly the drifted-row class ('X-DRIFTED' is outside the enum);
    // pk uniqueness, positive totalprice, and the quantity range pass
    // — an all-green report would prove nothing. Scale shape: q77's
    // one-scan discipline — the three orders-side rules share ONE
    // aggregate, both lineitem rules another, and the FK check is one
    // key-partitioned left join; rules are rows, so adding the 400th
    // check grows the output, not the scan count.
    // ------------------------------------------------------------------
    "m10_dq_checks" -> Q(
      (s, d) => {
        def h(tag: String): Column =
          graft.functions.PortableHash.h60col(
            concat(lit(tag), col("o_orderkey")))
        val src = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        val base = src.filter(h("del_") % 97 =!= 0)
          .withColumn("o_orderpriority",
            when(h("mod_") % 97 === 0, lit("X-DRIFTED"))
              .otherwise(col("o_orderpriority")))
        val extra = src.filter(h("ins_") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        // not checkpointed: its two consumers (oAgg, the FK join) each
        // scan orders, in query stages that run side by side, instead
        // of waiting on an eager materialization job
        val tgt = base.unionAll(extra)
        val domain = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        val oAgg = tgt.agg(
          count(lit(1)).as("n_o"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_pk"),
          count(when(!col("o_orderpriority").isin(domain: _*), 1))
            .as("v_dom"),
          count(when(col("o_totalprice") <= 0, 1)).as("v_price"))
        val li = t(s, d, "lineitem")
        val liAgg = li.agg(
          count(lit(1)).as("n_li"),
          count(when(!col("l_quantity").between(1, 50), 1)).as("v_qty"))
        val fk = li.select(col("l_orderkey"))
          .join(tgt.select(col("o_orderkey")).distinct(),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_fk"),
            count(when(col("o_orderkey").isNull, 1)).as("v_fk"))
        val rows = oAgg.select(explode(array(
            struct(lit("pk_orders_unique").as("rule"),
              col("n_o").as("n_checked"), col("v_pk").as("n_violations")),
            struct(lit("priority_in_domain").as("rule"),
              col("n_o").as("n_checked"),
              col("v_dom").as("n_violations")),
            struct(lit("totalprice_positive").as("rule"),
              col("n_o").as("n_checked"),
              col("v_price").as("n_violations")))).as("e"))
          .select(col("e.rule"), col("e.n_checked"),
            col("e.n_violations"))
          .unionAll(liAgg.select(lit("quantity_in_range").as("rule"),
            col("n_li").as("n_checked"), col("v_qty").as("n_violations")))
          .unionAll(fk.select(lit("fk_lineitem_orders").as("rule"),
            col("n_fk").as("n_checked"), col("v_fk").as("n_violations")))
        rows.withColumn("passed", col("n_violations") === 0)
          .orderBy(col("rule"))
      },
      Some("""WITH src AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            o_orderpriority
          FROM orders),
        base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            CASE WHEN ('0x' || substr(md5('mod_' || o_orderkey), 1, 15))
                ::BIGINT % 97 = 0
              THEN 'X-DRIFTED' ELSE o_orderpriority
            END AS o_orderpriority
          FROM src
          WHERE ('0x' || substr(md5('del_' || o_orderkey), 1, 15))
            ::BIGINT % 97 <> 0),
        extra AS (
          SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
            o_orderstatus, o_totalprice, o_orderpriority
          FROM src
          WHERE ('0x' || substr(md5('ins_' || o_orderkey), 1, 15))
            ::BIGINT % 97 = 0),
        tgt AS (SELECT * FROM base UNION ALL SELECT * FROM extra),
        oagg AS (
          SELECT cast(count(*) as bigint) AS n_o,
            cast(count(*) - count(DISTINCT o_orderkey) as bigint)
              AS v_pk,
            cast(count(*) FILTER (WHERE o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
               '5-LOW')) as bigint) AS v_dom,
            cast(count(*) FILTER (WHERE o_totalprice <= 0) as bigint)
              AS v_price
          FROM tgt),
        liagg AS (
          SELECT cast(count(*) as bigint) AS n_li,
            cast(count(*) FILTER (WHERE l_quantity < 1
              OR l_quantity > 50) as bigint) AS v_qty
          FROM lineitem),
        fk AS (
          SELECT cast(count(*) as bigint) AS n_fk,
            cast(count(*) FILTER (WHERE t.o_orderkey IS NULL)
              as bigint) AS v_fk
          FROM lineitem l
          LEFT JOIN (SELECT DISTINCT o_orderkey FROM tgt) t
            ON l.l_orderkey = t.o_orderkey),
        rows_ AS (
          SELECT 'pk_orders_unique' AS rule, n_o AS n_checked,
            v_pk AS n_violations FROM oagg
          UNION ALL
          SELECT 'priority_in_domain', n_o, v_dom FROM oagg
          UNION ALL
          SELECT 'totalprice_positive', n_o, v_price FROM oagg
          UNION ALL
          SELECT 'quantity_in_range', n_li, v_qty FROM liagg
          UNION ALL
          SELECT 'fk_lineitem_orders', n_fk, v_fk FROM fk)
        SELECT rule, n_checked, n_violations,
          n_violations = 0 AS passed
        FROM rows_ ORDER BY rule""")),

    // ------------------------------------------------------------------
    // Stats-driven PLAN impact estimation — the other half of the
    // reference's Phase-7 "impact estimation" (plans/checklist.md:
    // 112-123): for each rewrite-class finding over the impact fixture
    // corpus (whose target tables ARE the parquet testdata tables),
    // estimate the work the migration will do by consuming the
    // engine's own stats family — q77's row counts for the full-scan /
    // table-rewrite mechanisms, and q83's 8-bucket equi-depth
    // histogram (integer-cents boundaries, integer-div interpolation
    // of the straddling bucket) for the predicate-scoped estimate of
    // rows violating a CHECK constraint added without NOT VALID.
    // exact_violating_rows rides along as ground truth: at sf0.01 the
    // histogram estimates 2986 violators vs 2978 exact (+0.3%) from 8
    // bucket summaries instead of a scan. PlanMain --stats-dir prints
    // the same numbers per pending finding (CliRootSpec). Stats-scale
    // frames (1-row estimate/exact/null-count, 3-row counts) broadcast
    // onto the metadata-scale findings; the data-sized work is one
    // histogram aggregate + two counting scans.
    // ------------------------------------------------------------------
    "m11_plan_impact_estimate" -> Q(
      (s, d) => {
        val a = new Analyzer(targetPgVersion = 14)
        val findings = a.findingsDs(MigrationLoader.loadSorted(s, impactDir))
          .select(col("version"),
            col("finding.rule").as("rule"),
            col("finding.table").as("table_name"),
            col("finding.lockType").as("lock_type"))
        val counts = Seq("customer", "orders", "lineitem").map { tn =>
          t(s, d, tn).agg(count(lit(1)).as("n_rows"))
            .select(lit(tn).as("table_name"), col("n_rows"))
        }.reduce(_ unionAll _)
        val cutc = 40000000L // CHECK (o_totalprice < 400000), in cents
        val c = t(s, d, "orders")
          .select(round(col("o_totalprice") * 100).cast("long")
            .as("cents"))
        val b = c.agg(expr("percentile(cents, array(" +
          "0.125d, 0.25d, 0.375d, 0.5d, 0.625d, 0.75d, 0.875d))")
          .as("qs"))
        val hist = c.crossJoin(broadcast(b))
          .withColumn("bucket",
            size(filter(col("qs"), q => q < col("cents"))))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), min(col("cents")).as("mn"),
            max(col("cents")).as("mx"))
        val est = hist.agg(coalesce(sum(
            when(col("mn") >= cutc, col("n"))
              .when(col("mx") >= cutc && col("mx") > col("mn"),
                expr(s"(n * (mx - ${cutc}L)) div (mx - mn)"))
              .otherwise(lit(0L))), lit(0L)).as("est_viol"))
        val ex = c.filter(col("cents") >= cutc)
          .agg(count(lit(1)).as("exact_viol"))
        val nn = t(s, d, "orders")
          .agg(count(when(col("o_orderstatus").isNull, 1))
            .as("null_viol"))
        findings.join(counts, Seq("table_name"))
          .crossJoin(broadcast(est))
          .crossJoin(broadcast(ex))
          .crossJoin(broadcast(nn))
          .select(col("version"), col("rule"), col("table_name"),
            col("lock_type"),
            when(col("rule") === "alter-column-type",
                lit("table-rewrite"))
              .when(col("rule") === "add-constraint-without-not-valid",
                lit("validation-scan"))
              .when(col("rule") === "create-index-not-concurrent",
                lit("index-build-scan"))
              .otherwise(lit("notnull-scan")).as("mechanism"),
            col("n_rows").as("est_affected_rows"),
            when(col("rule") === "add-constraint-without-not-valid",
                col("est_viol"))
              .when(col("rule") === "set-not-null", col("null_viol"))
              .as("est_violating_rows"),
            when(col("rule") === "add-constraint-without-not-valid",
                col("exact_viol"))
              .when(col("rule") === "set-not-null", col("null_viol"))
              .as("exact_violating_rows"))
          .orderBy(col("version"), col("rule"))
      },
      Some(s"""${loaderCteFor(impactDir)},
        stmts AS (
          SELECT version, regexp_replace(regexp_replace(up_sql,
            ';\\s*$$', ''), '\\s+', ' ', 'g') AS s
          FROM piv WHERE up_sql IS NOT NULL),
        findings AS (
          SELECT version, 'create-index-not-concurrent' AS rule,
            regexp_extract(s, '(?i)\\bON\\s+(?:ONLY\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1) AS table_name,
            'SHARE' AS lock_type
          FROM stmts
          WHERE regexp_matches(s, '(?i)^\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\b')
            AND NOT regexp_matches(s, '(?i)\\bCONCURRENTLY\\b')
          UNION ALL
          SELECT version, 'add-constraint-without-not-valid',
            regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
            'ACCESS EXCLUSIVE'
          FROM stmts
          WHERE regexp_matches(s, '(?i)\\bADD\\s+CONSTRAINT\\s+\\S+\\s+(CHECK|FOREIGN\\s+KEY)\\b')
            AND NOT regexp_matches(s, '(?i)\\bNOT\\s+VALID\\b')
          UNION ALL
          SELECT version, 'alter-column-type',
            regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
            'ACCESS EXCLUSIVE'
          FROM stmts
          WHERE regexp_matches(s, '(?i)\\bALTER\\s+COLUMN\\s+\\S+\\s+(SET\\s+DATA\\s+)?TYPE\\b')
          UNION ALL
          SELECT version, 'set-not-null',
            regexp_extract(s, '(?i)^\\s*ALTER\\s+TABLE\\s+(?:ONLY\\s+)?(?:IF\\s+EXISTS\\s+)?([A-Za-z_][A-Za-z0-9_.]*)', 1),
            'ACCESS EXCLUSIVE'
          FROM stmts
          WHERE regexp_matches(s, '(?i)\\bALTER\\s+COLUMN\\s+\\S+\\s+SET\\s+NOT\\s+NULL\\b')),
        counts AS (
          SELECT 'customer' AS table_name,
            cast(count(*) as bigint) AS n_rows FROM customer
          UNION ALL SELECT 'orders', cast(count(*) as bigint) FROM orders
          UNION ALL SELECT 'lineitem', cast(count(*) as bigint)
            FROM lineitem),
        c AS (SELECT cast(round(o_totalprice * 100) as bigint) AS cents
          FROM orders),
        b AS MATERIALIZED (SELECT quantile_cont(cents,
          [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs FROM c),
        hist AS MATERIALIZED (
          SELECT len(list_filter(b.qs, q -> q < c.cents)) AS bucket,
            cast(count(*) as bigint) AS n,
            min(cents) AS mn, max(cents) AS mx
          FROM c, b GROUP BY 1),
        est AS MATERIALIZED (
          SELECT cast(sum(CASE WHEN mn >= 40000000 THEN n
                WHEN mx >= 40000000 AND mx > mn
                  THEN (n * (mx - 40000000)) // (mx - mn)
                ELSE 0 END) as bigint) AS est_viol
          FROM hist),
        ex AS MATERIALIZED (SELECT cast(count(*) as bigint) AS exact_viol
          FROM c WHERE cents >= 40000000),
        nn AS MATERIALIZED (SELECT cast(count(*)
            FILTER (WHERE o_orderstatus IS NULL) as bigint) AS null_viol
          FROM orders)
        SELECT fd.version, fd.rule, fd.table_name, fd.lock_type,
          CASE fd.rule WHEN 'alter-column-type' THEN 'table-rewrite'
               WHEN 'add-constraint-without-not-valid'
                 THEN 'validation-scan'
               WHEN 'create-index-not-concurrent'
                 THEN 'index-build-scan'
               ELSE 'notnull-scan' END AS mechanism,
          cnt.n_rows AS est_affected_rows,
          CASE fd.rule
            WHEN 'add-constraint-without-not-valid' THEN est.est_viol
            WHEN 'set-not-null' THEN nn.null_viol END
            AS est_violating_rows,
          CASE fd.rule
            WHEN 'add-constraint-without-not-valid' THEN ex.exact_viol
            WHEN 'set-not-null' THEN nn.null_viol END
            AS exact_violating_rows
        FROM findings fd JOIN counts cnt USING (table_name), est, ex, nn
        ORDER BY fd.version, fd.rule""")),


    // ------------------------------------------------------------------
    // Post-migration STATS DRIFT report — the check run after a
    // backfill/apply to decide whether the planner statistics (q77 /
    // `graft stats`) must be refreshed and whether the migration moved
    // the data distribution at all: pre-snapshot (the table minus the
    // backfilled decile, o_orderkey % 10 <> 0 — a deterministic stand-
    // in for "before the migration inserted its rows") vs post (full
    // table), per column: rows / exact NDV / min / max and their
    // deltas, with a drift verdict at the 50‰ refresh threshold.
    // Because post ⊇ pre, every delta is non-negative by construction
    // — no signed integer-division semantics cross the engine boundary
    // (Spark div truncates, DuckDB // floors; they agree only on
    // non-negatives). Scale shape: BOTH snapshots come out of ONE scan,
    // and the exact NDVs need no distinct aggregates (six of those
    // expand every row 7× through RewriteDistinctAggregates): the three
    // columns explode to (col_name, v) rows, one aggregate counts each
    // value's rows and pre-side rows, and a per-column aggregate over
    // those takes rows, NDV, min and max, the pre side under npre > 0.
    // ------------------------------------------------------------------
    "m12_stats_drift" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val cols = Seq("o_orderkey", "o_custkey", "tp_cents")
        val base = t(s, d, "orders").select(
          (col("o_orderkey") % 10 =!= 0).as("is_pre"),
          col("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("tp_cents"))
        // one row per (column, value): its row count and pre-side count;
        // a value is in the pre snapshot iff npre > 0
        val perValue = base
          .select(col("is_pre"), explode(array(cols.map(c =>
            struct(lit(c).as("col_name"), col(c).as("v"))): _*)).as("e"))
          .groupBy(col("e.col_name").as("col_name"), col("e.v").as("v"))
          .agg(count(lit(1)).as("n"),
            count(when(col("is_pre"), 1)).as("npre"))
        val inPre = col("npre") > 0
        perValue.groupBy(col("col_name"))
          .agg(sum(col("npre")).as("pre_rows"),
            sum(col("n")).as("post_rows"),
            count(when(inPre, col("v"))).as("pre_ndv"),
            count(col("v")).as("post_ndv"),
            min(when(inPre, col("v"))).as("pre_min"),
            min(col("v")).as("post_min"),
            max(when(inPre, col("v"))).as("pre_max"),
            max(col("v")).as("post_max"))
          .withColumn("rows_added", col("post_rows") - col("pre_rows"))
          .withColumn("ndv_added", col("post_ndv") - col("pre_ndv"))
          .withColumn("ndv_added_permille",
            expr("(1000 * (post_ndv - pre_ndv)) div pre_ndv"))
          .withColumn("min_shift", col("pre_min") - col("post_min"))
          .withColumn("max_shift", col("post_max") - col("pre_max"))
          .withColumn("needs_refresh",
            expr("(1000 * (post_ndv - pre_ndv)) div pre_ndv") > 50 ||
              expr("(1000 * (post_rows - pre_rows)) div pre_rows") > 50)
          .orderBy(col("col_name"))
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey,
            cast(cast(o_totalprice as decimal(18, 2)) * 100 as bigint)
              AS tp_cents,
            o_orderkey % 10 <> 0 AS is_pre
          FROM orders),
        wide AS (
          SELECT
            cast(count(*) as bigint) AS post_rows,
            cast(count(*) FILTER (WHERE is_pre) as bigint) AS pre_rows,
            cast(count(DISTINCT o_orderkey) as bigint) AS nd_post_ok,
            cast(count(DISTINCT o_orderkey) FILTER (WHERE is_pre)
              as bigint) AS nd_pre_ok,
            min(o_orderkey) AS mn_post_ok,
            min(o_orderkey) FILTER (WHERE is_pre) AS mn_pre_ok,
            max(o_orderkey) AS mx_post_ok,
            max(o_orderkey) FILTER (WHERE is_pre) AS mx_pre_ok,
            cast(count(DISTINCT o_custkey) as bigint) AS nd_post_ck,
            cast(count(DISTINCT o_custkey) FILTER (WHERE is_pre)
              as bigint) AS nd_pre_ck,
            min(o_custkey) AS mn_post_ck,
            min(o_custkey) FILTER (WHERE is_pre) AS mn_pre_ck,
            max(o_custkey) AS mx_post_ck,
            max(o_custkey) FILTER (WHERE is_pre) AS mx_pre_ck,
            cast(count(DISTINCT tp_cents) as bigint) AS nd_post_tp,
            cast(count(DISTINCT tp_cents) FILTER (WHERE is_pre)
              as bigint) AS nd_pre_tp,
            min(tp_cents) AS mn_post_tp,
            min(tp_cents) FILTER (WHERE is_pre) AS mn_pre_tp,
            max(tp_cents) AS mx_post_tp,
            max(tp_cents) FILTER (WHERE is_pre) AS mx_pre_tp
          FROM base),
        lng AS (
          SELECT 'o_orderkey' AS col_name, pre_rows, post_rows,
            nd_pre_ok AS pre_ndv, nd_post_ok AS post_ndv,
            mn_pre_ok AS pre_min, mn_post_ok AS post_min,
            mx_pre_ok AS pre_max, mx_post_ok AS post_max
          FROM wide
          UNION ALL
          SELECT 'o_custkey', pre_rows, post_rows, nd_pre_ck, nd_post_ck,
            mn_pre_ck, mn_post_ck, mx_pre_ck, mx_post_ck
          FROM wide
          UNION ALL
          SELECT 'tp_cents', pre_rows, post_rows, nd_pre_tp, nd_post_tp,
            mn_pre_tp, mn_post_tp, mx_pre_tp, mx_post_tp
          FROM wide)
        SELECT col_name, pre_rows, post_rows, pre_ndv, post_ndv,
          pre_min, post_min, pre_max, post_max,
          cast(post_rows - pre_rows as bigint) AS rows_added,
          cast(post_ndv - pre_ndv as bigint) AS ndv_added,
          cast((1000 * (post_ndv - pre_ndv)) // pre_ndv as bigint)
            AS ndv_added_permille,
          cast(pre_min - post_min as bigint) AS min_shift,
          cast(post_max - pre_max as bigint) AS max_shift,
          (1000 * (post_ndv - pre_ndv)) // pre_ndv > 50 OR
            (1000 * (post_rows - pre_rows)) // pre_rows > 50
            AS needs_refresh
        FROM lng ORDER BY col_name""")),


    // ------------------------------------------------------------------
    // Schema-drift diff → GENERATED migration plan → danger gate: the
    // generator half the reference's analyzer implies but never ships
    // (it classifies hand-written DDL; real teams also need the DDL
    // WRITTEN from a schema delta). The live orders schema is diffed
    // against a target spec (drop o_orderpriority, add o_channel
    // string, retype o_custkey → int); each delta becomes the ALTER
    // statement a migration file would carry, and each statement runs
    // through the REAL analyzer — so the generated plan arrives
    // pre-classified (the retype trips R4 HIGH, the no-default add and
    // the drop are safe). Everything is metadata-scale (schema rows);
    // the oracle re-derives the diff from DuckDB's own DESCRIBE of the
    // same parquet with a type-label bridge, so a driver-side schema
    // regeneration changes both engines in lockstep.
    // ------------------------------------------------------------------
    "m13_schema_diff_plan" -> Q(
      (s, d) => {
        import s.implicits._
        val live = t(s, d, "orders").schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        // target spec: the three mutations applied to the live schema
        val target = (live - "o_orderpriority") +
          ("o_channel" -> "string") + ("o_custkey" -> "int")
        val analyzer = new Analyzer(targetPgVersion = 14)
        def classify(ddl: String): (Int, String) = {
          val r = analyzer.analyze(
            graft.model.Migration("m13", "gen", ddl + ";", "", "gen.sql"))
          (r.maxSeverity, r.findings.headOption.map(_.rule).getOrElse(""))
        }
        val rows =
          target.filterNot { case (n, _) => live.contains(n) }.toSeq
            .map { case (n, t2) =>
              ("add_column", n, null: String, t2,
                s"ALTER TABLE orders ADD COLUMN $n $t2")
            } ++
          live.filterNot { case (n, _) => target.contains(n) }.toSeq
            .map { case (n, t0) =>
              ("drop_column", n, t0, null: String,
                s"ALTER TABLE orders DROP COLUMN $n")
            } ++
          target.toSeq.collect {
            case (n, t2) if live.get(n).exists(_ != t2) =>
              ("retype", n, live(n), t2,
                s"ALTER TABLE orders ALTER COLUMN $n TYPE $t2")
          }
        rows.map { case (c, n, t0, t2, ddl) =>
          val (sev, rule) = classify(ddl)
          (c, n, t0, t2, ddl, sev.toLong, rule)
        }.toDF("change", "column_name", "from_type", "to_type", "ddl",
          "severity", "rule")
          .orderBy(col("change"), col("column_name"))
      },
      Some("""WITH s0 AS (
          SELECT column_name AS name,
            CASE column_type WHEN 'BIGINT' THEN 'bigint'
              WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
              WHEN 'INTEGER' THEN 'int' WHEN 'DATE' THEN 'date'
              ELSE lower(column_type) END AS t
          FROM (DESCRIBE SELECT * FROM orders)),
        tgt AS (
          SELECT name, CASE WHEN name = 'o_custkey' THEN 'int'
            ELSE t END AS t
          FROM s0 WHERE name <> 'o_orderpriority'
          UNION ALL SELECT 'o_channel', 'string'),
        diffs AS (
          SELECT 'add_column' AS change, name AS column_name,
            CAST(NULL AS VARCHAR) AS from_type, t AS to_type,
            'ALTER TABLE orders ADD COLUMN ' || name || ' ' || t AS ddl,
            cast(0 as bigint) AS severity, '' AS rule
          FROM tgt WHERE name NOT IN (SELECT name FROM s0)
          UNION ALL
          SELECT 'drop_column', name, t, CAST(NULL AS VARCHAR),
            'ALTER TABLE orders DROP COLUMN ' || name,
            cast(2 as bigint), 'drop-column'
          FROM s0 WHERE name NOT IN (SELECT name FROM tgt)
          UNION ALL
          SELECT 'retype', s0.name, s0.t, tgt.t,
            'ALTER TABLE orders ALTER COLUMN ' || s0.name ||
              ' TYPE ' || tgt.t,
            cast(3 as bigint), 'alter-column-type'
          FROM s0 JOIN tgt USING (name) WHERE s0.t <> tgt.t)
        SELECT change, column_name, from_type, to_type, ddl,
          severity, rule
        FROM diffs
        ORDER BY change, column_name""")),

    // ------------------------------------------------------------------
    // Lock-hazard census over the EXTENDED fixture corpus — one row
    // per (rule, severity, lock type) with the versions that trip it.
    // Exists to pin the four extended registry rules (R12 reindex, R13
    // cluster, R14 refresh-matview, R15 add-primary-key: statements
    // the reference's pg_query parser types but its registry ignores,
    // `internal/analyzer/rules/registry.go:6-19`) against an
    // independent DuckDB re-derivation, m05's census shape. The oracle
    // mini-rule-engine (`findingsCte`) carries all 21 statement-
    // triggered rules, so a rule firing on the wrong fixture or with
    // the wrong lock type hash-fails here even if m02's per-finding
    // listing drifted in the same way.
    // ------------------------------------------------------------------
    "m14_lock_hazard_census" -> Q(
      (s, _) => {
        val a = new Analyzer(targetPgVersion = 14)
        a.findingsDs(MigrationLoader.loadSorted(s, fixturesDir))
          .select(col("version"), col("finding.rule").as("rule"),
            col("finding.severity").as("severity"),
            col("finding.lockType").as("lock_type"))
          .groupBy(col("rule"), col("severity"), col("lock_type"))
          .agg(count(lit(1)).as("n_findings"),
            array_join(sort_array(collect_set(col("version"))), ",")
              .as("versions"))
          .orderBy(col("rule"), col("severity"), col("lock_type"))
      },
      Some(s"""$findingsCte
        SELECT rule, severity, lock_type,
          cast(count(*) AS bigint) AS n_findings,
          string_agg(DISTINCT version, ',' ORDER BY version) AS versions
        FROM findings
        GROUP BY rule, severity, lock_type
        ORDER BY rule, severity, lock_type""")))
}
