package graft

import graft.classify.SqlClassifier
import graft.classify.SqlClassifier._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests for the classifier — the one component
  * replacing a real C parser (reference `internal/parser/parser.go:
  * 18-33`), so generative coverage earns its keep here: randomized
  * identifier quoting, keyword case, whitespace, comments, `$$` bodies
  * and multi-command ALTER lists, with the reference's
  * `internal/parser/parser_test.go:13-147` edge cases as the seed
  * shapes.
  *
  * Invariants:
  *   - splitting the rendered join of N statements yields exactly the
  *     N statements (strings, comments and dollar-quoted bodies never
  *     split, inter-statement comments never merge);
  *   - classify(render(ast)) round-trips the structural fields
  *     (statement kind, table name, CONCURRENTLY/UNIQUE/IF EXISTS
  *     flags, ALTER command list) regardless of case, whitespace,
  *     comment placement or identifier quoting;
  *   - statements with unrecognized heads classify as OtherStmt (the
  *     default-safe path) and never throw.
  */
class ClassifierPropSpec extends AnyFunSuite {

  private def checkProp(p: Prop, tests: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  /** parse (comment-stripping split) then classify; exactly 1 stmt. */
  private def one(sql: String): Stmt = {
    val r = SqlClassifier.parseOrThrow(sql)
    assert(r.length == 1, s"expected 1 stmt for: $sql")
    r.head
  }

  /** Sequence a list of generators (avoids Gen.sequence's Buildable). */
  private def seqGen[A](gs: List[Gen[A]]): Gen[List[A]] =
    gs.foldRight(Gen.const(List.empty[A])) { (g, acc) =>
      for { x <- g; xs <- acc } yield x :: xs
    }

  // --------------------------------------------------------------------
  // Generators
  // --------------------------------------------------------------------

  /** Bare identifier: starts with a letter/underscore; avoids the few
    * keywords the grammar gives structural meaning in identifier
    * position.
    */
  private val reserved = Set("on", "to", "if", "only", "add", "drop",
    "alter", "rename", "not", "null", "default", "primary", "unique",
    "references", "check", "constraint", "generated", "collate", "using",
    "type", "set", "data", "column", "table", "index", "concurrently",
    "exists", "cascade", "restrict", "valid")
  private val genBare: Gen[String] = for {
    h <- Gen.oneOf(('a' to 'z') :+ '_')
    t <- Gen.listOfN(5, Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ '_'))
    s = (h :: t).mkString if !reserved(s)
  } yield s

  /** Identifier with evil content, rendered double-quoted; the
    * tokenizer must keep it whole (semicolons, quotes, comment openers
    * inside).
    */
  private val genEvil: Gen[String] = Gen.oneOf(
    "a;b", "has space", "semi;colon--x", "star/*y", "dollar$$tag",
    "quote\"inside", "Mixed Case;")

  /** (asWritten, expectedTokenText): quoted identifiers lose their
    * quotes and keep exact case; `""` escapes collapse.
    */
  private val genIdent: Gen[(String, String)] = Gen.frequency(
    3 -> genBare.map(s => (s, s)),
    1 -> genBare.map(s => ("\"" + s.toUpperCase + "\"", s.toUpperCase)),
    1 -> genEvil.map(s => ("\"" + s.replace("\"", "\"\"") + "\"", s)))

  /** Random inter-token junk that must be semantically invisible:
    * whitespace, line comments, nested block comments.
    */
  private val genGap: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(" ", "  ", "\n", "\t", " \n "),
    1 -> Gen.const(" -- line; comment /* with noise\n"),
    1 -> Gen.const(" /* block ; ' \" comment /* nested */ still */ "))

  /** Random-case keyword (classification is case-insensitive). */
  private def kw(w: String): Gen[String] =
    Gen.oneOf(w.toLowerCase, w.toUpperCase,
      w.toLowerCase.capitalize)

  /** Join words with generated gaps. */
  private def joinGaps(parts: Seq[String]): Gen[String] =
    Gen.listOfN(parts.length - 1, genGap).map { gaps =>
      parts.head + gaps.zip(parts.tail).map { case (g, p) => g + p }
        .mkString
    }

  // --------------------------------------------------------------------
  // Splitter properties
  // --------------------------------------------------------------------

  test("prop: splitting N rendered statements yields exactly N, each " +
      "with its payload intact (quotes/comments/$$ never split)") {
    val genStmt: Gen[String] = Gen.oneOf(
      // payloads chosen so a naive split-on-';' would shred them —
      // seed shapes from parser_test.go:25-40 plus quoting torture
      Gen.const("CREATE TABLE t (x TEXT DEFAULT 'semi;colon')"),
      Gen.const("CREATE TABLE t (x TEXT DEFAULT 'it''s;fine')"),
      Gen.const("CREATE TABLE \"we;ird\" (id INT)"),
      Gen.const("CREATE FUNCTION f() RETURNS void AS $fn$ BEGIN ; 'x'; \" END $fn$ LANGUAGE plpgsql"),
      Gen.const("SELECT E'back\\\\slash;''still'"),
      Gen.const("CREATE TABLE t (x TEXT DEFAULT 'C:\\')"),
      Gen.const("CREATE TABLE t (x TEXT DEFAULT $$a;b$$)"),
      genBare.map(n => s"CREATE TABLE $n (id INT)"),
      genBare.map(n => s"DROP TABLE IF EXISTS $n"))
    checkProp(Prop.forAll(
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genStmt)),
      Gen.listOfN(7, genGap)) { (stmts, gaps) =>
      val g = gaps.iterator
      def gap() = if (g.hasNext) g.next() else " "
      val sql = stmts.map(s => gap() + s + gap() + ";").mkString
      val got = SqlClassifier.splitStatements(sql)
      got.length == stmts.length &&
        got.zip(stmts).forall { case (a, b) =>
          // block comments become a space and statements are trimmed;
          // the payload tokens must survive verbatim
          tokenize(a) == tokenize(b)
        }
    })
  }

  test("prop: splitter on comment/whitespace-only input yields nothing") {
    checkProp(Prop.forAll(Gen.listOfN(5, genGap)) { gaps =>
      SqlClassifier.splitStatements(gaps.mkString) == Nil
    }, tests = 50)
  }

  // --------------------------------------------------------------------
  // classify ∘ render round-trips
  // --------------------------------------------------------------------

  test("prop: CREATE [UNIQUE] INDEX [CONCURRENTLY] round-trips flags, " +
      "index name and table under case/gap/quoting noise") {
    val gen = for {
      unique <- Gen.oneOf(true, false)
      conc <- Gen.oneOf(true, false)
      ifNot <- Gen.oneOf(true, false)
      (idxW, idxT) <- genIdent
      (tblW, tblT) <- genIdent
      parts = Seq(Some("CREATE"), if (unique) Some("UNIQUE") else None,
        Some("INDEX"), if (conc) Some("CONCURRENTLY") else None,
        if (ifNot) Some("IF NOT EXISTS") else None).flatten
      kws <- seqGen(parts.map(kw).toList)
      sql <- joinGaps(kws ++ Seq(idxW, "ON", tblW, "(col)"))
    } yield (sql, unique, conc, idxT, tblT)
    checkProp(Prop.forAll(gen) { case (sql, unique, conc, idxT, tblT) =>
      one(sql) match {
        case CreateIndexStmt(tbl, name, u, c, _) =>
          u == unique && c == conc && name.contains(idxT) &&
            tbl.name == tblT && tbl.schema.isEmpty
        case _ => false
      }
    })
  }

  test("prop: DROP TABLE [IF EXISTS] t1, t2, ... round-trips the table " +
      "list in order, with optional schema qualifiers") {
    val genTbl: Gen[(String, QualifiedName)] = for {
      (sW, sT) <- genIdent
      (nW, nT) <- genIdent
      qualified <- Gen.oneOf(true, false)
    } yield
      if (qualified) (s"$sW.$nW", QualifiedName(Some(sT), nT))
      else (nW, QualifiedName(None, nT))
    val gen = for {
      ifEx <- Gen.oneOf(true, false)
      tbls <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genTbl))
      head <- kw("DROP TABLE")
      sql <- joinGaps(Seq(head) ++
        (if (ifEx) Seq("IF EXISTS") else Nil) ++
        Seq(tbls.map(_._1).mkString(" , ")))
    } yield (sql, ifEx, tbls.map(_._2))
    checkProp(Prop.forAll(gen) { case (sql, ifEx, expect) =>
      one(sql) match {
        case DropTableStmt(tables, gotIfEx, _) =>
          gotIfEx == ifEx && tables == expect
        case _ => false
      }
    })
  }

  test("prop: multi-command ALTER TABLE round-trips the command list " +
      "(ADD COLUMN / TYPE / SET / DROP NOT NULL / ADD CONSTRAINT)") {
    sealed trait C { def render: String; def matches(c: AlterCmd): Boolean }
    case class AddCol(col: String, notNull: Boolean) extends C {
      def render = s"ADD COLUMN $col bigint" +
        (if (notNull) " NOT NULL" else "")
      def matches(c: AlterCmd) = c match {
        case AddColumn(n, tpe, None, nn, None) =>
          n == col && tpe.equalsIgnoreCase("bigint") && nn == notNull
        case _ => false
      }
    }
    case class ColType(col: String) extends C {
      def render = s"ALTER COLUMN $col TYPE numeric ( 10 , 2 )"
      def matches(c: AlterCmd) = c match {
        case AlterColumnType(n, tpe) =>
          n == col && tpe.replace(" ", "").equalsIgnoreCase("numeric(10,2)")
        case _ => false
      }
    }
    case class SetNN(col: String) extends C {
      def render = s"ALTER COLUMN $col SET NOT NULL"
      def matches(c: AlterCmd) = c == SetNotNull(col)
    }
    case class DropNN(col: String) extends C {
      def render = s"ALTER COLUMN $col DROP NOT NULL"
      def matches(c: AlterCmd) = c == DropNotNull(col)
    }
    case class AddCheck(name: String, notValid: Boolean) extends C {
      def render = s"ADD CONSTRAINT $name CHECK (x > 0, y < 2)" +
        (if (notValid) " NOT VALID" else "")
      def matches(c: AlterCmd) = c match {
        case AddConstraint(n, CheckConstraint, nv, _) =>
          n == name && nv == notValid
        case _ => false
      }
    }
    val genCmd: Gen[C] = Gen.oneOf(
      genBare.map(AddCol(_, notNull = true)),
      genBare.map(AddCol(_, notNull = false)),
      genBare.map(ColType(_)),
      genBare.map(SetNN(_)),
      genBare.map(DropNN(_)),
      genBare.map(AddCheck(_, notValid = true)),
      genBare.map(AddCheck(_, notValid = false)))
    val gen = for {
      (tblW, tblT) <- genIdent
      cmds <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genCmd))
      head <- kw("ALTER TABLE")
      sql <- joinGaps(Seq(head, tblW,
        cmds.map(_.render).mkString(" , ")))
    } yield (sql, tblT, cmds)
    checkProp(Prop.forAll(gen) { case (sql, tblT, cmds) =>
      one(sql) match {
        case AlterTableStmt(tbl, got, _) =>
          tbl.name == tblT && got.length == cmds.length &&
            got.zip(cmds).forall { case (g, c) => c.matches(g) }
        case _ => false
      }
    })
  }

  test("prop: unknown statement heads classify as OtherStmt and never " +
      "throw (default-safe path, rules treat them as Safe)") {
    val genWord: Gen[String] = genBare
    checkProp(Prop.forAll(
      Gen.oneOf("SELECT", "INSERT", "UPDATE", "DELETE", "GRANT",
        "REVOKE", "EXPLAIN", "WITH", "ANALYZE", "SECURITY"),
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genWord))) {
      (head, tail) =>
        SqlClassifier.classify(s"$head ${tail.mkString(" ")}") match {
          case OtherStmt(h, _) => h == head
          case _ => false
        }
    })
  }

  test("prop: parse flags unterminated quotes instead of mis-splitting") {
    checkProp(Prop.forAll(genBare) { n =>
      SqlClassifier.parse(s"CREATE TABLE $n (x TEXT DEFAULT 'oops)")
        .isLeft
    }, tests = 50)
  }
}
