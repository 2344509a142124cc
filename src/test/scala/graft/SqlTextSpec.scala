package graft

import graft.sql.{GraftContext, SqlText}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The SQL text module against Spark's reading of the same text: literal,
  * identifier and comment boundaries, the top-level splits the statement
  * layer cuts with, `$n` binding, call rewriting, and a property test
  * that `quote` round-trips every value through Spark, the splitter, a
  * read and an UPDATE. */
class SqlTextSpec extends SparkSpec {

  test("statements cut at ; in code only, the way Spark lexes literals and comments") {
    import SqlText.statements
    assert(statements("SELECT 'a\\'b; c' AS x; SELECT 2") === Seq("SELECT 'a\\'b; c' AS x", "SELECT 2"))
    assert(statements("SELECT 'a''b;c'; SELECT \"d;\\\"e\"") === Seq("SELECT 'a''b;c'", "SELECT \"d;\\\"e\""))
    assert(statements("SELECT `a;``b` FROM t; SELECT r'x\\'; y") === Seq("SELECT `a;``b` FROM t", "SELECT r'x\\'", "y"))
    // a backslash before the newline continues a -- comment, as in Spark
    assert(statements("SELECT 1 -- a \\\n; still comment\n; SELECT 2") === Seq("SELECT 1", "SELECT 2"))
    // comments become a space; a hint is code and stays
    assert(statements("/* x; /* y; */ z; */SELECT /*+ REPARTITION(2) */ 1") ===
      Seq("SELECT /*+ REPARTITION(2) */ 1"))
    // an open literal runs to the end of the text
    assert(statements("SELECT 1; SELECT 'open; x") === Seq("SELECT 1", "SELECT 'open; x"))
  }

  test("complete needs a final ; in code with nothing left open") {
    import SqlText.complete
    assert(complete("SELECT 'it\\'s';"))
    assert(!complete("SELECT 'it\\';"))             // \' keeps the literal open
    assert(!complete("SELECT 1 -- a \\\n;"))        // ; continues the comment
    assert(!complete("SELECT `a;"))
    assert(complete("SELECT /*+ COALESCE(1) */ 1;"))
    assert(!complete("SELECT /*/ 1;"))              // /*/ opens a comment only
  }

  test("mapCode leaves literals, quoted identifiers and comments alone") {
    val up = SqlText.mapCode("select 'a\\'b' x, \"c\" -- d\n, `e`, f /* g */")(_.toUpperCase)
    assert(up === "SELECT 'a\\'b' X, \"c\" -- d\n, `e`, F /* g */")
  }

  test("Reader.upTo skips parentheses, CASE … END, literals and comments") {
    val set = SqlText.reader("a = 'x WHERE y', b = CASE WHEN c THEN (1, 2) END -- WHERE\n WHERE id = 2")
    assert(set.upTo("WHERE") === "a = 'x WHERE y', b = CASE WHEN c THEN (1, 2) END")
    assert(set.is("WHERE") && set.rest() === "id = 2")
    def items(sql: String, sep: String) = { val r = SqlText.reader(sql); r.items(r.upTo(sep), sep) }
    assert(items("a = 'x,y', b = f(1, 2) , c = CASE WHEN d THEN 1 END", ",") ===
      Seq("a = 'x,y'", "b = f(1, 2)", "c = CASE WHEN d THEN 1 END"))
    assert(items("t.k = s.k and t.s = 'a\\' AND b' AND x", "AND") ===
      Seq("t.k = s.k", "t.s = 'a\\' AND b'", "x"))
    // the `)` closing a leading `(`
    val src = SqlText.reader("(SELECT ')' FROM (t)) AS u")
    assert(src.group() === "SELECT ')' FROM (t)" && src.is("AS") && src.name() === "u" && src.atEnd)
  }

  test("Reader reads names by Spark's quoting rules and literals as Spark reads them") {
    val r = SqlText.reader("/* c */ Copy \"my \"\"t\"\"\".`a.b``c` TO 'o\\\\x' WITH (FORMAT csv, 'it''s' 'r')")
    assert(r.peek("COPY") && !r.peek("TO") && r.is("copy"))
    assert(r.qname() === Seq("my \"t\"", "a.b`c"))
    r.want("TO")
    assert(r.string() === "o\\x")
    assert(r.is("WITH") && r.list(if (r.is("FORMAT")) r.name() else r.string() + r.string()) === Seq("csv", "it'sr"))
    assert(r.atEnd)
    // a read that misses says what it expected where
    val e = intercept[IllegalArgumentException](SqlText.reader("DROP TABLE 'x'").want("DROP TABLE IF"))
    assert(e.getMessage === "expected DROP TABLE IF at 'DROP' of: DROP TABLE 'x'")
  }

  test("$n binds in code only") {
    val sql = "SELECT $1, '$2', \"$3\", `$4` -- $5\n, $6"
    assert(SqlText.maxParam(sql) === 6)
    assert(SqlText.bindParams(sql)(n => s"p$n") === "SELECT p1, '$2', \"$3\", `$4` -- $5\n, p6")
    assert(SqlText.bindParams("SELECT $1")(_ => SqlText.quote("$2 \\ '")) === "SELECT '$2 \\\\ \\''")
  }

  test("mapCalls matches name(literal, …) calls, not their spelling inside literals") {
    val seen = Seq.newBuilder[(Seq[String], Seq[String])]
    val out = SqlText.mapCalls(
      "SELECT 'f(1)', \"g('x')\" FROM s.`t``u`('a\\'b'), table_changes('o', 0, 2), h(x), k(1) /* m(2) */") {
      (name, args) => seen += ((name, args.map(_.value))); if (name.last == "k") Some("K") else None
    }
    assert(seen.result() === Seq(
      (Seq("s", "t`u"), Seq("a'b")), (Seq("table_changes"), Seq("o", "0", "2")), (Seq("k"), Seq("1"))))
    assert(out.endsWith("h(x), K /* m(2) */"))
  }

  test("quote and literal read back through Spark") {
    for (v <- Seq("O'Brien", "a\\z", "\\'", "''", "\n\t", "\\u0041", "～😀", "%_\\%"))
      assert(spark.sql("SELECT " + SqlText.quote(v)).head.getString(0) === v)
    assert(SqlText.literal(java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")) ===
      "TIMESTAMP '2024-02-29 12:34:56.789'")
    val r = spark.sql(Seq[Any](java.sql.Date.valueOf("2024-02-29"), 5L, true, "it's")
      .map(SqlText.literal).mkString("SELECT ", ", ", "")).head
    assert(r.getDate(0).toString === "2024-02-29" && r.get(1) == 5 && r.getBoolean(2) &&
      r.getString(3) === "it's")
  }

  test("property: quote(v) reads back as v in Spark, the splitter, a read and an UPDATE") {
    val c = new GraftContext(spark, tmpDir("graft-sqltext"))
    c.execute("CREATE TABLE qt (id BIGINT, s VARCHAR)")
    val fixed = Seq(1L -> "one", 3L -> "three")
    c.execute("INSERT INTO qt VALUES (1, 'one'), (2, 'two'), (3, 'three')")
    val atom = Gen.oneOf("'", "\"", "\\", ";", "-", "/", "*", "$", "(", ")", ",", "\n", " ",
      "WHERE", "system.table_versions", "～", "😀")
    val values = Gen.choose(0, 12).flatMap(Gen.listOfN(_, atom)).map(_.mkString)
    // no shrinking: a failed UPDATE can leave the table changed, so every
    // later value would fail too and the shrunk value would mislead
    val prop = Prop.forAllNoShrink(values) { v =>
      val q = SqlText.quote(v)
      assert(spark.sql("SELECT " + q).head.getString(0) === v)
      assert(SqlText.statements(s"SELECT $q; SELECT 1") === Seq(s"SELECT $q", "SELECT 1"))
      assert(c.executeRead(s"SELECT $q AS x").head.getString(0) === v)
      c.execute(s"UPDATE qt SET s = $q WHERE id = 2")
      val rows = c.executeRead("SELECT id, s FROM qt ORDER BY id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(rows === Seq(fixed.head, 2L -> v, fixed.last))
      true
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, Pretty.pretty(result))
  }
}
