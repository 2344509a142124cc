package graft.sql

import java.util.regex.Matcher

import org.antlr.v4.runtime.{CharStreams, Token}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer._

/** The one reader of SQL text. Spark's own lexer (`SqlBaseLexer`, the one
  * `spark.sql` parses with, at its defaults) decides where a string
  * literal, a quoted identifier or a comment starts and ends, so what
  * graft splits, completes or rewrites is what Spark reads afterwards:
  * `'…'` and `"…"` strings with `\x` and doubled-quote escapes, raw
  * `r'…'` strings, `` `…` `` identifiers, `--` comments (a `\` right
  * before the newline continues them) and nested `/* */` comments, where
  * `/*+ … */` is a hint and stays code. Every operation below works on
  * those lexemes; nothing else in `src/main` scans SQL for quotes or
  * comments or quotes a value into SQL, the oracle queries aside. Graft's
  * own statements are read with a [[Reader]] over the same lexemes.
  */
object SqlText {

  /** One lexeme: Spark's token type over `[start, end)` of the text. */
  private final case class Lexeme(kind: Int, start: Int, end: Int)

  /** The lexemes of `sql`, covering it end to end, and whether the text
    * ends inside a literal, a quoted identifier or a block comment. A
    * quote that never closes lexes as one unrecognized character; the
    * rest of the text is then that open literal. */
  private def lex(sql: String): (IndexedSeq[Lexeme], Boolean) = {
    // Spark lexes an upper-cased view of the text (its UpperCaseCharStream);
    // upper-casing code point by code point keeps every offset
    val cps = sql.codePoints().map(Character.toUpperCase(_)).toArray
    val lexer = new SqlBaseLexer(CharStreams.fromString(new String(cps, 0, cps.length)))
    lexer.removeErrorListeners()
    // token offsets count code points; map them back to string indices
    val at: Int => Int =
      if (cps.length == sql.length) identity
      else {
        val idx = new Array[Int](cps.length + 1)
        var i = 0; var k = 0
        while (i < sql.length) { idx(k) = i; i += Character.charCount(sql.codePointAt(i)); k += 1 }
        idx(k) = sql.length
        idx(_)
      }
    val out = IndexedSeq.newBuilder[Lexeme]
    var open = false
    var t = lexer.nextToken()
    while (t.getType != Token.EOF && !open) {
      val start = at(t.getStartIndex)
      open = t.getType == UNRECOGNIZED && "'\"`".indexOf(sql.charAt(start)) >= 0
      out += (if (open) Lexeme(STRING_LITERAL, start, sql.length)
              else Lexeme(t.getType, start, at(t.getStopIndex + 1)))
      t = lexer.nextToken()
    }
    (out.result(), open || lexer.has_unclosed_bracketed_comment)
  }

  private def isComment(kind: Int) = kind == SIMPLE_COMMENT || kind == BRACKETED_COMMENT
  private def isQuoted(kind: Int) =
    kind == STRING_LITERAL || kind == DOUBLEQUOTED_STRING || kind == BACKQUOTED_IDENTIFIER

  /** The statements of a script, cut at each `;` outside literals and
    * comments. Comments become a space, so a leading comment never hides
    * the statement's first keyword; empty statements are dropped. */
  def statements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    lex(sql)._1.foreach { l =>
      if (l.kind == SEMICOLON) { out += cur.toString; cur.setLength(0) }
      else if (isComment(l.kind)) cur.append(' ')
      else cur.append(sql, l.start, l.end)
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** True when the input ends a statement: its last token other than
    * whitespace and comments is `;`, and no literal, quoted identifier or
    * block comment is left open. */
  def complete(sql: String): Boolean = {
    val (lexemes, open) = lex(sql)
    !open && lexemes.reverseIterator.find(l => l.kind != WS && !isComment(l.kind))
      .exists(_.kind == SEMICOLON)
  }

  /** `sql` with `f` applied to each run of code between literals, quoted
    * identifiers and comments, which are kept verbatim. */
  def mapCode(sql: String)(f: String => String): String = {
    val out = new java.lang.StringBuilder
    var from = 0
    lex(sql)._1.foreach { l =>
      if (isQuoted(l.kind) || isComment(l.kind)) {
        out.append(f(sql.substring(from, l.start))).append(sql, l.start, l.end)
        from = l.end
      }
    }
    out.append(f(sql.substring(from))).toString
  }

  private val Param = """\$(\d+)""".r

  /** `sql` with each `$n` placeholder in code replaced by `f(n)`. */
  def bindParams(sql: String)(f: Int => String): String =
    mapCode(sql)(Param.replaceAllIn(_, m => Matcher.quoteReplacement(f(m.group(1).toInt))))

  /** The highest `$n` placeholder in code, 0 when there is none. */
  def maxParam(sql: String): Int = {
    var n = 0
    mapCode(sql) { code => Param.findAllMatchIn(code).foreach(m => n = n max m.group(1).toInt); code }
    n
  }

  /** A string literal that Spark reads back as exactly `v`. */
  def quote(v: String): String = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** A JVM value as a SQL literal of its type: strings quoted,
    * timestamps and dates typed, anything else as `String.valueOf`
    * writes it (numbers, booleans). */
  def literal(v: Any): String = v match {
    case s: String => quote(s)
    case ts: java.sql.Timestamp => "TIMESTAMP " + quote(ts.toString)
    case d: java.sql.Date => "DATE " + quote(d.toString)
    case other => String.valueOf(other)
  }

  /** A backquoted identifier Spark reads back as the name `parts`. */
  def ident(parts: String*): String = parts.map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** The value of a string literal lexeme, as Spark reads it. */
  private def valueOf(text: String): String = CatalystSqlParser.parseExpression(text) match {
    case Literal(v, _) => String.valueOf(v)
    case _ => text // a parser conf that reads "…" as an identifier
  }

  /** A `"…"` or `` `…` `` identifier's name: the quotes dropped and a
    * doubled quote read as one, Spark's rule for both. */
  private def unquote(text: String): String = {
    val q = text.substring(0, 1)
    text.substring(1, text.length - 1).replace(q + q, q)
  }

  /** A literal argument of a call: a string (its `value` as Spark reads
    * it) or an integer (its digits). */
  final class Arg private[SqlText] (text: String, val quoted: Boolean) {
    lazy val value: String = if (quoted) valueOf(text) else text
  }

  private def isWord(t: String) = t.nonEmpty && t.forall(c => Character.isLetterOrDigit(c) || c == '_')

  /** The lexemes of `sql` other than whitespace and comments. */
  private def code(sql: String) = lex(sql)._1.filter(l => l.kind != WS && !isComment(l.kind))

  /** `sql` with runs of code replaced that start at a dotted name (words
    * or `` `…` `` parts joined by `.`): `f(its parts, the index of the
    * lexeme after it)` answers with the run's last lexeme and its text. */
  private def mapAtNames(sql: String, sig: IndexedSeq[Lexeme])(
      f: (Seq[String], Int) => Option[(Int, String)]): String = {
    def text(i: Int) = sql.substring(sig(i).start, sig(i).end)
    def isName(i: Int) = i < sig.length && (sig(i).kind == BACKQUOTED_IDENTIFIER || isWord(text(i)))
    def part(i: Int) = if (sig(i).kind == BACKQUOTED_IDENTIFIER) unquote(text(i)) else text(i)
    val out = new java.lang.StringBuilder
    var copied = 0
    var i = 0
    while (i < sig.length) {
      var j = i
      if (isName(i) && (i == 0 || sig(i - 1).kind != DOT)) {
        val name = Seq.newBuilder[String] += part(j)
        while (j + 2 < sig.length && sig(j + 1).kind == DOT && isName(j + 2)) { j += 2; name += part(j) }
        f(name.result(), j + 1).foreach { case (last, s) =>
          out.append(sql, copied, sig(i).start).append(s)
          copied = sig(last).end
          j = last
        }
      }
      i = j + 1
    }
    out.append(sql, copied, sql.length).toString
  }

  /** `sql` with each dotted name in code replaced by `f(its parts)` where
    * `f` answers. */
  def mapNames(sql: String)(f: Seq[String] => Option[String]): String =
    mapAtNames(sql, code(sql))((name, after) => f(name).map((after - 1, _)))

  /** `sql` with each call whose arguments are all literals — a dotted
    * name, `(`, string or integer literals separated by `,`, `)` —
    * replaced by `f(name parts, arguments)` where `f` answers. A call
    * spelled inside a literal or a comment is not a call. */
  def mapCalls(sql: String)(f: (Seq[String], Seq[Arg]) => Option[String]): String = {
    val sig = code(sql)
    def kind(i: Int) = if (i < sig.length) sig(i).kind else Token.EOF
    def text(i: Int) = sql.substring(sig(i).start, sig(i).end)
    mapAtNames(sql, sig) { (name, after) =>
      val args = Seq.newBuilder[Arg]
      var j = after
      var ok = kind(j) == LEFT_PAREN
      var more = ok
      while (more) {
        j += 1
        kind(j) match {
          case STRING_LITERAL | DOUBLEQUOTED_STRING => args += new Arg(text(j), quoted = true)
          case INTEGER_VALUE => args += new Arg(text(j), quoted = false)
          case _ => ok = false
        }
        j += 1
        more = ok && kind(j) == COMMA
      }
      if (ok && kind(j) == RIGHT_PAREN) f(name, args.result()).map((j, _)) else None
    }
  }

  /** A cursor over one statement's lexemes, whitespace and comments
    * skipped: how graft's own statements are read. Words match without
    * case and never a quoted lexeme; a read that does not find what it
    * names throws an IllegalArgumentException saying what it expected. */
  final class Reader private[SqlText] (sql: String) {
    private val sig = code(sql)
    private var i = 0

    private def kind(j: Int) = if (j < sig.length) sig(j).kind else Token.EOF
    private def text(j: Int) = if (j < sig.length) sql.substring(sig(j).start, sig(j).end) else ""
    private def span(from: Int) = if (from >= i) "" else sql.substring(sig(from).start, sig(i - 1).end)

    def atEnd: Boolean = i >= sig.length
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"expected $what ${if (atEnd) "at the end" else s"at '${text(i)}'"} of: ${sql.trim}")
    def end(): Unit = if (!atEnd) fail("the end")
    /** The text of the next `n` lexemes, fewer at the end. */
    def head(n: Int): Seq[String] = (i until (i + n).min(sig.length)).map(text)
    /** Whether the next lexemes are the space-separated `words`. */
    def peek(words: String): Boolean = words.split(' ').zipWithIndex.forall { case (w, k) =>
      !isQuoted(kind(i + k)) && text(i + k).equalsIgnoreCase(w)
    }
    /** Reads `words` if they come next. */
    def is(words: String): Boolean = peek(words) && { i += words.count(_ == ' ') + 1; true }
    def want(words: String): Unit = if (!is(words)) fail(words)

    private def next(ok: Boolean, what: String): String = { if (!ok) fail(what); i += 1; text(i - 1) }

    /** One name: a word, or a `"…"` or `` `…` `` identifier. */
    def name(): String = kind(i) match {
      case BACKQUOTED_IDENTIFIER | DOUBLEQUOTED_STRING => unquote(next(ok = true, ""))
      case k => next(!isQuoted(k) && isWord(text(i)), "a name")
    }
    /** A name and its `.`-separated qualifiers. */
    def qname(): Seq[String] = items(name(), ".")
    /** A `'…'` literal's value. */
    def string(): String = valueOf(next(kind(i) == STRING_LITERAL, "a string literal"))
    def int(): Long = next(kind(i) == INTEGER_VALUE, "an integer").toLong
    /** `item`, then more of them after each `sep`. */
    def items[T](item: => T, sep: String = ","): Seq[T] = {
      val out = Seq.newBuilder[T] += item
      while (is(sep)) out += item
      out.result()
    }
    /** `( item, … )`. */
    def list[T](item: => T): Seq[T] = { want("("); val xs = items(item); want(")"); xs }
    /** The text between `(` and its `)`. */
    def group(): String = list(upTo()).head

    /** The text up to the first of `stops` outside parentheses and
      * `CASE … END`, or to the `)` closing an enclosing one, or to the end. */
    def upTo(stops: String*): String = {
      val from = i
      var depth = 0; var cases = 0
      while (!atEnd && !(depth == 0 && cases == 0 && (kind(i) == RIGHT_PAREN || stops.exists(peek)))) {
        kind(i) match {
          case LEFT_PAREN => depth += 1
          case RIGHT_PAREN => depth -= 1
          case CASE => cases += 1
          case END if cases > 0 => cases -= 1
          case _ =>
        }
        i += 1
      }
      span(from)
    }
    /** The rest of the statement. */
    def rest(): String = { val s = upTo(); end(); s }
  }

  def reader(sql: String): Reader = new Reader(sql)
}
