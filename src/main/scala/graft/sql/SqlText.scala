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
  * comments or quotes a value into SQL, the oracle queries and the DDL
  * dispatch regexes of `GraftContext` aside.
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

  /** Start offsets of `token` (a word, matched case-insensitively, or a
    * punctuation mark) where it stands at the top level of `sql`: in code,
    * outside parentheses and outside every `CASE … END`. */
  def topLevel(sql: String, token: String): Seq[Int] = {
    var depth = 0; var cases = 0
    lex(sql)._1.flatMap { l =>
      val hit = depth == 0 && cases == 0 && !isQuoted(l.kind) && !isComment(l.kind) &&
        l.end - l.start == token.length && sql.regionMatches(true, l.start, token, 0, token.length)
      l.kind match {
        case LEFT_PAREN => depth += 1
        case RIGHT_PAREN => depth -= 1
        case CASE => cases += 1
        case END if cases > 0 => cases -= 1
        case _ =>
      }
      if (hit) Some(l.start) else None
    }
  }

  /** The trimmed, non-empty pieces of `sql` between top-level occurrences
    * of `token` (see [[topLevel]]), without the token. */
  def splitTop(sql: String, token: String): Seq[String] = {
    val cuts = topLevel(sql, token)
    (-token.length +: cuts).zip(cuts :+ sql.length)
      .map { case (a, b) => sql.substring(a + token.length, b).trim }
      .filter(_.nonEmpty)
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

  /** A literal argument of a call: a string (its `value` as Spark reads
    * it) or an integer (its digits). */
  final class Arg private[SqlText] (text: String, val quoted: Boolean) {
    lazy val value: String =
      if (!quoted) text
      else CatalystSqlParser.parseExpression(text) match {
        case Literal(v, _) => String.valueOf(v)
        case _ => text // a parser conf that reads "…" as an identifier
      }
  }

  /** `sql` with each call whose arguments are all literals — a dotted
    * name, `(`, string or integer literals separated by `,`, `)` —
    * replaced by `f(name parts, arguments)` where `f` answers. A call
    * spelled inside a literal or a comment is not a call. */
  def mapCalls(sql: String)(f: (Seq[String], Seq[Arg]) => Option[String]): String = {
    val sig = lex(sql)._1.filter(l => l.kind != WS && !isComment(l.kind))
    def kind(i: Int) = if (i < sig.length) sig(i).kind else Token.EOF
    def text(i: Int) = sql.substring(sig(i).start, sig(i).end)
    def isName(i: Int) = kind(i) == BACKQUOTED_IDENTIFIER ||
      (i < sig.length && text(i).forall(c => Character.isLetterOrDigit(c) || c == '_'))
    def part(i: Int) =
      if (kind(i) == BACKQUOTED_IDENTIFIER) text(i).drop(1).dropRight(1).replace("``", "`")
      else text(i)
    // the call starting at lexeme i: (its last lexeme, name parts, arguments)
    def call(i: Int): Option[(Int, Seq[String], Seq[Arg])] = {
      var j = i
      val name = Seq.newBuilder[String] += part(j)
      while (kind(j + 1) == DOT && isName(j + 2)) { j += 2; name += part(j) }
      if (kind(j + 1) != LEFT_PAREN) return None
      val args = Seq.newBuilder[Arg]
      j += 1
      var more = true
      while (more) {
        j += 1
        kind(j) match {
          case STRING_LITERAL | DOUBLEQUOTED_STRING => args += new Arg(text(j), quoted = true)
          case INTEGER_VALUE => args += new Arg(text(j), quoted = false)
          case _ => return None
        }
        j += 1
        more = kind(j) == COMMA
      }
      if (kind(j) == RIGHT_PAREN) Some((j, name.result(), args.result())) else None
    }
    val out = new java.lang.StringBuilder
    var copied = 0
    var i = 0
    while (i < sig.length) {
      val hit = if (isName(i) && (i == 0 || kind(i - 1) != DOT)) call(i) else None
      hit.flatMap { case (last, name, args) => f(name, args).map((last, _)) } match {
        case Some((last, replacement)) =>
          out.append(sql, copied, sig(i).start).append(replacement)
          copied = sig(last).end
          i = last + 1
        case None => i += 1
      }
    }
    out.append(sql, copied, sql.length).toString
  }
}
