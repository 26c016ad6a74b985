package graft.engine

import org.antlr.v4.runtime.{CharStreams, Token}
import org.antlr.v4.runtime.misc.Interval
import org.apache.spark.sql.catalyst.parser.{SqlBaseLexer => L}

/** The Flink dialect front end (SURVEY.md §7.1 item 3): routes each
  * gateway statement and rewrites the Flink-isms the reference exercises.
  * One pass of Spark's own SQL lexer turns the text into tokens, so '…'
  * literals (with ''), "…" strings, `…` identifiers and comments are
  * opaque to every step, and text Spark SQL parses natively passes
  * through byte-identical.
  */
object DialectShim {

  sealed trait Routed
  final case class EngineDdl(spec: TableSpec) extends Routed
  final case class SetConf(key: String, value: String) extends Routed
  final case class CreateCatalog(name: String, options: Map[String, String]) extends Routed
  final case class UseCatalog(name: String) extends Routed
  final case class StatementSet(statements: Seq[String]) extends Routed
  final case class DropTable(name: String, ifExists: Boolean) extends Routed
  final case class InsertInto(target: String, overwrite: Boolean, query: String) extends Routed
  final case class Passthrough(sql: String) extends Routed

  /** One statement's tokens on the default channel (no whitespace or
    * comments) and, per `(`, the index of its `)` (-1 when unclosed). An
    * unclosed quote, backquote or comment fails, naming its offset (and,
    * when a backslash precedes a later matching quote, that the backslash
    * escaped it); other stray characters are left to Spark's parser. */
  private[engine] final class Stmt(sql: String) {
    private val cs = CharStreams.fromString(sql)
    val toks: IndexedSeq[Token] = {
      val lexer = new L(cs)
      lexer.removeErrorListeners() // no ANTLR console output on stderr
      Iterator.continually(lexer.nextToken()).takeWhile(_.getType != Token.EOF).filter { t =>
        if (t.getType == L.UNRECOGNIZED && "'\"`".contains(t.getText) ||
          lexer.has_unclosed_bracketed_comment) throw new IllegalArgumentException(
          s"unclosed quote, backquote or comment at offset ${t.getStartIndex}: ${t.getText.take(2)}" +
            // Flink has no backslash escapes; Spark's lexer reads \' as one
            (if (!"'\"".contains(t.getText) || sql.indexOf("\\" + t.getText, t.getStartIndex) < 0) ""
             else s" (a backslash escapes the next character in this engine, so \\${t.getText} does not close it)"))
        t.getChannel == Token.DEFAULT_CHANNEL
      }.toIndexedSeq
    }
    val close: Array[Int] = Array.fill(toks.size)(-1)
    toks.indices.foldLeft(List.empty[Int]) { (open, i) =>
      if (toks(i).getType == L.LEFT_PAREN) i :: open
      else if (toks(i).getType != L.RIGHT_PAREN || open.isEmpty) open
      else { close(open.head) = i; open.tail }
    }
    /** Tokens before any trailing `;`. */
    val n: Int = toks.lastIndexWhere(_.getType != L.SEMICOLON) + 1

    def kind(i: Int): Int = if (i < n) toks(i).getType else Token.EOF
    /** Upper-cased text of a word-length token, else "". */
    def word(i: Int): String = if (i >= n || toks(i).getStopIndex - toks(i).getStartIndex > 31) ""
      else toks(i).getText.toUpperCase
    /** Source from char offset `from` until `to`. */
    def src(from: Int, to: Int = cs.size): String = cs.getText(Interval.of(from, to - 1))
    /** Source of tokens [a, b), comments inside included. */
    def text(a: Int, b: Int): String = src(toks(a).getStartIndex, toks(b - 1).getStopIndex + 1)
    def name(a: Int, b: Int): String = text(a, b).stripPrefix("`").stripSuffix("`")
    /** The content of the '…' literal at token `i`, with '' read as '. */
    def str(i: Int): String = toks(i).getText.drop(1).dropRight(1).replace("''", "'")

    /** Non-empty token ranges of [a, b) between commas outside nested ()
      * and type brackets <> (a `>>` closes two). */
    def split(a: Int, b: Int): Seq[(Int, Int)] = {
      val cuts = Seq.newBuilder[Int]
      var (angle, i) = (0, a)
      while (i < b) {
        val k = toks(i).getType
        angle += Angles.getOrElse(k, 0)
        if (k == L.COMMA && angle == 0) cuts += i
        i = if (k == L.LEFT_PAREN && close(i) > i && close(i) < b) close(i) + 1 else i + 1
      }
      val c = cuts.result()
      ((a - 1) +: c).zip(c :+ b).collect { case (x, y) if y > x + 1 => (x + 1, y) }
    }
    def isWord(i: Int): Boolean = i < n && src(toks(i).getStartIndex, toks(i).getStartIndex + 1)
      .forall(c => c.isLetterOrDigit || c == '_' || c == '`')
    /** End of the dotted name `a.b.c` starting at token `a` (`a` if none). */
    def nameEnd(a: Int): Int = {
      var i = if (isWord(a)) a + 1 else a
      while (i > a && kind(i) == L.DOT && isWord(i + 1)) i += 2
      i
    }
  }

  private val Angles = Map(L.LT -> 1, L.GT -> -1, L.SHIFT_RIGHT -> -2, L.SHIFT_RIGHT_UNSIGNED -> -3)

  def route(sql: String): Routed = {
    val s = new Stmt(sql)
    def pass = Passthrough(rewrite(s))
    lazy val eq = s.toks.indexWhere(_.getType == L.EQ)
    (s.word(0), s.word(1)) match {
      case ("CREATE", "TABLE") => FlinkDdl.createTable(s).fold[Routed](pass)(EngineDdl)
      case ("SET", _) if s.n == 4 && s.kind(1) == L.STRING_LITERAL && eq == 2 &&
          s.kind(3) == L.STRING_LITERAL => SetConf(s.str(1), s.str(3))
      // SET key = value, both bare words (anything else is Spark's SET)
      case ("SET", _) if eq > 1 && eq < s.n - 1 &&
          s.text(1, eq).forall(c => c.isLetterOrDigit || "_.-".contains(c)) &&
          !s.text(eq + 1, s.n).exists(_.isWhitespace) => SetConf(s.text(1, eq), s.text(eq + 1, s.n))
      case ("CREATE", "CATALOG") if s.nameEnd(2) == 3 && s.word(3) == "WITH" &&
          s.kind(4) == L.LEFT_PAREN && s.close(4) == s.n - 1 =>
        CreateCatalog(s.name(2, 3), FlinkDdl.options(s, 5, s.n - 1))
      case ("USE", "CATALOG") if s.n == 3 && s.nameEnd(2) == 3 => UseCatalog(s.name(2, 3))
      case ("DROP", "TABLE") =>
        val at = if (s.word(2) == "IF" && s.word(3) == "EXISTS") 4 else 2
        if (s.n > at && s.nameEnd(at) == s.n) DropTable(s.name(at, s.n), at == 4) else pass
      case ("EXECUTE", "STATEMENT") if s.word(2) == "SET" && s.word(3) == "BEGIN" &&
          s.word(s.n - 1) == "END" =>
        val ends = (4 until s.n - 1).filter(s.kind(_) == L.SEMICOLON) :+ (s.n - 1)
        StatementSet(ends.zip(3 +: ends).collect { case (e, b) if e > b + 1 => s.text(b + 1, e) })
      case ("SHOW", "JARS") if s.n == 2 => Passthrough("LIST JARS") // ADD JAR is spelled alike
      case ("INSERT", verb @ ("INTO" | "OVERWRITE"))
          if s.nameEnd(2) > 2 && Set("SELECT", "VALUES")(s.word(s.nameEnd(2))) =>
        InsertInto(s.name(2, s.nameEnd(2)), verb == "OVERWRITE", rewrite(s, s.nameEnd(2)))
      case _ => pass
    }
  }

  /** Legacy Flink group windows TUMBLE/HOP/SESSION and their _START/_END
    * accessors (examples/01-datagen-streaming.flinknb:47) → Spark window
    * functions, where the whole word is followed by `(time, INTERVAL 'n'
    * UNIT[, …])`. HOP(t, slide, size) flips to window(t, size, slide). */
  def rewriteGroupWindows(sql: String): String = rewrite(new Stmt(sql))

  /** The source from token `first` on (all of it when 0), window calls rewritten. */
  private def rewrite(s: Stmt, first: Int = 0): String = {
    val out = new StringBuilder
    var copied = if (first == 0) 0 else s.toks(first).getStartIndex // source copied so far
    for (i <- first until s.n if s.toks(i).getStartIndex >= copied; call <- windowCall(s, i)) {
      out ++= s.src(copied, s.toks(i).getStartIndex) ++= call
      copied = s.toks(s.close(i + 1)).getStopIndex + 1
    }
    (out ++= s.src(copied)).toString
  }

  /** Spark's form of the window call at token `i`, if it is one. */
  private def windowCall(s: Stmt, i: Int): Option[String] = {
    val (fn, c) = (s.word(i), if (s.kind(i + 1) == L.LEFT_PAREN) s.close(i + 1) else -1)
    val kind = fn.takeWhile(_ != '_')
    val arity = if (kind == "HOP") 3 else 2
    val args = if (c < 0 || !Set("TUMBLE", "HOP", "SESSION")(kind) ||
      !Set("", "_START", "_END")(fn.substring(kind.length))) Nil else s.split(i + 2, c)
    val ivs = args.drop(1).flatMap { case (a, b) => FlinkDdl.interval(s, a, b) }
    val spark = if (kind == "SESSION") "session_window" else "window"
    if (args.size != arity || ivs.size != arity - 1) None
    else if (fn != kind) Some(spark + fn.substring(kind.length).toLowerCase.replace('_', '.'))
    else Some(s"$spark(${s.text(args.head._1, args.head._2)}, '${ivs.last}'" +
      (if (kind == "HOP") s", '${ivs.head}')" else ")"))
  }
}
