package graft.engine

import org.apache.spark.sql.catalyst.parser.{SqlBaseLexer => L}
import org.apache.spark.sql.types._

/** Parsed Flink-style `CREATE TABLE … WITH (…)` statement — the one DDL
  * family Spark SQL has no equivalent for (SURVEY.md §2.2, §7.3): schema,
  * optional WATERMARK clause, optional PRIMARY KEY, connector options.
  * Reference shapes: examples/01-datagen-streaming.flinknb:12 (WATERMARK,
  * datagen), examples/02-datagen-batch.flinknb:12,83 (ROW<>, ARRAY<>),
  * flink-runtime/CONNECTORS.md:75-140 (filesystem/kafka/cdc).
  */
final case class WatermarkSpec(column: String, delay: String)

final case class TableSpec(name: String, schema: StructType, watermark: Option[WatermarkSpec],
    primaryKey: Seq[String], options: Map[String, String]) {
  def connector: String = options.getOrElse("connector", "")
  /** filesystem tables are bounded scans UNLESS continuous directory
    * monitoring is on ('source.monitor-interval', the Flink option that
    * turns a filesystem source into an unbounded stream of new files). */
  def isBounded: Boolean = options.contains("number-of-rows") ||
    (connector == "filesystem" && !options.contains("source.monitor-interval")) ||
    connector == "jdbc" // jdbc = bounded scan
}

object FlinkDdl {
  import DialectShim.Stmt

  def parse(sql: String): TableSpec = DialectShim.route(sql) match {
    case DialectShim.EngineDdl(spec) => spec
    case _ => throw new IllegalArgumentException(s"not a CREATE TABLE … WITH: ${sql.take(80)}")
  }

  /** `CREATE TABLE [IF NOT EXISTS] name (entries) WITH (options)`, else
    * None (Spark's own CREATE TABLE forms). An entry is a column, `WATERMARK
    * FOR c AS c [- INTERVAL 'n' UNIT]` or `PRIMARY KEY (…) [NOT ENFORCED]`;
    * a computed column `c AS expr` fails by name. Nullability and comments
    * are hints in Flink: every column comes out nullable, without comment. */
  private[engine] def createTable(s: Stmt): Option[TableSpec] = {
    val at = if (s.word(2) == "IF" && s.word(3) == "NOT" && s.word(4) == "EXISTS") 5 else 2
    val open = s.nameEnd(at)
    val body = if (open > at && s.kind(open) == L.LEFT_PAREN) s.close(open) else -1
    if (body < 0 || s.word(body + 1) != "WITH" || s.kind(body + 2) != L.LEFT_PAREN ||
      s.close(body + 2) != s.n - 1) return None
    var (watermark, pk) = (Option.empty[WatermarkSpec], Seq.empty[String])
    val columns = s.split(open + 1, body).flatMap { case (a, b) =>
      if (s.word(a) == "WATERMARK" && s.word(a + 1) == "FOR" && s.word(a + 3) == "AS") {
        val delay = if (b == a + 5) Some("0 seconds")
          else if (s.kind(a + 5) == L.MINUS) interval(s, a + 6, b) else None
        watermark = Some(WatermarkSpec(s.name(a + 2, a + 3), delay.getOrElse(throw
          new IllegalArgumentException(s"unsupported watermark '${s.text(a, b)}': use " +
            "WATERMARK FOR ts AS ts [- INTERVAL 'n' UNIT]"))))
        None
      } else if (s.word(a) == "PRIMARY" && s.word(a + 1) == "KEY" && s.close(a + 2) > 0) {
        pk = s.split(a + 3, s.close(a + 2)).map { case (c, d) => s.name(c, d) }
        None
      } else if (s.word(a + 1) == "AS") throw new IllegalArgumentException(
        s"computed columns are not supported: column ${s.name(a, a + 1)} is '${s.text(a, b)}'")
      else Some(column(s, a, b))
    }
    val schema = StructType.fromDDL(columns.mkString(", "))
    Some(TableSpec(s.name(at, open), StructType(schema.map(f => StructField(f.name, f.dataType))),
      watermark, pk, options(s, body + 3, s.n - 1)))
  }

  /** Flink type spellings Spark's type parser lacks. TIME → millis-of-day
    * (SURVEY §7.3); TIMESTAMP(n), NTZ in Flink, → TimestampType, which
    * event-time watermarks need (the session is pinned to UTC, SURVEY §1.2). */
  private val Aliases = Map("ROW" -> "STRUCT", "BYTES" -> "BINARY", "VARBINARY" -> "BINARY",
    "BINARY" -> "BINARY", "TIMESTAMP" -> "TIMESTAMP", "TIMESTAMP_LTZ" -> "TIMESTAMP",
    "TIME" -> "INT", "CHAR" -> "STRING", "VARCHAR" -> "STRING")

  /** Column tokens [a, b) in Spark's DDL: aliases mapped (their `(n)`
    * dropped), a bare NULL dropped, and column and ROW field names (words
    * followed by a word other than NOT, NULL or COMMENT) backquoted. */
  private def column(s: Stmt, a: Int, b: Int): String = {
    val out = new StringBuilder
    var i = a
    while (i < b) {
      val (w, t) = (s.word(i), s.text(i, i + 1))
      if (s.isWord(i) && s.isWord(i + 1) && !Set("NOT", "NULL", "COMMENT")(s.word(i + 1)))
        out ++= (if (t.startsWith("`")) t else s"`$t`") += ' '
      else if (Aliases.contains(w)) {
        out ++= Aliases(w) += ' '
        if (w != "ROW" && s.kind(i + 1) == L.LEFT_PAREN && s.close(i + 1) > 0) i = s.close(i + 1)
      } else if (w != "NULL" || s.word(i - 1) == "NOT") out ++= t += ' '
      i += 1
    }
    out.toString
  }

  /** `INTERVAL 'n' UNIT` as tokens [a, b) → "n units". */
  private[engine] def interval(s: Stmt, a: Int, b: Int): Option[String] =
    if (b != a + 3 || s.word(a) != "INTERVAL" || s.kind(a + 1) != L.STRING_LITERAL) None
    else Some(s"${s.str(a + 1)} ${s.word(a + 2).toLowerCase.stripSuffix("s")}s")

  /** `'k' = 'v', …` in tokens [a, b); any other entry fails by its text. */
  private[engine] def options(s: Stmt, a: Int, b: Int): Map[String, String] =
    s.split(a, b).map { case (c, d) =>
      if (d == c + 3 && s.kind(c) == L.STRING_LITERAL && s.kind(c + 1) == L.EQ &&
        s.kind(c + 2) == L.STRING_LITERAL) s.str(c) -> s.str(c + 2)
      else throw new IllegalArgumentException(
        s"option entries read 'key' = 'value', not: ${s.text(c, d)}")
    }.toMap

  /** Spark type → Flink logical-type ROOT name (the gateway envelope's
    * `logicalType.type`), lossy where the DDL mapping is (TIME, _LTZ);
    * containers report their root only: the reference client ignores the
    * type payload (flinkNotebookController.ts:348-356). */
  def flinkTypeRoot(dt: DataType): String = {
    val root = dt.simpleString.takeWhile(c => c != '(' && c != '<')
    Map("int" -> "INTEGER", "string" -> "VARCHAR", "binary" -> "VARBINARY", "struct" -> "ROW",
      "timestamp" -> "TIMESTAMP_WITHOUT_TIME_ZONE", "timestamp_ntz" -> "TIMESTAMP_WITHOUT_TIME_ZONE"
    ).getOrElse(root, root.toUpperCase)
  }

  /** (root name, nullable) per field — the ResultStore/gateway shape. */
  def logicalTypes(schema: StructType): Seq[(String, Boolean)] =
    schema.fields.toSeq.map(f => (flinkTypeRoot(f.dataType), f.nullable))
}
