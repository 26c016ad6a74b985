package graft

import graft.engine.{DialectShim, FlinkDdl, ResultStore, TableSpec}
import graft.sources.Datagen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5): result-store pagination invariants,
  * datagen range/sequence guarantees and the dialect front end's
  * statement-set split, group-window rewrite and DDL parse under
  * generated parameters.
  * (scalatestplus bridge isn't in the offline cache — samples are drawn
  * directly from scalacheck Gens with a fixed seed.)
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("result store: pages concatenate to exactly the appended rows; refetch idempotent") {
    val cases = samples(Gen.zip(Gen.choose(1, 30), Gen.choose(0, 120)), 40)
    for ((pageSize, n) <- cases) {
      val rs = new ResultStore(Seq("v"), pageSize = pageSize, maxRows = 1000)
      (0 until n).foreach(i => rs.append(Seq(i)))
      rs.markEos()
      var token = 0L
      val out = Seq.newBuilder[Any]
      var done = false
      while (!done) {
        val page = rs.fetch(token)
        assert(rs.fetch(token).rows == page.rows, s"refetch pageSize=$pageSize n=$n")
        out ++= page.rows.map(_.fields.head)
        page.resultType match {
          case "EOS" => done = true
          case "PAYLOAD" =>
            assert(page.rows.size <= pageSize)
            token = page.nextToken.get
          case other => fail(s"unexpected $other after EOS marked")
        }
      }
      assert(out.result() == (0 until n).toList, s"pageSize=$pageSize n=$n")
    }
  }

  test("datagen: min/max ranges, sequence bounds, determinism for generated params") {
    val gen = for {
      min <- Gen.choose(-1000L, 1000L)
      span <- Gen.choose(1L, 2000L)
      nRows <- Gen.choose(1L, 50L)
      strLen <- Gen.choose(5, 40)
    } yield (min, min + span, nRows, strLen)
    for ((min, max, nRows, strLen) <- samples(gen, 8)) {
      val ddl =
        s"""CREATE TABLE t (a INT, b BIGINT, s STRING, d DOUBLE) WITH (
           |'connector'='datagen','number-of-rows'='$nRows',
           |'fields.a.kind'='sequence','fields.a.start'='$min',
           |'fields.b.min'='$min','fields.b.max'='$max',
           |'fields.s.length'='$strLen',
           |'fields.d.min'='0','fields.d.max'='1')""".stripMargin
      val spec = FlinkDdl.parse(ddl)
      val rows = Datagen.bounded(spark, spec).collect()
      assert(rows.length == nRows)
      assert(rows.map(_.getInt(0)).sorted.toSeq ==
        (min.toInt until (min + nRows).toInt), s"sequence min=$min n=$nRows")
      assert(rows.forall(r => r.getLong(1) >= min && r.getLong(1) <= max))
      assert(rows.forall(_.getString(2).length == strLen))
      assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0))
      val again = Datagen.bounded(spark, spec).collect()
      assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "determinism")
    }
  }

  test("scrub: order-preserving survivor stream, blocklist-free (production op)") {
    import graft.operators.TextQueries
    import TextQueries.Blocklist
    // generated docs mixing blocklisted and clean tokens, with repeats —
    // the invariants a set-difference implementation would violate. Runs
    // the PRODUCTION projection (txtScrubOf), and checks its fingerprint
    // against a JVM-side reference scrub, so an order-corrupting or
    // deduping rewrite of the operator fails here even if the SQL oracle
    // were rewritten to match it.
    val word = Gen.oneOf(Blocklist ++ Seq("alpha", "beta", "alpha", "gamma", "x1"))
    val doc = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docsSeq = samples(doc, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    import spark.implicits._
    val out = TextQueries.txtScrubOf(docsSeq.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((id, text) <- docsSeq) {
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
      val expectKept = toks.filterNot(Blocklist.contains)
      val expectFp = md.digest(expectKept.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val (nRemoved, nKept, fp) = out(id)
      assert(nRemoved == toks.size - expectKept.size, s"doc $id: n_removed")
      assert(nKept == expectKept.size, s"doc $id: n_kept")
      assert(fp == expectFp, s"doc $id: survivor stream must preserve order/repeats")
    }
  }

  // ------------------------------------------------ dialect front end
  /** A payload that means something to a naive splitter or rewriter. */
  private val payload = Gen.oneOf(";", ",", "<", ")", "TUMBLE(ts, INTERVAL '1' MINUTE)", "\u00e9\ud83d\ude00;")
  /** The payload hidden where the SQL lexer makes it opaque: a '…'
    * literal (with '' escapes), a "…" string, a `…` identifier, or a line
    * or block comment before a plain column. */
  private val carriers: Seq[String => String] = Seq(
    p => "'" + p.replace("'", "''") + "'", p => "'it''s " + p.replace("'", "''") + "'",
    p => "\"" + p + "\"", p => "`" + p + "`",
    p => s"-- $p\n c", p => s"/* $p */ c")
  private val hidden: Gen[String] =
    for (p <- payload; f <- Gen.oneOf(carriers)) yield f(p)
  private val items = Gen.choose(1, 4).flatMap(Gen.listOfN(_, hidden)).map(_.mkString(", "))

  test("dialect property: a statement set splits only on top-level semicolons") {
    val stmts = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, items)).map(_.zipWithIndex.map {
      case (sel, k) => s"INSERT INTO sink$k SELECT $sel FROM src$k"
    })
    for (ss <- samples(stmts, 60)) {
      val sql = ss.mkString("EXECUTE STATEMENT SET BEGIN\n", ";\n", ";\nEND;")
      assert(DialectShim.route(sql) == DialectShim.StatementSet(ss), sql)
    }
  }

  test("dialect property: the group-window rewrite leaves literals and comments byte-identical") {
    for (sel <- samples(items, 60)) {
      val flink = s"SELECT $sel, TUMBLE_END(ts, INTERVAL '1' MINUTE) AS e FROM t " +
        s"GROUP BY HOP(ts, INTERVAL '1' MINUTE, INTERVAL '2' HOUR), $sel"
      val spark = s"SELECT $sel, window.end AS e FROM t " +
        s"GROUP BY window(ts, '2 hours', '1 minutes'), $sel"
      assert(DialectShim.rewriteGroupWindows(flink) == spark)
      assert(DialectShim.route(flink) == DialectShim.Passthrough(spark))
      assert(DialectShim.route(s"INSERT INTO s $flink") ==
        DialectShim.InsertInto("s", overwrite = false, spark))
    }
  }

  test("dialect property: a CREATE TABLE with hidden payloads in COMMENTs parses to its columns") {
    val types = Gen.oneOf(Seq[(String, DataType)](
      "INT" -> IntegerType, "STRING" -> StringType, "VARCHAR(10)" -> StringType,
      "DECIMAL(5, 2)" -> DecimalType(5, 2), "TIMESTAMP(3)" -> TimestampType,
      "ARRAY<BIGINT>" -> ArrayType(LongType), "MAP<STRING, INT>" -> MapType(StringType, IntegerType),
      "ROW<x INT, `time` TIME(0)>" -> StructType(Seq(
        StructField("x", IntegerType), StructField("time", IntegerType))),
      "ROW<a ROW<b BYTES>>" -> StructType(Seq(StructField("a",
        StructType(Seq(StructField("b", BinaryType))))))))
    val column = for {
      (ddl, tpe) <- types
      p <- payload
      nn <- Gen.oneOf("", " NOT NULL")
      comment <- Gen.oneOf("", s" COMMENT '${p.replace("'", "''")}'")
      sep <- Gen.oneOf(", ", s" /* $p */, ", s", -- $p\n")
    } yield (s"$ddl$nn$comment", sep, tpe, p)
    val table = Gen.choose(1, 6).flatMap(Gen.listOfN(_, column))
    for (cols <- samples(table, 60)) {
      val body = cols.zipWithIndex.map { case ((ddl, sep, _, _), i) =>
        s"c$i $ddl" + (if (i < cols.size - 1) sep else "") }.mkString
      val opts = cols.zipWithIndex.map { case ((_, _, _, p), i) =>
        s"'o$i' = '${p.replace("'", "''")}'" }.mkString(", ")
      val sql = s"CREATE TABLE t ($body) WITH ($opts)"
      val spec = FlinkDdl.parse(sql)
      assert(spec.schema == StructType(cols.zipWithIndex.map { case ((_, _, t, _), i) =>
        StructField(s"c$i", t) }), sql)
      assert(spec.options == cols.zipWithIndex.map { case ((_, _, _, p), i) => s"o$i" -> p }.toMap)
    }
  }
}
