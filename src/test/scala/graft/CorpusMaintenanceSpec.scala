package graft

import java.security.MessageDigest

import graft.operators.{CurationOps, DedupOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, conv, lit, md5, substring}
import org.scalatest.funsuite.AnyFunSuite

/** Independent ground truth for the round-8 corpus-maintenance operators:
  * the Gopher rule battery (txt_gopher), delta-vs-corpus incremental dedup
  * (dd_incremental), and content-defined chunking (txt_cdc_chunks). Each is
  * recomputed in plain Scala over the collected sf0.001 corpus; the CDC
  * chunker additionally gets its shift-robustness property — the reason it
  * exists — asserted against the fixed-grid chunker on a synthetic pair.
  */
class CorpusMaintenanceSpec extends AnyFunSuite with TempDirs {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("4")

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private lazy val corpus: Seq[(Long, String)] =
    Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq

  // ------------------------------------------------------------ txt_gopher
  test("txt_gopher flags match a plain-Scala evaluation of every rule") {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val expected = corpus.map { case (id, text) =>
      val toks = text.trim.split("\\s+")
      val n = toks.length.toLong
      val sumLen = toks.map(_.length.toLong).sum
      val nSym = "#|\\.\\.\\.|…".r.findAllIn(text).length.toLong
      val lines = text.split("\n", -1)
      val nLines = lines.length.toLong
      val nBullet = lines.count(l => "^[-*•]".r.findFirstIn(l.trim).isDefined).toLong
      val nEll = lines.count(l =>
        "(\\.\\.\\.|…)$".r.findFirstIn(l.replaceAll("\\s+$", "")).isDefined).toLong
      val nAlpha = toks.count(t => t.exists(_.isLetter) &&
        t.exists(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toLong
      val nStop = stops.count(toks.contains).toLong
      val flags = Seq(
        n >= 50 && n <= 100000,
        sumLen >= n * 3 && sumLen <= n * 10,
        nSym * 10 <= n,
        nBullet * 10 <= nLines * 9,
        nEll * 10 <= nLines * 3,
        nAlpha * 10 >= n * 8,
        nStop >= 2).map(b => if (b) 1 else 0)
      id -> (n, nStop, flags, flags.product)
    }.toMap
    val got = operators.TextQueries.all("txt_gopher")(spark, dir).collect()
    assert(got.length == corpus.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val (n, nStop, flags, keep) = expected(id)
      assert(r.getLong(1) == n, s"doc $id n_tok")
      assert(r.getLong(4) == nStop, s"doc $id n_stop")
      val gotFlags = (5 to 11).map(r.getInt)
      assert(gotFlags == flags, s"doc $id flags $gotFlags != $flags")
      assert(r.getInt(12) == keep, s"doc $id keep")
    }
    // the battery must discriminate on this corpus, not rubber-stamp
    val keeps = got.map(_.getInt(12)).toSeq
    assert(keeps.contains(0) && keeps.sum < keeps.length,
      "battery should reject some docs")
    assert(got.map(r => r.getInt(5)).toSet == Set(0, 1),
      "word-count rule should split the corpus both ways")
  }

  // -------------------------------------------------------- dd_incremental
  test("dd_incremental verdicts match plain-Scala delta-vs-corpus dedup") {
    val isDelta = corpus.map { case (id, _) =>
      id -> (md5hex(id.toString).head >= 'd')
    }.toMap
    val fp = corpus.map { case (id, text) =>
      id -> md5hex(text.trim.toLowerCase.split("\\s+").mkString(" "))
    }.toMap
    val corpusIds = corpus.map(_._1).filter(!isDelta(_))
    val corpusFp = corpusIds.groupBy(fp).map { case (f, ids) => f -> ids.min }
    // discriminative 3-gram universe (df ≤ 50 over ALL docs)
    val docShingles: Map[Long, Set[String]] = corpus.map { case (id, text) =>
      val t = text.trim.split("\\s+")
      id -> (if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val df = docShingles.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val rare = docShingles.map { case (id, ss) => id -> ss.filter(df(_) <= 50) }
    def jac(a: Set[String], b: Set[String]): Double = {
      val i = (a & b).size.toDouble
      // both shingle sets empty (<3 tokens, or every shingle above the df
      // cap) → 0/0; define as 0.0 rather than crash on BigDecimal(NaN)
      if (a.size + b.size - i == 0) 0.0
      else BigDecimal(i / (a.size + b.size - i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = corpus.map(_._1).filter(isDelta).sorted.map { did =>
      corpusFp.get(fp(did)) match {
        case Some(eid) => (did, "exact", Some(eid), None: Option[Double])
        case None =>
          val cands = corpusIds
            .map(cid => (cid, jac(rare(did), rare(cid))))
            .filter(_._2 >= 0.2)
          if (cands.isEmpty) (did, "new", None, None)
          else {
            val (cid, j) = cands.minBy { case (c, j) => (-j, c) }
            (did, "near", Some(cid), Some(j))
          }
      }
    }
    val got = DedupOps.ddIncremental(spark, dir).collect().map { r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toSeq
    assert(got == expected)
    // the near screen must fire on the planted near-dups (no exact dup in
    // the generated corpus straddles the bucket boundary — the exact
    // branch is exercised synthetically below)
    assert(got.map(_._2).toSet == Set("near", "new"),
      "testdata's planted dups should produce near and new verdicts")
    // corpus docs never appear on the delta side
    got.foreach { case (did, _, _, _) => assert(isDelta(did)) }
  }

  test("dd_incremental exact branch: a delta doc identical to a corpus doc") {
    import spark.implicits._
    // pick ids on opposite sides of the md5 bucket boundary, discovered
    // deterministically (not hardcoded against the hash function)
    val corpusId = (1L to 100L).find(id => md5hex(id.toString).head < 'd').get
    val deltaId = (1L to 100L).find(id => md5hex(id.toString).head >= 'd').get
    val text = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"oth$i").mkString(" ")
    val tmp = tempDir("graft-incr").toString
    Seq((corpusId, text), (deltaId, text), (deltaId + 100, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = DedupOps.ddIncremental(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(deltaId) == (("exact", Some(corpusId))),
      s"identical delta doc must be an exact match, got ${got(deltaId)}")
  }

  // -------------------------------------------------------- txt_cdc_chunks
  private def scalaCdc(toks: Seq[String]): Seq[(Long, Long, String)] = {
    val bnd = toks.map(t => md5hex(t).head == '0')
    val cid = bnd.scanLeft(0L)((acc, b) => if (b) acc + 1 else acc).init
    toks.zip(cid).groupBy(_._2).toSeq.sortBy(_._1).map { case (c, ts) =>
      (c, ts.length.toLong, md5hex(ts.map(_._1).mkString(" ")))
    }
  }

  test("txt_cdc_chunks matches a plain-Scala CDC chunker incl. dup counts") {
    val expChunks = corpus.flatMap { case (id, text) =>
      scalaCdc(text.trim.split("\\s+").toSeq).map { case (c, n, f) => (id, c, n, f) }
    }
    val nDocsWith = expChunks.map { case (id, _, _, f) => (id, f) }.distinct
      .groupBy(_._2).map { case (f, o) => f -> o.size.toLong }
    val expected = expChunks
      .map { case (id, c, n, f) =>
        (id, c, n, f, nDocsWith(f), if (nDocsWith(f) > 1) 1 else 0) }
      .sortBy(t => (t._1, t._2))
    val got = CurationOps.txtCdcChunks(spark, dir).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getInt(5))
    }.toSeq
    assert(got == expected)
    assert(got.exists(_._6 == 1), "planted near-dups should share CDC chunks")
  }

  test("CDC chunking is shift-robust where the fixed grid is not") {
    import spark.implicits._
    // build a vocabulary with a known boundary word (md5 starts with '0'),
    // discovered deterministically rather than hardcoded
    val words = (1 to 400).map(i => s"w$i")
    val boundary = words.filter(w => md5hex(w).head == '0')
    assert(boundary.nonEmpty, "need at least one boundary word in 400")
    val nonBoundary = words.filterNot(w => md5hex(w).head == '0').take(120)
    // base doc: boundary words sprinkled every ~10 tokens
    val base = nonBoundary.grouped(9).zipWithIndex.flatMap { case (g, i) =>
      g :+ boundary(i % boundary.size)
    }.toSeq
    val shifted = Seq("prefixjunk1", "prefixjunk2", "prefixjunk3") ++ base
    val docs = Seq((1L, base.mkString(" ")), (2L, shifted.mkString(" ")))
      .toDF("doc_id", "text")
    val cdc = CurationOps.cdcChunksFrom(docs).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSeq
    val cdcShared = cdc.filter(_._1 == 1L).map(_._2).toSet
      .intersect(cdc.filter(_._1 == 2L).map(_._2).toSet)
    // every base chunk AFTER the first boundary must reappear in the
    // shifted doc: cuts re-align at the first shared boundary token
    val baseChunks = scalaCdc(base)
    assert(cdcShared.size >= baseChunks.size - 2,
      s"CDC should re-align after the prefix (shared ${cdcShared.size} of ${baseChunks.size})")
    // the fixed 64/48 grid shares nothing under a 3-token shift
    val fixedTmp = tempDir("graft-cdc").toString
    docs.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("synthetic"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$fixedTmp/documents.parquet")
    val grid = CurationOps.txtChunks(spark, fixedTmp).collect()
      .map(r => (r.getLong(0), r.getString(4))).toSeq
    val gridShared = grid.filter(_._1 == 1L).map(_._2).toSet
      .intersect(grid.filter(_._1 == 2L).map(_._2).toSet)
    assert(gridShared.isEmpty,
      s"fixed grid should share no chunks under a 3-token shift, got $gridShared")
    assert(cdcShared.size > gridShared.size)
  }

  // ----------------------------------------------------------- txt_novelty
  test("txt_novelty matches plain-Scala first-occurrence attribution + laws") {
    val docShingles: Map[Long, Set[String]] = corpus.map { case (id, text) =>
      val t = text.trim.split("\\s+")
      id -> (if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
             else Set.empty[String])
    }.toMap
    val owner: Map[String, Long] = docShingles.toSeq
      .flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).map { case (s, os) => s -> os.map(_._2).min }
    val expected = docShingles.collect {
      case (id, ss) if ss.nonEmpty =>
        val nFirst = ss.count(owner(_) == id).toLong
        id -> (ss.size.toLong, nFirst,
          BigDecimal(nFirst.toDouble / ss.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.operators.TextQueries.txtNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == expected)
    // conservation: every distinct corpus shingle is first-owned exactly once
    assert(got.values.map(_._2).sum == owner.size.toLong,
      "sum of n_first must equal the distinct shingle universe")
    // the lowest doc_id with shingles owns everything it contains
    val firstDoc = expected.keys.min
    assert(got(firstDoc)._3 == 1.0,
      s"doc $firstDoc (lowest id) must have novelty 1.0")
  }

  // -------------------------------------------------------- txt_bpe_train
  test("txt_bpe_train merges match a plain-Scala BPE on the word-freq table") {
    // ground truth: TRUE greedy BPE (sequential left-to-right fuse on the
    // symbol list), not the operator's 3-pass replace — agreement proves
    // the replace trick implements real BPE semantics on this corpus
    val wc = corpus.flatMap(_._2.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var vocab: Map[Vector[String], Long] =
      wc.groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (syms, ws) => syms -> ws.values.sum }
    val merges = (1 to 3).map { r =>
      val pairCnt = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, cnt) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          pairCnt((p(0), p(1))) = pairCnt.getOrElse((p(0), p(1)), 0L) + cnt
        }
      }
      val ((a, b), c) = pairCnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      def fuse(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
      vocab = vocab.groupBy { case (syms, _) => fuse(syms) }
        .map { case (syms, vs) => syms -> vs.values.sum }
      (r.toLong, a, b, c)
    }.toSet
    val got = CurationOps.txtBpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == merges,
      s"missing=${(merges -- got).take(3)} spurious=${(got -- merges).take(3)}")
    // each learned merge must be a real pair: count ≥ 2 occurrences and
    // rounds strictly ordered
    assert(got.map(_._1) == Set(1L, 2L, 3L))
    got.foreach { case (r, a, b, c) =>
      assert(a.nonEmpty && b.nonEmpty && c > 0, s"round $r degenerate merge")
    }
  }

  test("txt_bpe_apply compression matches a plain-Scala greedy tokenize") {
    // re-learn merges with the same plain-Scala BPE as the train spec
    val wc = corpus.flatMap(_._2.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var vocab: Map[Vector[String], Long] =
      wc.groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (syms, ws) => syms -> ws.values.sum }
    def fuse(a: String, b: String)(syms: Vector[String]): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val merges = (1 to 3).map { _ =>
      val pairCnt = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, cnt) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          pairCnt((p(0), p(1))) = pairCnt.getOrElse((p(0), p(1)), 0L) + cnt
        }
      }
      val ((a, b), _) = pairCnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.groupBy { case (syms, _) => fuse(a, b)(syms) }
        .map { case (syms, vs) => syms -> vs.values.sum }
      (a, b)
    }
    def tokenize(w: String): Int =
      merges.foldLeft(w.map(_.toString).toVector) {
        case (syms, (a, b)) => fuse(a, b)(syms)
      }.length
    val want = corpus.map { case (id, text) =>
      val ws = text.trim.toLowerCase.split("\\s+").toSeq
      val sym0 = ws.map(_.length.toLong).sum
      val bpe = ws.map(tokenize(_).toLong).sum
      id -> (ws.length.toLong, sym0, bpe, sym0 - bpe)
    }.toMap
    val got = CurationOps.txtBpeApply(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want)
    // the merges must actually compress the corpus
    assert(got.values.map(_._4).sum > 0, "no symbol ever merged")
    got.values.foreach { case (_, sym0, bpe, saved) =>
      assert(bpe <= sym0 && saved == sym0 - bpe)
    }
  }

  // -------------------------------------------------------------- txt_pii
  test("txt_pii counts, flags, and redaction match a java.util.regex replay") {
    val emailRe = "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\\.[A-Za-z]{2,}"
    val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}"
    val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val idRunRe = "\\b[0-9]{9,}\\b"
    def view(id: Long, text: String): String = text + ((id % 5) match {
      case 0 => s" contact user$id@example.com now"
      case 1 => f" call +1-555-${id % 10000}%04d today"
      case 2 => s" host 10.${id % 256}.0.${(id * 7) % 256} up"
      case 3 => s" ref ${900000000L + id} end"
      case _ => ""
    })
    def redact(t: String): String = t
      .replaceAll(emailRe, "<EMAIL>").replaceAll(phoneRe, "<PHONE>")
      .replaceAll(ipv4Re, "<IP>").replaceAll(idRunRe, "<ID>")
    val expected = corpus.map { case (id, text) =>
      val v = view(id, text)
      def n(re: String) = re.r.findAllIn(v).length.toLong
      id -> (n(emailRe), n(phoneRe), n(ipv4Re), n(idRunRe),
        md5hex(redact(v)))
    }.toMap
    val got = graft.operators.TextQueries.txtPii(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (e, p, ip, idr, has, fp)) =>
      val (we, wp, wip, widr, wfp) = expected(id)
      assert((e, p, ip, idr, fp) == ((we, wp, wip, widr, wfp)), s"doc $id")
      // exactly one synthetic PII form per non-control class, none on the
      // control class — and has_pii is their disjunction
      val wantClassTotal = if (id % 5 == 4) 0L else 1L
      assert(e + p + ip + idr == wantClassTotal, s"doc $id class total")
      assert(has == (if (wantClassTotal > 0) 1L else 0L), s"doc $id has_pii")
    }
    // redaction completeness: the redacted stream re-scans clean
    corpus.foreach { case (id, text) =>
      val r = redact(view(id, text))
      Seq(emailRe, phoneRe, ipv4Re, idRunRe).foreach { re =>
        assert(re.r.findFirstIn(r).isEmpty, s"doc $id leaks $re after redact")
      }
    }
  }

  // ---------------------------------------------------- pipe_dedup_cascade
  test("pipe_dedup_cascade stages are monotone and match the standalone ops") {
    val stages = DedupOps.pipeDedupCascade(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(stages.map(_._2).toSeq ==
      Seq("train", "exact_dedup", "near_dedup", "decontaminated"))
    // funnel law: each stage can only shrink, in docs AND tokens
    stages.sliding(2).withFilter(_.length == 2).foreach { w =>
      assert(w(0)._3 >= w(1)._3 && w(0)._4 >= w(1)._4,
        s"stage ${w(1)._2} grew: ${w(0)} -> ${w(1)}")
    }
    // stage 0 == the train corpus
    val train = Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("source") =!= "src0")
    assert(stages(0)._3 == train.count())
    // stage 1 == distinct fingerprints within train (the ddExact election)
    val distinctFp = train
      .select(graft.functions.TextFunctions.fingerprint(
        org.apache.spark.sql.functions.col("text")).as("fp"))
      .distinct().count()
    assert(stages(1)._3 == distinctFp)
    // stage 3 drop count is bounded by the decontamination flag count
    val flagged = DedupOps.ddDecontaminate(spark, dir)
      .select("train_doc").distinct().count()
    assert(stages(2)._3 - stages(3)._3 <= flagged,
      "decontamination cannot drop more than the flagged set")
  }

  // ---------------------------------------------------- txt_novelty_curve
  test("txt_novelty_curve is the decile rollup of per-doc novelty; saturates") {
    val curve = graft.operators.TextQueries.txtNoveltyCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(curve.map(_._1).toSeq == (1L to 10L))
    assert(curve.map(_._2).sum == corpus.size)
    // consistency with the per-doc attribution
    val perDoc = graft.operators.TextQueries.txtNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sortedIds = corpus.map(_._1).sorted
    val deciles = sortedIds.zipWithIndex.groupBy { case (_, i) =>
      // NTILE(10): first (n mod 10) groups get ceil(n/10)
      val n = sortedIds.size; val q = n / 10; val r = n % 10
      if (i < r * (q + 1)) i / (q + 1) else r + (i - r * (q + 1)) / q
    }
    deciles.foreach { case (d, ids) =>
      val want = ids.map(p => perDoc.getOrElse(p._1, 0L)).sum
      val got = curve(d.toInt)._3
      assert(got == want, s"decile ${d + 1}: $got != $want")
    }
    // cumulative closure: every shingle has exactly one owner
    assert(curve.last._5 == 1.0, s"cum_share must close at 1.0: ${curve.last}")
    assert(curve.map(_._4).toSeq == curve.map(_._3).scanLeft(0L)(_ + _).tail.toSeq)
    // saturation: later slices contribute fewer new shingles than the first
    assert(curve.head._3 > curve.last._3,
      "an id-ordered walk must show diminishing novelty on this corpus")
  }

  // -------------------------------------------------------- evt_sequences
  test("evt_sequences == plain-Scala ordered replay with the cap") {
    val evs = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).map { case (u, g) =>
      val ordered = g.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      (u, g.length.toLong, math.min(g.length, 32).toLong,
        ordered.take(32).mkString(" "))
    }.toSet
    val got = graft.operators.CurationOps.evtSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(2)} spurious=${(got -- want).take(2)}")
    got.foreach { case (u, n, sl, seq) =>
      assert(sl == math.min(n, 32L) &&
        seq.split(" ").length.toLong == sl, s"user $u")
    }
  }

  // ------------------------------------------------------ dd_decontam_cut
  test("dd_decontam_cut removes exactly the contamination spans; rescan clean") {
    val spans = DedupOps.ddSubstringContamination(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val perDoc = spans.groupBy(_._1).map { case (id, g) => id -> g.map(_._2).sum }
    val cut = DedupOps.ddDecontamCut(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val textOf = corpus.toMap
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut.map(_._1).toSet == srcOf.filter(_._2 != "src0").keySet)
    cut.foreach { case (id, nTok, nRem, clean) =>
      assert(nRem == perDoc.getOrElse(id, 0L),
        s"doc $id removed $nRem != span sum ${perDoc.getOrElse(id, 0L)}")
      if (nRem == 0)
        assert(clean == textOf(id).trim.split("\\s+").mkString(" "),
          s"untouched doc $id must pass through verbatim")
      assert(clean.split("\\s+").count(_.nonEmpty) == nTok - nRem)
    }
    // completeness: the scrubbed corpus contains no eval 8-gram verbatim
    val evalGrams = corpus.filter(p => srcOf(p._1) == "src0")
      .flatMap { case (_, t) =>
        t.trim.split("\\s+").sliding(8).filter(_.length == 8).map(_.mkString(" "))
      }.toSet
    cut.foreach { case (id, _, _, clean) =>
      val toks = clean.split("\\s+").filter(_.nonEmpty)
      toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).foreach { g =>
        assert(!evalGrams.contains(g), s"doc $id still carries eval gram '$g'")
      }
    }
    assert(cut.exists(_._3 > 0), "planted contamination should force real cuts")
  }

  // --------------------------------------------------- txt_boilerplate_frac
  test("txt_boilerplate_frac == plain-Scala census-position replay") {
    def grams5(t: Array[String]): Seq[String] =
      if (t.length < 5) Seq.empty
      else t.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
    val toksOf = corpus.map { case (id, t) => id -> t.trim.split("\\s+") }
    val census = toksOf.flatMap { case (id, t) => grams5(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, v) => (g, v.size.toLong) }
      .toSeq.sortBy { case (g, df) => (-df, g) }.take(20).map(_._1).toSet
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = toksOf.map { case (id, t) =>
      val ps = grams5(t)
      val nb = ps.count(census)
      (id, ps.size.toLong, nb.toLong,
        if (ps.isEmpty) 0.0 else r6(nb.toDouble / ps.size) + 0.0)
    }.toSet
    val got = graft.operators.TextQueries.txtBoilerplateFrac(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(2)} spurious=${(got -- want).take(2)}")
    assert(got.exists(_._4 > 0.0), "census grams must cover some positions")
  }

  // --------------------------------------------------- dd_incremental_sem
  test("dd_incremental_sem == plain-Scala delta-vs-corpus nearest neighbor") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (delta, corpus) = vecs.partition { case (id, _) =>
      md5hex(id.toString).head >= 'd'
    }
    val want = delta.map { case (id, v) =>
      val (cid, c) = corpus.map { case (ci, cv) => (ci, cos(v, cv)) }
        .maxBy { case (ci, c) => (c, -ci) }
      if (c >= 0.4) (id, "near", Some(cid), Some(r6(c)))
      else (id, "new", None, None)
    }.toSet
    val got = DedupOps.ddIncrementalSem(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.exists(_._2 == "near") && got.exists(_._2 == "new"),
      "both verdicts should occur on testdata")
  }

  // -------------------------------------------------------------- txt_zipf
  test("txt_zipf == plain-Scala log-log regression; fit laws hold") {
    val cf = corpus.flatMap(_._2.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val ranked = cf.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
      .map { case ((_, c), i) => (math.log((i + 1).toDouble), math.log(c.toDouble)) }
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = ranked.size.toDouble
    val sx = ranked.map(p => d15(p._1)).sum.toDouble
    val sy = ranked.map(p => d15(p._2)).sum.toDouble
    val sxy = ranked.map(p => d15(p._1 * p._2)).sum.toDouble
    val sxx = ranked.map(p => d15(p._1 * p._1)).sum.toDouble
    val syy = ranked.map(p => d15(p._2 * p._2)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    val row = graft.operators.TextQueries.txtZipf(spark, dir).collect()(0)
    assert(row.getLong(0) == cf.size.toLong)
    assert(row.getLong(1) == cf.values.sum)
    assert(row.getDouble(2) == r6(slope) + 0.0, s"slope ${row.getDouble(2)} != $slope")
    assert(row.getDouble(3) == r6(r2) + 0.0)
    // fit laws: frequencies fall with rank (slope < 0), r² is a squared
    // correlation. The generated word-soup corpus is deliberately
    // non-Zipfian (31 near-uniform types) — the health check's job is to
    // SAY so, hence no slope≈−1 assertion here.
    assert(row.getDouble(2) < 0.0 && row.getDouble(3) >= 0.0
      && row.getDouble(3) <= 1.0)
  }

  // ----------------------------------------------------------- txt_kn_ppl
  test("txt_kn_ppl matches a plain-Scala Kneser-Ney replay; KN laws hold") {
    val D = 0.75
    val docBigrams = corpus.map { case (id, text) =>
      val t = text.trim.toLowerCase.split("\\s+")
      id -> t.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))).toSeq
    }.filter(_._2.nonEmpty)
    val cb = docBigrams.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = cb.groupBy(_._1._1).map { case (w1, m) => w1 -> ((m.values.sum, m.size.toLong)) }
    val cont = cb.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val types = cb.size.toDouble
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = docBigrams.map { case (id, bgs) =>
      val n = bgs.size.toLong
      val ll = bgs.groupBy(identity).map { case (bg, occ) =>
        val tf = occ.size.toDouble
        val c2 = cb(bg).toDouble
        val (cv, n1fwd) = c1(bg._1)
        val p = math.max(c2 - D, 0.0) / cv.toDouble +
          D * n1fwd.toDouble / cv.toDouble * (cont(bg._2).toDouble / types)
        d15(tf * math.log(p))
      }.sum.toDouble
      (id, n, r6(-ll / n), r6(math.exp(-ll / n)))
    }.toSet
    val got = graft.operators.TextQueries.txtKnPpl(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(2)} spurious=${(got -- want).take(2)}")
    // continuation-probability sanity: Σ_w N1+(·w) == |bigram types|, so
    // the continuation distribution the backoff interpolates is proper
    assert(cont.values.sum.toDouble == types)
    got.foreach { case (id, n, nll, ppl) =>
      assert(n > 0 && nll > 0.0 && ppl > 1.0, s"doc $id degenerate ($nll, $ppl)")
    }
  }

  // ------------------------------------------------------- txt_curriculum
  test("txt_curriculum: permutation, band-monotone quality, replayable order") {
    val rows = graft.operators.TextQueries.txtCurriculum(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length == corpus.size)
    // seq is a permutation of 1..n
    assert(rows.map(_._5).sorted.toSeq == (1L to rows.length.toLong),
      "seq must be a gap-free permutation")
    // seq order IS the (bucket, md5(doc_id), doc_id) order — replay it
    val replay = rows.sortBy { case (id, _, _, b, _) =>
      (b, md5hex(id.toString), id)
    }.map(_._1).toSeq
    assert(rows.sortBy(_._5).map(_._1).toSeq == replay,
      "two-phase global rank must equal the sequential sort")
    // within a source, an earlier band never holds lower quality
    rows.groupBy(_._2).foreach { case (src, g) =>
      val byBucket = g.groupBy(_._4).map { case (b, d) =>
        b -> (d.map(_._3).min, d.map(_._3).max)
      }
      byBucket.toSeq.sortBy(_._1).sliding(2).withFilter(_.length == 2)
        .foreach { w =>
          val ((b1, (lo1, _)), (b2, (_, hi2))) = (w(0), w(1))
          assert(lo1 >= hi2,
            s"$src: bucket $b1 min quality $lo1 < bucket $b2 max $hi2")
        }
      // NTILE balance: bucket sizes differ by at most 1
      val sizes = g.groupBy(_._4).values.map(_.size).toSeq
      assert(sizes.max - sizes.min <= 1, s"$src: unbalanced buckets $sizes")
    }
  }

  // ------------------------------------------------------ evt_transitions
  test("evt_transitions == plain-Scala sequence replay; rows are distributions") {
    val evs = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getString(3)))
    val pairCounts = evs.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val ordered = g.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      ordered.zip(ordered.drop(1))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val got = graft.operators.CurationOps.evtTransitions(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    assert(got.map(p => p._1 -> p._2).toMap == pairCounts,
      "transition counts must equal the per-user ordered replay")
    // each prev row is a probability distribution (rounded-sum tolerance)
    got.groupBy(_._1._1).foreach { case (prev, g) =>
      val tot = g.map(_._2).sum.toDouble
      g.foreach { case ((_, nxt), n, p) =>
        assert(math.abs(p - BigDecimal(n / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
          s"p($nxt|$prev)")
      }
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-4, s"row $prev must sum to ~1")
    }
  }

  // -------------------------------------------------------- txt_source_kl
  test("txt_source_kl == plain-Scala KL over lowercased tokens; KL >= 0") {
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bysrc = corpus.toSeq
      .flatMap { case (id, t) =>
        t.trim.toLowerCase.split("\\s+").map(tok => (srcOf(id), tok))
      }
    val stC = bysrc.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val cfC = bysrc.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val totS = bysrc.groupBy(_._1).map { case (s0, xs) => s0 -> xs.size.toLong }
    val totC = bysrc.size.toDouble
    val want = stC.groupBy(_._1._1).map { case (s0, g) =>
      // DECIMAL-exact order-free sum, mirrored with BigDecimal
      val kl = g.toSeq.map { case ((_, t), n) =>
        val ps = n.toDouble / totS(s0).toDouble
        val pc = cfC(t).toDouble / totC
        BigDecimal(ps * math.log(ps / pc)).setScale(15, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      s0 -> (totS(s0),
        BigDecimal(kl.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.operators.TextQueries.txtSourceKl(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (s0, (n, kl)) =>
      assert(got(s0)._1 == n, s"$s0 token total")
      assert(math.abs(got(s0)._2 - kl) < 1e-6, s"$s0 kl: ${got(s0)._2} != $kl")
      assert(got(s0)._2 >= 0.0, s"KL($s0) must be non-negative")
    }
  }

  // ------------------------------------------------------- dd_containment
  test("dd_containment == plain-Scala containment over df-capped shingles") {
    def sh3(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val all = corpus.map { case (id, t) => id -> sh3(t) }
    val df = all.flatMap(_._2).groupBy(identity).map { case (g, xs) => g -> xs.size }
    val disc = all.map { case (id, g) => id -> g.filter(df(_) <= 50) }
      .filter(_._2.nonEmpty).toMap
    val want = (for {
      (a, ga) <- disc.toSeq; (b, gb) <- disc.toSeq if a < b
      i = (ga intersect gb).size if i > 0
      ca = BigDecimal(i.toDouble / ga.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      cb = BigDecimal(i.toDouble / gb.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if math.max(ca, cb) >= 0.5
    } yield (a, b, i.toLong, ga.size.toLong, gb.size.toLong, ca, cb)).toSet
    val got = DedupOps.ddContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the asymmetry law: containment of the smaller side always >= jaccard
    got.foreach { case (a, b, i, na, nb, ca, cb) =>
      val j = i.toDouble / (na + nb - i)
      assert(math.max(ca, cb) >= j - 1e-9, s"pair ($a,$b)")
    }
  }

  // ------------------------------------------------------- txt_winnowing
  test("txt_winnowing == plain-Scala MOSS winnowing (rightmost-min rule)") {
    val (k, w) = (3, 4)
    val perDoc = corpus.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      val grams = if (toks.length < k) Array.empty[String]
        else toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toArray
      val hs = grams.map(md5hex)
      // windows of w hashes; select min hash, rightmost position on ties
      val sels = hs.indices.dropRight(w - 1).map { i =>
        val win = (i until i + w).map(p => (hs(p), p))
        win.minBy { case (h, p) => (h, -p) }
      }.toSet
      id -> (grams.length.toLong, sels)
    }.toMap
    val fpOwners = perDoc.toSeq
      .flatMap { case (id, (_, sels)) => sels.map(_._1).toSet.map((f: String) => (f, id)) }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSet.size }
    val want = perDoc.collect { case (id, (ng, sels)) if sels.nonEmpty =>
      val fps = sels.map(_._1)
      (id, ng, sels.size.toLong, fps.size.toLong,
        fps.count(f => fpOwners(f) >= 2).toLong,
        BigDecimal(sels.size.toDouble / (ng - (w - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = graft.operators.TextQueries.txtWinnowing(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // density bound: selections per window position cannot exceed 1, and
    // the winnowing guarantee keeps density well above 1/w on real text
    got.foreach { case (id, ng, nSel, nFp, _, _) =>
      assert(nSel <= ng - (w - 1), s"doc $id selects more than its windows")
      assert(nFp <= nSel, s"doc $id distinct fps exceed selections")
    }
  }

  // ------------------------------------------------------- emb_knn_mutual
  test("emb_knn_mutual == plain-Scala label-blocked kNN + mutuality") {
    val k = 5
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val edges = vecs.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.flatMap { case (src, lab, va) =>
        g.filter(_._1 != src)
          .map { case (dst, _, vb) => (dst, cos(va, vb)) }
          .sortBy { case (dst, c) => (-c, dst) }.take(k)
          .map { case (dst, _) => (src, lab, dst) }
      }
    }
    val eset = edges.map { case (s0, _, d0) => (s0, d0) }.toSet
    val want = edges.groupBy(e => (e._1, e._2)).map { case ((s0, lab), g) =>
      (s0, lab, g.size.toLong,
        g.count { case (_, _, d0) => eset.contains((d0, s0)) }.toLong)
    }.toSet
    // the EXACT twin reproduces the plain-Scala label-blocked ground truth
    val exact = graft.operators.SimilarityOps.embKnnMutualExact(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(exact == want,
      s"missing=${(want -- exact).take(3)} spurious=${(exact -- want).take(3)}")
    // the bounded-block DEFAULT coincides with the exact twin whenever
    // every label fits one sub-block (cap ≥ max label size here)
    val got = graft.operators.SimilarityOps.embKnnMutual(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == exact,
      s"missing=${(exact -- got).take(3)} spurious=${(got -- exact).take(3)}")
    // structural laws: degree ≤ k; mutual ≤ degree; mutual edges symmetric
    got.foreach { case (id, _, nk, nm) =>
      assert(nk <= k && nm <= nk, s"vec $id")
    }
  }

  test("emb_knn_mutual bounded-block (small cap) == plain-Scala sub-blocked replay") {
    val (k, cap) = (5, 16)
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def md5hex(s0: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s0.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // replay the operator's sub-blocking: per-label hash-order rank,
    // BALANCED chunks (blk = rank0 * nblk / n over nblk = ceil(n/cap))
    val edges = vecs.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val n = g.size.toLong
      val nblk = (n + cap - 1) / cap
      val blocks = g.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
        .zipWithIndex
        .groupBy { case (_, i) => i.toLong * nblk / n }
        .toSeq.map(_._2.map(_._1))
      blocks.flatMap { blk =>
        blk.flatMap { case (src, lab, va) =>
          blk.filter(_._1 != src)
            .map { case (dst, _, vb) => (dst, cos(va, vb)) }
            .sortBy { case (dst, c) => (-c, dst) }.take(k)
            .map { case (dst, _) => (src, lab, dst) }
        }
      }
    }
    val eset = edges.map { case (s0, _, d0) => (s0, d0) }.toSet
    val want = edges.groupBy(e => (e._1, e._2)).map { case ((s0, lab), g) =>
      (s0, lab, g.size.toLong,
        g.count { case (_, _, d0) => eset.contains((d0, s0)) }.toLong)
    }.toSet
    // cap=16 forces every ~50-vector label into multiple sub-blocks, so
    // this exercises the bounded path the default only hits at scale
    val got = graft.operators.SimilarityOps.embKnnMutual(spark, dir, k, cap)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
  }

  // --------------------------------------------------------- evt_outliers
  test("evt_outliers == plain-Scala per-type z-score replay") {
    val evs = Tables.load(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = evs.groupBy(_._2).toSeq.flatMap { case (typ, g) =>
      val n = g.length.toDouble
      // mirror the DECIMAL(30,15) order-free sums with BigDecimal
      val s1 = g.map(e => BigDecimal(e._3)
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s2 = g.map(e => BigDecimal(e._3 * e._3)
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val m = s1 / n
      val sd = if (n > 1.0) math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1.0), 0.0)) else 0.0
      if (sd <= 0.0) Seq.empty
      else g.filter(e => math.abs((e._3 - m) / sd) > 3.0)
        .map(e => (e._1, typ, e._3,
          BigDecimal((e._3 - m) / sd).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toSet
    val got = graft.operators.CurationOps.evtOutliers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    got.foreach { case (id, _, _, z) =>
      assert(math.abs(z) > 3.0 - 1e-6, s"event $id z=$z under threshold") }
  }

  // ---------------------------------------------------- dd_cos_thresholds
  test("dd_cos_thresholds == plain-Scala sweep; monotone; consistent with dd_embed_cosine") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val pairs = for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      c = BigDecimal(cos(va, vb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.2
    } yield (a, b, c)
    val thrs = Seq(0.2, 0.3, 0.4, 0.5, 0.7, 0.9)
    val want = thrs.map { t =>
      val f = pairs.filter(_._3 >= t)
      (t, f.size.toLong,
        f.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
    }.toSet
    val got = DedupOps.ddCosThresholds(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // curve laws: both counts non-increasing in threshold
    val curve = got.toSeq.sortBy(_._1)
    curve.sliding(2).withFilter(_.length == 2).foreach { w =>
      assert(w(0)._2 >= w(1)._2 && w(0)._3 >= w(1)._3, s"non-monotone at ${w(1)._1}")
    }
    // the 0.4 row must price exactly the dd_embed_cosine pair set
    val at04 = curve.find(_._1 == 0.4).get
    assert(at04._2 == DedupOps.ddEmbeddingCosine(spark, dir).count(),
      "0.4 sweep row != dd_embed_cosine pair count")
  }

  // ----------------------------------------------------- dd_pair_evidence
  test("dd_pair_evidence: every jaccard pair explained by its rarest shared shingles") {
    def sh3(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val all = corpus.map { case (id, t) => id -> sh3(t) }
    val df = all.flatMap(_._2).groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
    val disc = all.map { case (id, g) => id -> g.filter(df(_) <= 50) }
      .filter(_._2.nonEmpty).toMap
    val wantPairs = (for {
      (a, ga) <- disc.toSeq; (b, gb) <- disc.toSeq if a < b
      i = (ga intersect gb).size if i > 0
      j = BigDecimal(i.toDouble / (ga.size + gb.size - i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.2
    } yield (a, b) -> (ga intersect gb)).toMap
    val want = wantPairs.flatMap { case ((a, b), shared) =>
      shared.toSeq.map(s0 => (s0, df(s0))).sortBy { case (s0, d0) => (d0, s0) }
        .take(3).zipWithIndex
        .map { case ((s0, d0), i) => (a, b, (i + 1).toLong, s0, d0) }
    }.toSet
    val got = DedupOps.ddPairEvidence(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
        r.getString(3), r.getLong(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // completeness: every verdict pair carries at least one evidence row
    val covered = got.map(e => (e._1, e._2))
    assert(covered == wantPairs.keySet,
      "evidence must cover exactly the jaccard verdict pairs")
  }

  // ------------------------------------------------------- dd_minhash_est
  test("dd_minhash_est: no estimator violations; exact dups estimate exactly 1") {
    assert(DedupOps.ddMinHashEst(spark, dir).count() == 0,
      "32-perm MinHash estimate must sit within 4 sigma of true jaccard")
    val report = DedupOps.ddMinHashEstReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(report.nonEmpty, "verdict pairs must exist at sf0.001")
    // identical shingle sets -> identical per-perm mins, NO hash luck:
    // every true_j = 1 pair must estimate exactly 1.0
    val exact = report.filter(_._3 == 1.0)
    exact.foreach { case (a, b, _, est, _) =>
      assert(est == 1.0, s"exact-dup pair ($a,$b) estimated $est") }
    // the estimator must beat the trivial constant-0 predictor on average
    val meanErr = report.map(_._5).sum / report.length
    val meanJ = report.map(_._3).sum / report.length
    assert(meanErr < meanJ, f"mean |err| $meanErr%.3f should beat constant-0 $meanJ%.3f")
    report.foreach { case (a, b, _, est, err) =>
      assert(est >= 0.0 && est <= 1.0 && err <= 0.35 + 1e-9, s"pair ($a,$b)") }
  }

  // ------------------------------------------------------- dd_jaccard_hist
  test("dd_jaccard_hist == plain-Scala bucket replay; mass above 0.2 matches detector") {
    def sh3(t: String): Set[String] = {
      val toks = t.trim.split("\\s+")
      if (toks.length < 3) Set.empty
      else toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val all = corpus.map { case (id, t) => id -> sh3(t) }
    val df = all.flatMap(_._2).groupBy(identity).map { case (g, xs) => g -> xs.size }
    val disc = all.map { case (id, g) => id -> g.filter(df(_) <= 50) }
      .filter(_._2.nonEmpty).toMap
    val js = for {
      (a, ga) <- disc.toSeq; (b, gb) <- disc.toSeq if a < b
      i = (ga intersect gb).size if i > 0
    } yield BigDecimal(i.toDouble / (ga.size + gb.size - i))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = js.groupBy(j => math.floor(j * 10) / 10)
      .map { case (b, g) => (b, g.size.toLong) }.toSet
    val got = DedupOps.ddJaccardHist(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // consistency: histogram mass at buckets >= 0.2 equals the detector's
    // pair count (the detector filters on the SAME rounded jaccard)
    val above = got.filter(_._1 >= 0.2).map(_._2).sum
    assert(above == DedupOps.ddNgramJaccard(spark, dir).count(),
      "mass above the 0.2 cut must equal dd_ngram_jaccard's pair count")
  }

  // -------------------------------------------------- dd_signal_agreement
  test("dd_signal_agreement: classes partition the restricted detector pair sets") {
    val shared = {
      val ds = Tables.load(spark, dir, "documents")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val vs = Tables.load(spark, dir, "embeddings")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      ds intersect vs
    }
    def restrict(p: Array[(Long, Long)]): Set[(Long, Long)] =
      p.filter(e => shared(e._1) && shared(e._2)).toSet
    val lex = restrict(DedupOps.ddNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val sem = restrict(DedupOps.ddEmbeddingCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val got = DedupOps.ddSignalAgreement(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("both", "lexical_only", "semantic_only"))
    assert(got("both") == (lex intersect sem).size.toLong, "both")
    assert(got("lexical_only") == (lex diff sem).size.toLong, "lexical_only")
    assert(got("semantic_only") == (sem diff lex).size.toLong, "semantic_only")
    assert(got.values.sum == (lex union sem).size.toLong, "partition law")
    // the sampled default coincides with the exact twin whenever the
    // doc∩emb universe fits the cap (500 ids here vs cap 1500) — the
    // contract that keeps the oracle hash unchanged at gate scale
    val exact = DedupOps.ddSignalAgreementExact(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, "sampled default must equal exact twin under cap")
  }

  test("dd_signal_agreement sampled (small cap) == detect-then-restrict replay") {
    // sample-then-detect on the semantic side must equal running the EXACT
    // full-corpus detectors and restricting their pair sets to the sampled
    // ids — cosine pairs carry no corpus-global statistic, so the two
    // orders commute; this is what makes the sampleCap default sound
    val cap = 60
    val shared = Tables.load(spark, dir, "documents").select(col("doc_id"))
      .join(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val total = shared.count()
    assert(total > cap, "corpus must exceed the cap for a meaningful test")
    // replay the operator's deterministic md5-bucket rule (the
    // oracle-portable idiom: first 8 md5 hex chars as a 32-bit int,
    // kept below ceil(cap/total * 2^32))
    val keep = math.ceil(cap.toDouble / total * 4294967296.0).toLong
    val sampled = shared
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") < lit(keep))
      .collect().map(_.getLong(0)).toSet
    assert(sampled.nonEmpty && sampled.size < total,
      s"sample degenerate: ${sampled.size} of $total")
    def restrict(p: Array[(Long, Long)]): Set[(Long, Long)] =
      p.filter(e => sampled(e._1) && sampled(e._2)).toSet
    val lex = restrict(DedupOps.ddNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val sem = restrict(DedupOps.ddEmbeddingCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    val got = DedupOps.ddSignalAgreement(spark, dir, sampleCap = cap).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("both") == (lex intersect sem).size.toLong, "both")
    assert(got("lexical_only") == (lex diff sem).size.toLong, "lexical_only")
    assert(got("semantic_only") == (sem diff lex).size.toLong, "semantic_only")
    assert(got.values.sum == (lex union sem).size.toLong, "partition law")
  }

  // ------------------------------------------------------- ds_group_split
  test("ds_group_split: no near-dup component straddles splits; reps match groups") {
    val rows = DedupOps.dsGroupSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == corpus.size, "every doc must emit")
    // within a component, ONE split — by construction
    rows.groupBy(_._2).foreach { case (rep, g) =>
      assert(g.map(_._3).distinct.length == 1, s"component $rep straddles") }
    // reps agree with the dedup-groups operator
    val want = DedupOps.ddDedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, rep, _) =>
      assert(rep == want(id), s"doc $id rep") }
    // split replays the md5-bucket rule on the rep
    def md5hex(s0: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (id, rep, sp) =>
      val b = md5hex(rep.toString).head
      val wantSp = if (b < 'c') "train" else if (b < 'e') "val" else "test"
      assert(sp == wantSp, s"doc $id split") }
    // all three splits occupied on this corpus
    assert(rows.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
  }

  // -------------------------------------------------- dd_cross_source_spans
  test("dd_cross_source_spans == plain-Scala distinct-window pair replay") {
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = corpus.toSeq.groupBy(p => srcOf(p._1)).map { case (src, g) =>
      src -> g.flatMap { case (_, t) =>
        val toks = t.trim.split("\\s+")
        if (toks.length < 8) Seq.empty
        else toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSeq
      }.toSet
    }
    val want = (for {
      (a, ga) <- bySrc.toSeq; (b, gb) <- bySrc.toSeq if a < b
      i = (ga intersect gb).size if i > 0
    } yield (a, b, i.toLong)).toSet
    val got = DedupOps.ddCrossSourceSpans(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.nonEmpty, "planted cross-source duplication should surface")
  }

  // ------------------------------------------------------------ txt_cohesion
  test("txt_cohesion == plain-Scala split-half jaccard replay") {
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = corpus.map { case (id, t) =>
      val toks = t.trim.toLowerCase.split("\\s+")
      val k = toks.length / 2
      val (a, b) = (toks.take(k).toSet, toks.drop(k).toSet)
      val i = (a intersect b).size
      val u = a.size + b.size - i
      (id, toks.length.toLong, r6(i.toDouble / math.max(u, 1)))
    }.toSet
    val got = graft.operators.TextQueries.txtCohesion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    got.foreach { case (id, _, c) =>
      assert(c >= 0.0 && c <= 1.0, s"doc $id cohesion $c") }
  }

  // ----------------------------------------------------- txt_template_headers
  test("txt_template_headers == plain-Scala header-census replay") {
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val heads = corpus.toSeq.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+")
      if (toks.length < 8) None
      else Some((srcOf(id), toks.take(8).mkString(" ")))
    }
    val want = heads.groupBy(_._1).map { case (src, g) =>
      val byHd = g.groupBy(_._2).map { case (_, x) => x.size }
      val templated = byHd.filter(_ >= 2).sum.toLong
      (src, g.size.toLong, templated, r6(templated.toDouble / g.size))
    }.toSet
    val got = graft.operators.TextQueries.txtTemplateHeaders(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
  }

  // ----------------------------------------------------- txt_lang_confusion
  test("txt_lang_confusion: marginals match txt_langid and the corpus labels") {
    val rows = graft.operators.TextQueries.txtLangConfusion(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).sum == corpus.size.toLong, "matrix must cover corpus")
    // predicted marginal == txt_langid's distribution
    val predMarg = rows.groupBy(_._2).map { case (p, g) => p -> g.map(_._3).sum }
    val langid = graft.operators.TextQueries.txtLangId(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(predMarg == langid, s"$predMarg != $langid")
    // labeled marginal == the shipped lang column counts
    val labMarg = rows.groupBy(_._1).map { case (l, g) => l -> g.map(_._3).sum }
    val shipped = Tables.load(spark, dir, "documents")
      .select("lang").collect().map(_.getString(0))
      .groupBy(identity).map { case (l, g) => l -> g.size.toLong }
    assert(labMarg == shipped)
  }

  // ------------------------------------------------------ txt_encoding_scan
  test("txt_encoding_scan == plain-Scala byte scan; doc counts conserve") {
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = corpus.toSeq.groupBy(p => srcOf(p._1)).map { case (src, g) =>
      val ctrl = g.count(_._2.exists(c =>
        c < 0x20 && c != '\t' && c != '\n' && c != '\r')).toLong
      val nonAscii = g.count(_._2.exists(_ > 0x7f)).toLong
      val repl = g.count(_._2.contains('�')).toLong
      (src, g.size.toLong, ctrl, nonAscii, repl)
    }.toSet
    val got = graft.operators.TextQueries.txtEncodingScan(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.toSeq.map(_._2).sum == corpus.size.toLong)
  }
}
