package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Recall/consistency checks for the approximate dedup + ANN operators —
  * the ones with no SQL oracle (their hashing isn't expressible in DuckDB).
  * Ground truth is the exact variant of each.
  */
class DedupSimilaritySpec extends AnyFunSuite with TempDirs {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("4")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH finds high-jaccard pairs (recall vs exact ≥ 0.9 at j≥0.5)") {
    val exact = pairs(DedupOps.ddNgramJaccard(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5))
    val lsh = pairs(DedupOps.ddMinHashLsh(spark, dir))
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} true pairs")
    // no false positives: LSH output is re-verified with exact jaccard ≥ 0.2
    val all02 = pairs(DedupOps.ddNgramJaccard(spark, dir))
    assert(lsh.subsetOf(all02), "LSH emitted a pair below the jaccard threshold")
  }

  test("simhash pairs cover near-identical docs") {
    val exact = pairs(DedupOps.ddNgramJaccard(spark, dir)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.9))
    val sim = pairs(DedupOps.ddSimHashPairs(spark, dir))
    assert(exact.nonEmpty)
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("simhash signature is deterministic and permutation-sensitive") {
    val sigs = DedupOps.ddSimHashSigs(spark, dir).collect()
    val again = DedupOps.ddSimHashSigs(spark, dir).collect()
    assert(sigs.sameElements(again))
    assert(sigs.map(_.getLong(1)).distinct.length > sigs.length / 2,
      "signatures should mostly differ across distinct docs")
  }

  test("ANN LSH recall@10 vs brute force ≥ 0.5") {
    val brute = SimilarityOps.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.annLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    // 8-bit SRP with 1-bit multi-probe on 64-dim data: recall is modest by
    // design (buckets prune ~99% of the corpus); assert it beats chance by
    // a wide margin and stays deterministic.
    assert(recall >= 0.5, s"ANN recall@10 = $recall")
  }

  test("ANN IVF: deterministic, exact within candidates, measured recall floor") {
    val ivf1 = SimilarityOps.annIvf(spark, dir).collect().map(_.toSeq).toSeq
    val ivf2 = SimilarityOps.annIvf(spark, dir).collect().map(_.toSeq).toSeq
    assert(ivf1 == ivf2, "sampled quantizer + tie-broken ranking must replay identically")
    // precision: every returned (pair, cos) must agree with the brute-force
    // score — IVF approximates RECALL (which candidates are seen), never
    // the scores of the candidates it does see
    val brute = SimilarityOps.bruteTopK(spark, dir, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val pairs = ivf1.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(3).asInstanceOf[Double]))
    pairs.foreach { case (q, n, c) =>
      assert(brute.get((q, n)).contains(c), s"IVF cos for ($q,$n) diverges from brute")
    }
    // recall floor at this SF (measured 0.3-0.6 per query; floor with margin)
    val top10 = SimilarityOps.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    val recall = top10.count(found.contains).toDouble / top10.size
    assert(recall >= 0.2, s"IVF recall@10 = $recall")
  }

  test("ANN IVF: full recall on the derived clusterable corpus") {
    // floor > 1 turns the violation filter into a full per-query recall
    // report; on genuinely clustered data the IVF index must be near-exact
    val recalls = SimilarityOps.ivfRecallCheck(spark, dir, floor = 1.01)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.nonEmpty)
    recalls.foreach { case (q, r) =>
      assert(r >= 0.9, s"query $q: clustered-corpus recall $r < 0.9 " +
        "(cell assignment, probe ranking, or scoring join regressed)")
    }
  }

  test("PQ: deterministic, exact scores within candidates, full recall on clustered corpus") {
    val pq1 = SimilarityOps.annPq(spark, dir).collect().map(_.toSeq).toSeq
    val pq2 = SimilarityOps.annPq(spark, dir).collect().map(_.toSeq).toSeq
    assert(pq1 == pq2, "sampled codebooks + tie-broken ADC ranking must replay identically")
    // precision: PQ approximates WHICH candidates survive the ADC scan;
    // the re-rank is exact, so every emitted cos must match brute force
    val brute = SimilarityOps.bruteTopK(spark, dir, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val got = pq1.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(3).asInstanceOf[Double]))
    got.foreach { case (q, n, c) =>
      assert(brute.get((q, n)).contains(c), s"PQ cos for ($q,$n) diverges from brute")
    }
    // on the derived clusterable corpus the overfetch+re-rank must be
    // near-exact — same bar as the IVF certification
    val recalls = SimilarityOps.pqRecallCheck(spark, dir, floor = 1.01)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.nonEmpty)
    recalls.foreach { case (q, r) =>
      assert(r >= 0.9, s"query $q: clustered-corpus PQ recall $r < 0.9 " +
        "(encoding, ADC scan, or re-rank join regressed)")
    }
  }

  test("PQ codes: deterministic, in range, and not degenerate") {
    val c1 = SimilarityOps.pqCodes(spark, dir).collect().map(_.toSeq).toSeq
    val c2 = SimilarityOps.pqCodes(spark, dir).collect().map(_.toSeq).toSeq
    assert(c1 == c2, "md5-sampled model + tie-broken argmins must replay identically")
    // long scalar form (vec_id, cell, mi, code): m rows per vector
    val perVec = c1.groupBy(_(0)).values.map(_.size).toSet
    assert(perVec == Set(16), s"expected 16 subspace rows per vector, got $perVec")
    val cellsSeen = c1.map(_(1).asInstanceOf[Int]).toSet
    assert(cellsSeen.forall(c => c >= 0 && c < 32))
    assert(c1.map(_(2).asInstanceOf[Int]).toSet == (0 until 16).toSet)
    val codes = c1.map(_(3).asInstanceOf[Int])
    assert(codes.forall(e => e >= 0 && e < 16))
    // degenerate encodings (all vectors sharing one codeword) are how the
    // whole-vector-PQ failure mode would resurface — require real spread
    assert(codes.toSet.size > 8, s"only ${codes.toSet.size} distinct codes used")
    assert(cellsSeen.size > 4, s"only ${cellsSeen.size} distinct cells used")
  }

  test("PQ training: deterministic, distortion drops, recall preserved") {
    val t1 = SimilarityOps.pqTrainBooks(spark, dir).collect().map(_.toSeq).toSeq
    val t2 = SimilarityOps.pqTrainBooks(spark, dir).collect().map(_.toSeq).toSeq
    assert(t1 == t2, "DECIMAL-exact means must replay identically")
    // long scalar form (mi, code, dim, c): 16 subspaces x 16 entries x 4 dims
    assert(t1.size == 1024, s"expected 16x16x4 model rows, got ${t1.size}")
    // the Lloyd step must actually help: corpus mean assignment distance
    // (constant-dropped metric — offsets cancel between codebooks) drops
    val d0 = SimilarityOps.pqMeanAssignD(spark, dir, trainIters = 0)
    val d1 = SimilarityOps.pqMeanAssignD(spark, dir, trainIters = 1)
    assert(d1 < d0, s"trained distortion $d1 not below sampled $d0")
    // and searching with trained books keeps the certification bar
    val recalls = SimilarityOps.pqRecallCheck(spark, dir, floor = 1.01,
      trainIters = 1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.nonEmpty)
    recalls.foreach { case (q, r) =>
      assert(r >= 0.9, s"query $q: trained-books recall $r < 0.9")
    }
  }

  test("ANN cosine pairs == exact cosine pairs (complete recall, verified precision)") {
    // the law dd_semdedup_ann's oracle rests on: SRP multi-probe candidates,
    // exactly re-verified, recover EXACTLY the cos >= 0.4 pair set on this
    // corpus — no false negatives (8 tables x ham<=2 probing), and false
    // positives are impossible by construction (exact re-verification)
    val exact = pairs(DedupOps.ddEmbeddingCosine(spark, dir))
    val ann = pairs(DedupOps.annCosinePairs(spark, dir))
    assert(exact.nonEmpty, "testdata should contain cos >= 0.4 pairs")
    assert(ann == exact,
      s"missed=${(exact -- ann).take(5)} spurious=${(ann -- exact).take(5)}")
    // value parity, not just set parity: the blocked group verify computes
    // its dots in a primitive Scala fold, which must be bit-identical to
    // the exact path's VecDot fold (same left-to-right order) after the
    // shared round(., 6)
    val exactV = DedupOps.ddEmbeddingCosine(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val annV = DedupOps.annCosinePairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(annV == exactV, "rounded cosines must match the exact path exactly")
  }

  test("adaptive verify: join and blocked strategies agree pair-for-pair, value-for-value") {
    // the switch in annCandidatePairsFrom picks the broadcast join while
    // the vector table fits the broadcast budget, the shuffled join below
    // the candidate crossover, the blocked group verify above it;
    // numeric interchangeability is the switch's whole
    // contract, so pin BOTH private paths against each other on the same
    // base + candidate frames (all-pairs, so verified-pair coverage is
    // total, including pairs straddling every (lo, hi) block combination)
    import org.apache.spark.sql.functions.{col, sqrt}
    import graft.functions.{VectorFunctions => VF}
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"),
        sqrt(VF.dot(col("ve"), col("ve"))).as("nrm"))
      .localCheckpoint()
    val ids = base.select("vec_id")
    val cands = ids.as("a").crossJoin(ids.as("b"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
    def byPair(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaJoin = byPair(DedupOps.verifyCandidatesJoin(base, cands, 0.4))
    val viaBcast = byPair(
      DedupOps.verifyCandidatesJoin(base, cands, 0.4, hintBroadcast = true))
    val viaBlocked = byPair(DedupOps.verifyCandidatesBlocked(base, cands, 0.4))
    assert(viaJoin.nonEmpty, "all-pairs at cos >= 0.4 should be non-empty")
    assert(viaJoin == viaBlocked,
      s"missing=${(viaJoin.keySet -- viaBlocked.keySet).take(3)} " +
        s"spurious=${(viaBlocked.keySet -- viaJoin.keySet).take(3)}")
    // the r14 broadcast tier is the same join with a hint — the hint may
    // change the physical plan, never a value
    assert(viaBcast == viaJoin, "broadcast hint changed verify values")
  }

  test("signal-agreement sampler: class proportions within the binomial envelope") {
    // ddSignalAgreement's sampled default keeps an id iff its md5-hex
    // bucket clears ceil(cap/total*2^32) — expected sample ~cap with
    // +-sqrt(cap) size noise. Size is already pinned; this spec pins the
    // CLASS MIX: on a corpus with 400 planted pairs per verdict class
    // (disjoint ids, classes interleaved by pair index so no id-range or
    // id-mod layout aligns with a class), each class's sampled pair count
    // is Binomial(400, p^2) with p = keep/2^32, so a future sampler change
    // that biases WHICH ids survive (not just how many) drags a class out
    // of its 4-sigma envelope and fails here. Deterministic: the md5
    // sampler has no run-to-run variance — the envelope justifies the
    // bound, the test itself is exact replay.
    import spark.implicits._
    val nPer = 400
    val dim = 256 // random-unit cos ~ N(0, 1/256): P(cos>0.4) ~ 1e-10, no
                  // spurious semantic pairs pollute the planted classes
    def vec(seed: Long): Array[Float] = {
      val rng = new scala.util.Random(seed)
      Array.fill(dim)(rng.nextGaussian().toFloat)
    }
    val rows = (0 until 3 * nPer).flatMap { i =>
      val (idA, idB) = (10000L + 2 * i, 10001L + 2 * i)
      val cls = i % 3 // 0 = both, 1 = lexical_only, 2 = semantic_only
      val sharedText = s"w${i}a w${i}b w${i}c w${i}d w${i}e"
      def uniq(id: Long) = s"u${id}a u${id}b u${id}c u${id}d u${id}e"
      cls match {
        case 0 => Seq((idA, sharedText, vec(i)), (idB, sharedText, vec(i)))
        case 1 => Seq((idA, sharedText, vec(2L * i + 1000000)),
                      (idB, sharedText, vec(2L * i + 1000001)))
        case _ => Seq((idA, uniq(idA), vec(i)), (idB, uniq(idB), vec(i)))
      }
    }
    val d = tempDir("graft-binom").toString
    rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    rows.map { case (id, _, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    def byClass(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = byClass(DedupOps.ddSignalAgreementExact(spark, d))
    assert(exact == Map("both" -> nPer.toLong, "lexical_only" -> nPer.toLong,
      "semantic_only" -> nPer.toLong),
      s"corpus construction must plant exactly $nPer pairs per class: $exact")

    val total = 2L * 3 * nPer // 2400 ids
    val cap = 600 // p = 0.25 exactly (cap/total divides 2^32)
    val sampled = byClass(DedupOps.ddSignalAgreement(spark, d, sampleCap = cap))
    val q = math.ceil(cap.toDouble / total * 4294967296.0) / 4294967296.0 *
      math.ceil(cap.toDouble / total * 4294967296.0) / 4294967296.0
    val mean = nPer * q
    val tol = 4.0 * math.sqrt(nPer * q * (1 - q)) + 2.0
    Seq("both", "lexical_only", "semantic_only").foreach { cls =>
      val got = sampled(cls).toDouble
      assert(math.abs(got - mean) <= tol,
        s"$cls: sampled $got outside binomial envelope $mean +- $tol " +
          s"(exact=${exact(cls)}, q=$q) — the sampler is class-biased")
    }
  }

  test("semdedup-ann contraction: clone-heavy corpus == exact semantic dedup") {
    // ddSemDedupAnn collapses byte-identical embeddings to their min-id
    // representative BEFORE the SRP layer; the testdata has no clones, so
    // derive a corpus where every vector appears 3x (the ScaleSmoke clone
    // scheme) and certify the full contract — contraction, ANN on
    // distinct reps, CC, re-expansion — against the exact path end-to-end
    import org.apache.spark.sql.functions.{col, lit}
    val d = tempDir("graft-semclone").toString
    val emb = Tables.load(spark, dir, "embeddings")
    (0 until 3).map { k =>
      val cols = (col("vec_id") + lit(k.toLong * 1000000000L)).as("vec_id") +:
        emb.columns.filter(_ != "vec_id").map(col).toSeq
      emb.select(cols: _*)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val ann = DedupOps.ddSemDedupAnn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val exact = DedupOps.ddSemDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(ann == exact,
      s"missing=${(exact -- ann).take(3)} spurious=${(ann -- exact).take(3)}")

    // degenerate twins: byte-identical ZERO vectors have NaN cosine with
    // everything — the exact path's emit guard and the DuckDB oracle
    // (0/0 → NULL) both leave them singletons, so the contraction must
    // NOT collapse them (nor let them near the SRP layer)
    val dims = emb.selectExpr("size(embedding)").first().getInt(0)
    val dz = tempDir("graft-semzero").toString
    import spark.implicits._
    val zeros = Seq(5000000001L, 5000000002L)
      .map(id => (id, Array.fill(dims)(0.0f), 0)).toDF("vec_id", "embedding", "label")
    Tables.load(spark, dir, "embeddings").select("vec_id", "embedding", "label")
      .unionByName(zeros)
      .write.mode("overwrite").parquet(s"$dz/embeddings.parquet")
    val groups = DedupOps.ddSemDedupAnn(spark, dz).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    Seq(5000000001L, 5000000002L).foreach { id =>
      assert(groups(id) == ((id, true)),
        s"zero vector $id must stay its own singleton, got ${groups(id)}")
    }
    // the clone structure itself: every vector's group contains its 3
    // clones, and the canonical is always a base-copy (smallest-id) vector
    val byGroup = ann.groupBy(_._2)
    byGroup.foreach { case (rep, members) =>
      assert(rep < 1000000000L, s"canonical $rep is not a base-copy id")
      assert(members.size % 3 == 0,
        s"group $rep size ${members.size} not a clone-multiple")
    }
  }

  test("exact dedup groups every doc exactly once") {
    val d = DedupOps.ddExact(spark, dir)
    val total = d.agg(org.apache.spark.sql.functions.sum("n_copies")).collect()(0).getLong(0)
    val docs = Tables.load(spark, dir, "documents").count()
    assert(total == docs)
  }

  test("dedup groups: transitive closure of near-dup pairs, min-id canonical") {
    import org.apache.spark.sql.functions.col
    val groups = graft.operators.DedupOps.ddDedupGroups(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val prs = pairs(graft.operators.DedupOps.ddNgramJaccard(spark, dir))
    // every detected pair lands in one component
    prs.foreach { case (a, b) =>
      assert(groups(a)._1 == groups(b)._1, s"pair ($a,$b) split across groups")
    }
    // the representative is a member and the component minimum
    groups.foreach { case (id, (rep, canon)) =>
      assert(rep <= id)
      assert(canon == (rep == id))
      assert(groups(rep)._1 == rep, s"rep $rep of $id is not its own rep")
    }
    // docs outside any pair are their own singleton component
    val paired = prs.flatMap(p => Seq(p._1, p._2))
    groups.collect { case (id, (rep, _)) if !paired.contains(id) =>
      assert(rep == id, s"unpaired doc $id must be a singleton")
    }
  }

  test("connected components converge on a 1000-link chain in O(log n) rounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every round's jobs carry a description naming the round, and the
    // caller's description comes back on return
    val sc = spark.sparkContext
    val reg = new graft.engine.JobRegistry(spark)
    sc.setJobDescription("chain caller")
    def rounds(chain: Seq[(Long, Long)], driverEdgeCap: Int): (Map[Long, Long], Seq[Int]) = {
      val pairsDf = chain.toDF("id_a", "id_b")
      val edges = pairsDf.union(pairsDf.select(col("id_b"), col("id_a")))
        .toDF("src", "dst")
      val t0 = System.currentTimeMillis()
      val out = DedupOps.connectedComponents(edges, maxRounds = 25, driverEdgeCap = driverEdgeCap)
      assert(sc.getLocalProperty("spark.job.description") == "chain caller")
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.ListenerBusProbe.drain(sc)
      val descs = reg.jobs().filter(_.startMs >= t0).map(_.description)
      assert(descs.contains("chain caller"), s"the final labels run as the caller: $descs")
      val Round = "connected components round (\\d+).*".r
      (labels, descs.collect { case Round(n) => n.toInt }.distinct)
    }
    try {
      // adversarial worst case for plain min-label propagation (would need
      // ~999 rounds — the pointer-jump step must close it in ≤ 25)
      val chain = (0L until 1000L).map(i => (i, i + 1))
      val (labels, driverRounds) = rounds(chain, GraftTuning.CcDriverEdgeCap)
      assert(labels.size == 1001)
      assert(labels.values.forall(_ == 0L), "one chain = one component, rep = min id")
      assert(driverRounds == Seq(0), "the residual fits the cap: round 0, then the driver")
      // the same chain over shuffled ids with the driver finish off runs
      // distributed contraction rounds, numbered from 0 without a gap
      val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(5))
        .shuffle((0L to 1000L).toVector)
      val (forced, forcedRounds) = rounds(chain.map { case (a, b) =>
        (perm(a.toInt), perm(b.toInt)) }, 0)
      assert(forced.size == 1001 && forced.values.forall(_ == 0L))
      assert(forcedRounds.size > 1 && forcedRounds == (0 to forcedRounds.max),
        s"rounds: $forcedRounds")
    } finally { sc.setJobDescription(null); reg.close() }
  }

  test("CC driver union-find finish ≡ pure distributed rounds (r19 residual contraction)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // mixed shapes: a shuffled-id chain (multi-basin merge, the case the
    // residual contraction accelerates), a clique, a 2-node component, and
    // ids far apart so label values exercise the min-union ordering
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle((0L until 60L).toVector)
    val chain = perm.sliding(2).map(p => (p(0), p(1))).toSeq
    val clique = for { a <- 100L to 104L; b <- (a + 1) to 104L } yield (a, b)
    val pairsDf = (chain ++ clique :+ ((200L, 201L))).toDF("id_a", "id_b")
    val edges = pairsDf.union(pairsDf.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    def run(cap: Int): Map[Long, Long] =
      DedupOps.connectedComponents(edges, maxRounds = 25, driverEdgeCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = run(GraftTuning.CcDriverEdgeCap) // residual fits: driver finish
    val viaRounds = run(0)                           // cap 0: never fits, pure rounds
    assert(viaDriver == viaRounds, "the two finish paths must agree exactly")
    assert(viaDriver.size == 60 + 5 + 2)
    assert((0L until 60L).forall(i => viaDriver(i) == 0L), "chain rep = min id")
    assert((100L to 104L).forall(i => viaDriver(i) == 100L), "clique rep = min id")
    assert(viaDriver(200L) == 200L && viaDriver(201L) == 200L)
  }

  test("native expressions are SQL-callable via GraftExtensions") {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "documents").createOrReplaceTempView("ext_docs")
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("ve"))
      .createOrReplaceTempView("ext_emb")
    // SQL results must match the Column-API expressions exactly
    val sqlSig = spark.sql(
      "SELECT doc_id, simhash64(split(lower(trim(text)), '\\\\s+')) AS sig " +
        "FROM ext_docs ORDER BY doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val apiSig = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.SimHash64(
          graft.functions.TextFunctions.tokens(lower(col("text")))).as("sig"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sqlSig.sameElements(apiSig))
    val sqlVec = spark.sql(
      "SELECT vec_id, srp_code(ve, 6, 1) AS code, vec_dot(ve, ve) AS sq " +
        "FROM ext_emb ORDER BY vec_id LIMIT 5").collect()
    val apiVec = spark.sql("SELECT vec_id, ve FROM ext_emb ORDER BY vec_id LIMIT 5")
      .select(col("vec_id"),
        graft.functions.SrpCode(col("ve"), 6, 1).as("code"),
        graft.functions.VecDot(col("ve"), col("ve")).as("sq"))
      .collect()
    assert(sqlVec.map(_.toSeq).toSeq == apiVec.map(_.toSeq).toSeq)
  }

  test("curation column-compositions are SQL-callable via GraftExtensions") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    Tables.load(spark, dir, "documents").createOrReplaceTempView("cur_docs")
    val sql = spark.sql(
      "SELECT doc_id, size(graft_tokens(text)) AS n, graft_quality(text) AS q, " +
        "graft_langid(text) AS lang, graft_fingerprint(text) AS fp, " +
        "graft_scrub_fp(text) AS sfp " +
        "FROM cur_docs ORDER BY doc_id").collect()
    // sfp compares against the PRODUCTION scrub expression (TextQueries
    // .scrubFp — the same definition txt_scrub and graft_scrub_fp share),
    // not a local re-derivation that would pin nothing
    val api = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("n"),
        TextFunctions.qualityScore(col("text")).as("q"),
        TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        graft.operators.TextQueries.scrubFp(col("text")).as("sfp"))
      .orderBy("doc_id").collect()
    assert(sql.map(_.toSeq).toSeq == api.map(_.toSeq).toSeq)
    assert(sql.map(_.getString(3)).toSet.subsetOf(
      Set("en", "de", "fr", "es", "und")))
  }

  test("bloom sketch: zero false negatives, bounded false positives") {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomSketch
    val members = spark.range(0, 1000).select(xxhash64(col("id")).as("h"))
    val bloom = members.agg(
      BloomSketch.bloomAgg(col("h"), 1000L, 16L * 1000).as("bf"))
    // every inserted key probes true — the law dd_bloom certifies
    val fn = members
      .filter(!BloomSketch.mightContain(bloom, col("h"))).count()
    assert(fn == 0L, s"bloom false negatives: $fn")
    // disjoint probe keys: FPR stays near the 16-bits/item design point
    val outside = spark.range(1000000, 1020000)
      .select(xxhash64(col("id")).as("h"))
    val fp = outside
      .filter(BloomSketch.mightContain(bloom, col("h"))).count()
    assert(fp < 200L, s"bloom FPR ${fp / 20000.0} above 1%")
  }

  test("dd_bloom violation set is empty on testdata") {
    assert(DedupOps.ddBloomDecontaminate(spark, dir).count() == 0L)
  }

  test("dd_semdedup_cluster == plain-Scala seed-assign + intra-cluster prune") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    // mirror the operator's auto-k rule, not a hardcoded count — at this
    // corpus (500 vectors) it resolves to the k=16 floor
    val k = math.max(16, math.ceil(vecs.length / 512.0).toInt)
    val seeds = vecs.take(k).map { case (id, v) => (id, v.map(r6)) }
    val assigned = vecs.map { case (id, v) =>
      val n = nrm(v)
      val best = seeds.map { case (c, cv) => (c, dot(v, cv) / (n * nrm(cv))) }
        .maxBy { case (c, cos) => (cos, -c) }._1
      (id, v, n, best)
    }
    val pruned = (for {
      a <- assigned; b <- assigned
      if a._4 == b._4 && a._1 < b._1 &&
        r6(dot(a._2, b._2) / (a._3 * b._3)) >= 0.4
    } yield b._1).toSet
    val want = assigned.map { case (id, _, _, c) =>
      (id, c, if (pruned(id)) 0L else 1L)
    }.toSet
    val got = DedupOps.ddSemDedupCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.exists(_._3 == 0L), "testdata should contain planted near-dups")
  }

  test("dd_semdedup_cluster auto-k: k grows past the floor on a large corpus") {
    // every gate corpus resolves to the k=16 floor, so the DYNAMIC branch
    // of the rule needs its own corpus: 18x-cloned embeddings (9000
    // vectors -> k = max(16, ceil(9000/512)) = 18), replayed plain-Scala
    // with the same rule end-to-end
    import org.apache.spark.sql.functions.{col, lit}
    val d = tempDir("graft-autok").toString
    val emb0 = Tables.load(spark, dir, "embeddings")
    (0 until 18).map { k =>
      val cols = (col("vec_id") + lit(k.toLong * 1000000000L)).as("vec_id") +:
        emb0.columns.filter(_ != "vec_id").map(col).toSeq
      emb0.select(cols: _*)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val vecs = Tables.load(spark, d, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val k = math.max(16, math.ceil(vecs.length / 512.0).toInt)
    assert(k > 16, s"corpus must exercise the dynamic branch, got k=$k")
    val seeds = vecs.take(k).map { case (id, v) => (id, v.map(r6)) }
    val assigned = vecs.map { case (id, v) =>
      val n = nrm(v)
      val best = seeds.map { case (c, cv) => (c, dot(v, cv) / (n * nrm(cv))) }
        .maxBy { case (c, cos) => (cos, -c) }._1
      (id, v, n, best)
    }
    val byCluster = assigned.groupBy(_._4)
    val pruned = byCluster.values.toSeq.flatMap { g =>
      val gs = g.toSeq
      for {
        a <- gs; b <- gs
        if a._1 < b._1 && r6(dot(a._2, b._2) / (a._3 * b._3)) >= 0.4
      } yield b._1
    }.toSet
    val want = assigned.map { case (id, _, _, c) =>
      (id, c, if (pruned(id)) 0L else 1L)
    }.toSet
    val got = DedupOps.ddSemDedupCluster(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the dynamic k actually engaged: some vector assigned to a seed
    // beyond the 16 lowest ids
    val low16 = vecs.take(16).map(_._1).toSet
    assert(got.exists(g => !low16.contains(g._2)),
      "no vector chose a seed beyond the k=16 floor — dynamic branch inert")
  }

  test("dd_contam_fraction: bounded, complete, consistent with pair verdicts") {
    val rows = DedupOps.ddContamFraction(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val trainDocs = Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("source") =!= "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.keySet == trainDocs, "every train doc exactly once")
    rows.values.foreach { case (g, c, f) =>
      assert(c >= 0 && c <= g, s"n_contam $c outside [0, $g]")
      assert(f >= 0.0 && f <= 1.0, s"frac $f outside [0,1]")
      assert(g > 0 || f == 0.0, "zero-gram docs must report frac 0")
    }
    // any train doc flagged by the binary pair verdict (≥3 shingles shared
    // with ONE eval doc) must show ≥3 contaminated shingles here — the
    // graded score dominates the per-pair count
    DedupOps.ddDecontaminate(spark, dir).collect().foreach { r =>
      val td = r.getLong(0); val shared = r.getLong(2)
      assert(rows(td)._2 >= shared,
        s"train doc $td: n_contam ${rows(td)._2} < pair n_shared $shared")
    }
  }

  test("dd_eval_exposure is the exact regroup of the decontamination pairs") {
    val pairs = DedupOps.ddDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = pairs.groupBy(_._2).map { case (ev, g) =>
      (ev, g.length.toLong, g.map(_._3).max, g.map(_._3).sum)
    }.toSet
    val got = DedupOps.ddEvalExposure(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // every exposure row certifies a compromised benchmark item: its
    // deepest overlap is at least the pair-flag floor
    got.foreach { case (ev, n, mx, tot) =>
      assert(n >= 1 && mx >= 3 && tot >= 3L * 1, s"eval doc $ev")
      assert(tot >= mx && tot <= n * mx)
    }
  }

  test("emb_hard_negatives == plain-Scala best other-label neighbors") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](1 + 1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 3
    val want = vecs.filter(_._1 < 5).flatMap { case (qid, qlab, qv) =>
      vecs.filter(v => v._1 != qid && v._2 != qlab)
        .map(v => (v._1, v._2, cos(qv, v._3)))
        .sortBy { case (id, _, c) => (-c, id) }
        .take(k).zipWithIndex
        .map { case ((id, lab, c), i) =>
          (qid, id, lab, i + 1L,
            BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }.toSet
    val got = SimilarityOps.embHardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3).toLong,
        r.getDouble(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the defining law: every mined negative carries a label differing
    // from its query's
    val labelOf = vecs.map(v => v._1 -> v._2).toMap
    got.foreach { case (q, n, nl, _, _) =>
      assert(labelOf(n) == nl && nl != labelOf(q), s"query $q neg $n")
    }
  }
}
