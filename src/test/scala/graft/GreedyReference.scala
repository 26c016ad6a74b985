package graft

/** The five hand-written greedy matchers (`AFTER MATCH SKIP PAST LAST
  * ROW`) that [[graft.operators.PatternCompiler.genericMatches]]
  * generalizes — kept test-side as the reference implementations the
  * generic matcher is pinned against (PatternCompilerSpec) and the
  * batch side of the TTL-twin equality specs (EventPatternSpec). Each
  * takes one key's rows sorted ascending; the mask bits are the
  * registry layout of [[graft.operators.PatternCompiler.specMask]]. */
object GreedyReference {

  /** Pure greedy matcher over one key's (ts_us, mask) rows, sorted
    * ascending: leftmost-earliest match, then SKIP PAST LAST ROW.
    * Anchors are tried in row order; the first completable anchor yields
    * the leftmost match (matches order by their first row, and greedy
    * inner anchoring is completion-optimal — the PatternCompiler
    * envelope's exactness argument). */
  def greedyMatches(evs: IndexedSeq[(Long, Int)], nStages: Int,
      withinUs: Long): List[IndexedSeq[Long]] = {
    val out = List.newBuilder[IndexedSeq[Long]]
    var from = 0
    while (from < evs.length) {
      var found: IndexedSeq[Long] = null
      var i = from
      while (found == null && i < evs.length) {
        if ((evs(i)._2 & 1) != 0) {
          val t1 = evs(i)._1
          val anchors = new Array[Long](nStages)
          anchors(0) = t1
          var k = 1
          var j = i + 1
          var lastIdx = i
          while (k < nStages && j < evs.length && evs(j)._1 <= t1 + withinUs) {
            if ((evs(j)._2 & (1 << k)) != 0 && evs(j)._1 > anchors(k - 1)) {
              anchors(k) = evs(j)._1; lastIdx = j; k += 1
            }
            j += 1
          }
          if (k == nStages) {
            found = anchors.toIndexedSeq
            // SKIP PAST LAST ROW at the TIMESTAMP grain: rows sharing the
            // last anchor's instant are consumed with it. Index order
            // among equal timestamps is sort tie-breaking, i.e. arbitrary
            // — instant-grain skipping is the deterministic choice, and
            // it is what lets the TTL twin's ts-cursor replay
            // (StreamOps.streamingPatternSpecTtl) equal this function.
            from = lastIdx + 1
            while (from < evs.length && evs(from)._1 <= anchors(nStages - 1))
              from += 1
          }
        }
        i += 1
      }
      if (found == null) from = evs.length else out += found
    }
    out.result()
  }

  /** Pure greedy matcher for `A B+ C` over one key's (ts, mask, value)
    * rows sorted ascending — the SKIP PAST LAST ROW form of the
    * compiled `+` stage, sharing its stage-anchor and run semantics (earliest b1, earliest t3 after b1, run =
    * B's in the open (t1, t3)). Returns (t1, b1, bCount, bSum, bLast,
    * t3) per match; consumption skips past t3 at the instant grain
    * (the [[greedyMatches]] rule). */
  def greedyMatchesPlus(evs: IndexedSeq[(Long, Int, Double)],
      withinUs: Long): List[(Long, Long, Long, Double, Long, Long)] = {
    val out = List.newBuilder[(Long, Long, Long, Double, Long, Long)]
    var from = 0
    while (from < evs.length) {
      var found = false
      var i = from
      while (!found && i < evs.length) {
        if ((evs(i)._2 & 1) != 0) {
          val t1 = evs(i)._1
          var b1 = Long.MinValue
          var t3 = Long.MinValue
          var j = i + 1
          while (t3 == Long.MinValue && j < evs.length &&
              evs(j)._1 <= t1 + withinUs) {
            if (b1 == Long.MinValue && (evs(j)._2 & 2) != 0 && evs(j)._1 > t1)
              b1 = evs(j)._1
            else if (b1 != Long.MinValue && (evs(j)._2 & 4) != 0 &&
                evs(j)._1 > b1)
              t3 = evs(j)._1
            j += 1
          }
          if (t3 != Long.MinValue) {
            found = true
            // run aggregation over the slice ALREADY SCANNED, (i, j): every
            // run member has t1 < ts < t3 ≤ evs(j−1)'s ts, and rows are
            // ts-sorted, so nothing past j can qualify — bounding the scan
            // here keeps the whole matcher O(n) per key instead of
            // O(matches × n) (r17 advice; matters once this matcher rides
            // the streaming TTL path on a hot key). Sorted order also makes
            // the last qualifying row the max — no rescan for b_last.
            var bCount = 0L
            var bSum = BigDecimal(0)
            var bLast = Long.MinValue
            var r = i + 1
            while (r < j) {
              val e = evs(r)
              if ((e._2 & 2) != 0 && e._1 > t1 && e._1 < t3) {
                bCount += 1
                bSum += BigDecimal(e._3)
                  .setScale(15, BigDecimal.RoundingMode.HALF_UP)
                bLast = e._1
              }
              r += 1
            }
            out += ((t1, b1, bCount,
              BigDecimal(bSum.toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0,
              bLast, t3))
            from = j
            while (from < evs.length && evs(from)._1 <= t3) from += 1
          }
        }
        i += 1
      }
      if (!found) from = evs.length
    }
    out.result()
  }

  /** Pure greedy matcher for `A (B₀|B₁|…) D` over one key's (ts, mask)
    * rows sorted ascending — bit 0 = A, bit 1+i = alternative i, top bit
    * (1 + nAlts) = D. SKIP PAST LAST ROW at the instant grain (the
    * [[greedyMatches]] rule); the branch tie rule is the compiled
    * alternation's (earliest instant, then lowest branch index —
    * scanned across ALL rows at the winning instant). Returns
    * (t1, t2, branchIdx, t3) per match. */
  def greedyMatchesAlt(evs: IndexedSeq[(Long, Int)], nAlts: Int,
      withinUs: Long): List[(Long, Long, Int, Long)] = {
    val altMask = ((1 << nAlts) - 1) << 1
    val dBit = 1 << (1 + nAlts)
    val out = List.newBuilder[(Long, Long, Int, Long)]
    var from = 0
    while (from < evs.length) {
      var found = false
      var i = from
      while (!found && i < evs.length) {
        if ((evs(i)._2 & 1) != 0) {
          val t1 = evs(i)._1
          var t2 = Long.MinValue
          var bi = Int.MaxValue
          var t3 = Long.MinValue
          var j = i + 1
          while (t3 == Long.MinValue && j < evs.length &&
              evs(j)._1 <= t1 + withinUs) {
            val (ts, m) = evs(j)
            if (t2 == Long.MinValue && (m & altMask) != 0 && ts > t1) {
              t2 = ts
              bi = Integer.numberOfTrailingZeros((m & altMask) >>> 1)
            } else if (t2 == ts && (m & altMask) != 0) {
              // another row at the winning instant: lowest branch wins
              bi = math.min(bi, Integer.numberOfTrailingZeros((m & altMask) >>> 1))
            } else if (t2 != Long.MinValue && (m & dBit) != 0 && ts > t2)
              t3 = ts
            j += 1
          }
          if (t3 != Long.MinValue) {
            found = true
            out += ((t1, t2, bi, t3))
            from = j
            while (from < evs.length && evs(from)._1 <= t3) from += 1
          }
        }
        i += 1
      }
      if (!found) from = evs.length
    }
    out.result()
  }

  /** Pure greedy matcher for `A B? C` over one key's (ts, mask) rows
    * sorted ascending (bits: A=1, B=2, C=4) — the SKIP PAST LAST ROW form
    * of the compiled `?` stage, sharing its greedy-`B?` law: the
    * with-B completion (earliest b1, then earliest C after b1) is
    * preferred whenever it exists inside the window; otherwise the zero-B
    * completion (earliest C after t1). Returns (t1, b1Opt, t3);
    * consumption skips past t3 at the instant grain. */
  def greedyMatchesOpt(evs: IndexedSeq[(Long, Int)],
      withinUs: Long): List[(Long, Option[Long], Long)] = {
    val out = List.newBuilder[(Long, Option[Long], Long)]
    var from = 0
    while (from < evs.length) {
      var found = false
      var i = from
      while (!found && i < evs.length) {
        if ((evs(i)._2 & 1) != 0) {
          val t1 = evs(i)._1
          var b1 = Long.MinValue
          var t3w = Long.MinValue
          var t3z = Long.MinValue
          var j = i + 1
          while (t3w == Long.MinValue && j < evs.length &&
              evs(j)._1 <= t1 + withinUs) {
            val (ts, m) = evs(j)
            if (b1 == Long.MinValue && (m & 2) != 0 && ts > t1) b1 = ts
            if ((m & 4) != 0) {
              if (t3z == Long.MinValue && ts > t1) t3z = ts
              if (b1 != Long.MinValue && ts > b1) t3w = ts
            }
            j += 1
          }
          if (t3w != Long.MinValue || t3z != Long.MinValue) {
            found = true
            val t3 = if (t3w != Long.MinValue) t3w else t3z
            out += ((t1, if (t3w != Long.MinValue) Some(b1) else None, t3))
            // SKIP PAST LAST ROW resumes just past t3 — NOT past j: in the
            // zero-B fallback the scan ran beyond t3z to the window edge
            // hunting a with-B completion, and `from = j` there would
            // silently consume every anchor in (t3, t1+W] (found by the
            // fence-closed gate-corpus equality: the incremental TTL
            // replay, which re-derives from the kept tail after each
            // final, does NOT make that mistake — the two forms diverged)
            from = i + 1
            while (from < evs.length && evs(from)._1 <= t3) from += 1
          }
        }
        i += 1
      }
      if (!found) from = evs.length
    }
    out.result()
  }

  /** Pure greedy matcher for `A B* C` with run MEASURES over one key's
    * (ts, mask, value) rows sorted ascending — the compiled `*` stage's
    * SKIP PAST LAST ROW form under the same greedy-emptiness law: the
    * non-empty-run completion ([[greedyMatchesPlus]]'s rounds) is
    * preferred; otherwise the zero-B completion matches with an empty
    * run (the fallback's run is PROVABLY empty: a B inside (t1, t3z)
    * would put b1 < t3z and make t3z itself a with-B completion).
    * Returns (t1, bCount, bSum, bLastOpt, t3). */
  def greedyMatchesStar(evs: IndexedSeq[(Long, Int, Double)],
      withinUs: Long): List[(Long, Long, Double, Option[Long], Long)] = {
    val out = List.newBuilder[(Long, Long, Double, Option[Long], Long)]
    var from = 0
    while (from < evs.length) {
      var found = false
      var i = from
      while (!found && i < evs.length) {
        if ((evs(i)._2 & 1) != 0) {
          val t1 = evs(i)._1
          var b1 = Long.MinValue
          var t3w = Long.MinValue
          var t3z = Long.MinValue
          var j = i + 1
          while (t3w == Long.MinValue && j < evs.length &&
              evs(j)._1 <= t1 + withinUs) {
            val (ts, m, _) = evs(j)
            if (b1 == Long.MinValue && (m & 2) != 0 && ts > t1) b1 = ts
            if ((m & 4) != 0) {
              if (t3z == Long.MinValue && ts > t1) t3z = ts
              if (b1 != Long.MinValue && ts > b1) t3w = ts
            }
            j += 1
          }
          if (t3w != Long.MinValue || t3z != Long.MinValue) {
            found = true
            val t3 = if (t3w != Long.MinValue) t3w else t3z
            // run aggregation over the scanned slice (the
            // greedyMatchesPlus bound): members have t1 < ts < t3 ≤ the
            // last scanned row's ts, so nothing past j qualifies
            var bCount = 0L
            var bSum = BigDecimal(0)
            var bLast = Long.MinValue
            var r = i + 1
            while (r < j) {
              val e = evs(r)
              if ((e._2 & 2) != 0 && e._1 > t1 && e._1 < t3) {
                bCount += 1
                bSum += BigDecimal(e._3)
                  .setScale(15, BigDecimal.RoundingMode.HALF_UP)
                bLast = e._1
              }
              r += 1
            }
            out += ((t1, bCount,
              BigDecimal(bSum.toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0,
              if (bCount > 0) Some(bLast) else None, t3))
            // resume just past t3, not past the scanned-ahead j (see
            // greedyMatchesOpt — the zero-B fallback scans beyond t3z)
            from = i + 1
            while (from < evs.length && evs(from)._1 <= t3) from += 1
          }
        }
        i += 1
      }
      if (!found) from = evs.length
    }
    out.result()
  }
}
