package graft

/** The measured tuning constants, consolidated (one home, one citation
  * each) so future rounds adjust a dial in exactly one place and the
  * operator defaults, oracle SQL, and probe tooling can never drift
  * apart. Every value was SET BY A MEASUREMENT recorded in BASELINE.md —
  * none is a guess — and each entry cites the rung that set it. Operators
  * still take these as default parameters, so probe tooling
  * (Probe/ScaleSmoke) can override per-run without recompiling.
  */
object GraftTuning {

  /** Document-frequency cap for discriminative shingles: a shingle shared
    * by more than this many docs carries no dedup signal and is dropped
    * BEFORE the pair join, bounding per-shingle bucket size (total pair
    * rows ≤ cap · |shingles|, linear in data). Set by the r5 clone rungs
    * (BASELINE.md: dd_ngram_jaccard flat at 30× because the cap prunes
    * cross-copy shingles) and stressed by the r13 perturb decades
    * (p100 exponents 0.61–0.95 across the lexical family). */
  val ShingleDfCap: Int = 50

  /** Probe-adjusted per-vector candidate budget for the SRP ANN bits rule
    * ([[graft.operators.DedupOps.annBitsFor]]): bits grow until
    * probes(bits)·n/2^bits ≤ this, bounding total candidate rows at
    * ≤ budget·tables·n. Set by the r12 perturb rungs (the density-only
    * rule OOMed at ~6.5e9 candidate rows by perturb-30×); the r13
    * budget-256 trade was measured and REJECTED (5.5% true-pair recall
    * loss, no wall win — BASELINE.md). */
  val AnnCandidateBudget: Double = 512.0

  /** Broadcast budget (in total Doubles = rows × dim) under which the ANN
    * exact-verify joins the candidate frame against an EXPLICITLY
    * broadcast vector table — both joins become map-side hash lookups and
    * the candidate rows never shuffle with arrays attached. 16M doubles
    * ≈ 128 MB serialized: a routine dimension-table broadcast on any
    * production cluster, and it covers the p100 rung (200k × 64 = 12.8M).
    * Set by the r14 crossover probe: at 118M candidates / 60k vectors the
    * broadcast join verifies in 6.3 s vs 122.9 s for the shuffled join
    * and 22.7 s for the blocked group verify (BASELINE.md r14). */
  val BroadcastVerifyMaxDoubles: Long = 16L * 1024 * 1024

  /** Candidate-count crossover between the two exact-verify strategies in
    * the ANN pipeline: at or below this the two-join form wins (fully
    * codegen'd, no corpus replication); above it the blocked group verify
    * retires the join form's array-laden shuffle (the measured 114 s
    * cliff at 118M candidates, r12). Position from the r13 fit — join
    * ≈ 1 s per 1M candidate rows vs the blocked path's ~4 s flat —
    * re-measured with both curves bracketing the crossover in r14
    * (BASELINE.md "verify crossover"). */
  val VerifyJoinMaxCandidates: Long = 4000000L

  /** Deterministic md5-bucket sample cap for detector DIAGNOSTICS whose
    * semantic side is an exact n²/2 scan (dd_signal_agreement,
    * dd_simhash_pairs_check): caps the scan at ~cap²/2 ≈ 1.1M dots
    * regardless of corpus size. Set by the r11 rungs (unsampled form hit
    * 17.2 s at 30×, the worst curve then in the repo; sampled: 9.2 s at
    * 100×). The sampler is oracle-portable (hex-hash idiom) so the
    * DuckDB twin applies the identical filter at any size. */
  val AgreementSampleCap: Int = 1500

  /** Balanced sub-block cap for per-label all-pairs geometry
    * (emb_knn_mutual, emb_intrinsic_dim): each label splits into
    * ⌈n_label/cap⌉ rank-balanced blocks, bounding the pair join at
    * ≤ cap·n rows total. Set by the r11 emb_knn_mutual rungs (bounded
    * 30×: 2.7 s vs 92 s exact) and closed the last unbounded Σ n_label²
    * join in r13 (emb_intrinsic_dim, 4e9 pair rows at perturb-100×).
    * Mirrored verbatim in the DuckDB oracle's blk CTE. */
  val KnnBlockCap: Int = 256

  /** Residual-label-graph edge count under which
    * [[graft.operators.DedupOps.connectedComponents]] finishes with a
    * driver union-find instead of more distributed rounds (r19). After
    * each min-label propagation the loop probes the CONTRACTED graph —
    * one row per pair of adjacent label basins, model-sized state like
    * the phash code table below, NOT nodes or edges. Set by the r19
    * dd_semdedup profile: the cos≥0.4 pair graph at sf0.1 spent 10 full
    * rounds of edge-table joins (≈13 fixed-overhead jobs each) merging
    * one basin layer per round, while its residual graph was a few
    * hundred rows from round 0 — 10 rounds → 1 + driver finish. Above
    * the cap the pointer-jumping rounds continue unchanged and strictly
    * shrink the residual, so the finish engages as soon as it fits;
    * 2¹⁷ rows ≈ 2 MB driver memory, the MmDriverCodeCap envelope. */
  val CcDriverEdgeCap: Int = 1 << 17

  /** Distinct-phash-code count above which media near-dup CC leaves the
    * driver union-find for the distributed pointer-jumping loop
    * (mm_dedup_groups). The driver path solves the ≤2^width code universe
    * in ≤2²⁰ array ops (replaced the r10 distributed loop: 10.1 → 1.7 s
    * at 10×); the cap keeps the collected code table well under driver
    * memory while the distributed twin (spec-equal, measured in r14 —
    * BASELINE.md mm_dedup_groups forced-distributed rung) takes over
    * beyond it. */
  val MmDriverCodeCap: Long = 1L << 17
}
