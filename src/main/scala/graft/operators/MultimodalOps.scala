package graft.operators

import graft.{GraftTuning, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * as opaque `binary` columns + typed metadata, with decode / feature-extract
  * / frame-sample as partition-local Dataset transforms.
  *
  * The DECODE STEP IS A STUB — this container has no image/audio codecs, so
  * `stubDecode` derives dimensions with a deterministic formula (also
  * expressible in the oracle SQL, which keeps even the stub oracle-checked).
  * Everything around it is the real Spark shape a production decode drops
  * into: binary column + metadata struct schema, `mapPartitions` batching
  * (one codec init per partition, not per row), explode for frame sampling,
  * fixed-width Array[Float] feature output. Swap `stubDecode`'s body for a
  * JNI/codec call and nothing else changes.
  *
  * There is no binary testdata table, so `withBinary` manufactures the
  * binary column from `documents.text` (utf-8 bytes) — the plumbing doesn't
  * care what the bytes are.
  */
object MultimodalOps {

  final case class MediaMeta(mime: String, sizeBytes: Long)
  final case class DecodedMeta(width: Int, height: Int, channels: Int)

  /** documents → (doc_id, content: binary, meta: struct). */
  def withBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(lit("application/octet-stream").as("mime"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("size_bytes"))
        .as("meta"))

  /** STUB decode formula — deterministic from payload size alone so the
    * DuckDB oracle can replicate it. A real decoder reads the header. */
  private[operators] def stubDims(sizeBytes: Long): (Int, Int, Int) = {
    val w = 64 + (sizeBytes % 512).toInt
    val h = 64 + ((sizeBytes * 7) % 512).toInt
    (w, h, 3)
  }

  /** Decode: partition-local batch transform. `mapPartitions` so a real
    * codec initializes once per partition (the batch shape that matters at
    * scale), not once per row. */
  def decode(binaries: DataFrame): DataFrame = {
    val spark = binaries.sparkSession
    val outSchema = StructType(binaries.schema.fields ++ Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    binaries.mapPartitions { rows =>
      // real impl: val codec = Codec.open() — once per partition
      rows.map { r =>
        val content = r.getAs[Array[Byte]]("content")
        val (w, h, c) = stubDims(content.length.toLong)
        Row.fromSeq(r.toSeq ++ Seq(w, h, c))
      }
    }(enc)
  }

  /** Feature extraction: fixed-width Array[Float] per item, deterministic
    * from content bytes (stand-in for an embedding model forward pass).
    * Output shape (id, Array[Float](dim)) matches the `embeddings` table so
    * downstream SimilarityOps compose directly. */
  def extractFeatures(binaries: DataFrame, dim: Int = 16): DataFrame = {
    val spark = binaries.sparkSession
    import spark.implicits._
    binaries.select(col("doc_id"), col("content")).map { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      val feats = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) {
        feats(i % dim) += (bytes(i) & 0xFF) / 255.0f
        i += 1
      }
      (id, feats)
    }.toDF("doc_id", "features")
  }

  /** Frame sampling: split the payload into `every`-byte chunks ("frames")
    * and explode with an index — the video-pipeline shape (sample → decode
    * per frame → feature per frame). */
  def sampleFrames(binaries: DataFrame, every: Int = 64): DataFrame = {
    val spark = binaries.sparkSession
    import spark.implicits._
    binaries.select(col("doc_id"), col("content"))
      .flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        bytes.grouped(every).zipWithIndex.map { case (chunk, idx) =>
          (id, idx, chunk.length, chunk)
        }
      }.toDF("doc_id", "frame_idx", "frame_bytes", "frame")
  }

  /** Resize: scale decoded dimensions to fit a `target`-pixel box
    * preserving aspect ratio (the standard vision-pipeline letterbox
    * step). The pixel-buffer transform is part of the decode stub — the
    * REAL content here is the dimension math and the partition-local
    * transform shape, both of which a codec-backed resize keeps
    * unchanged. Never upscales (scale capped at 1.0). */
  def resize(decoded: DataFrame, target: Int = 224): DataFrame = {
    val scale = least(lit(target.toDouble) /
      greatest(col("width"), col("height")).cast("double"), lit(1.0))
    decoded
      .withColumn("scale", scale)
      .withColumn("out_w", greatest(floor(col("width") * col("scale")), lit(1)).cast("int"))
      .withColumn("out_h", greatest(floor(col("height") * col("scale")), lit(1)).cast("int"))
  }

  // ------------------------------------------------------- driver queries
  /** Oracle-checked: binary size + stub-decoded dims per doc. */
  def mmDecode(s: SparkSession, dir: String): DataFrame =
    decode(withBinary(Tables.load(s, dir, "documents")))
      .select(col("doc_id"), col("meta.size_bytes").as("size_bytes"),
        col("width"), col("height"), col("channels"))
      .orderBy(col("doc_id"))

  val mmDecodeSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
      |  CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
      |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height,
      |  3 AS channels
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Oracle-checked: frame counts per doc from the sampler. */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    sampleFrames(withBinary(
        Tables.load(s, dir, "documents").filter(length(col("text")) > 0))
      )
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_bytes")).as("total_bytes"))
      .orderBy(col("doc_id"))

  val mmFramesSql: String =
    // empty payloads excluded on BOTH sides: the sampler emits zero frames
    // for them while ceil(0/64)=0 would still emit an oracle row
    """SELECT doc_id,
      |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
      |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin

  /** Oracle-checked: letterbox-resize dims per doc. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    resize(decode(withBinary(Tables.load(s, dir, "documents"))))
      .select(col("doc_id"), col("width"), col("height"),
        round(col("scale"), 6).as("scale"), col("out_w"), col("out_h"))
      .orderBy(col("doc_id"))

  val mmResizeSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
      |    CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, width, height,
      |    LEAST(224.0 / CAST(GREATEST(width, height) AS DOUBLE), 1.0) AS scale_raw
      |  FROM d
      |)
      |SELECT doc_id, width, height,
      |  ROUND(scale_raw, 6) AS scale,
      |  CAST(GREATEST(FLOOR(width * scale_raw), 1) AS INT) AS out_w,
      |  CAST(GREATEST(FLOOR(height * scale_raw), 1) AS INT) AS out_h
      |FROM s ORDER BY doc_id""".stripMargin

  /** (doc_id, phash) stripe-signature codes at `width` bits in ONE
    * map-combined doc-keyed aggregation: the per-slot stripe sums become
    * `width` conditional SUM columns, so the old (doc_id, slot) re-grain
    * — a groupBy exchange, then a doc-keyed WindowExec (second exchange +
    * sort) for the total, then a third groupBy — collapses to a single
    * exchange with partial aggregation (r19: 2 Exchange + window sort →
    * 1 Exchange). Integer-exact and row-identical to the window form: an
    * absent slot (payload shorter than the stripe period) yields a NULL
    * conditional sum whose bit test is NULL → bit not set, exactly as the
    * missing (doc_id, slot) row before; empty payloads produce no row on
    * either form. Slot 63 wraps `1L << 63` to Long.MinValue by design
    * (see [[mmPhash64]]'s scaladoc). The scan is fanned
    * ([[graft.Tables.loadFan]]) — the per-character explode is the
    * heaviest map in the mm family. */
  private def stripeCodes(s: SparkSession, dir: String, width: Int): DataFrame = {
    val chars = Tables.loadFan(s, dir, "documents", "doc_id")
      .select(col("doc_id"),
        posexplode(split(col("text"), "")).as(Seq("pos", "ch")))
      .filter(col("ch") =!= "")
      .select(col("doc_id"), (col("pos") % width).as("slot"),
        ascii(col("ch")).cast("long").as("v"))
    val slotSums = (0 until width).map(j =>
      sum(when(col("slot") === j, col("v"))).as(s"__ss$j"))
    val bits = (0 until width).map(j =>
      when(col(s"__ss$j") * width > col("__tot"), lit(1L << j))
        .otherwise(lit(0L)))
    chars.groupBy(col("doc_id"))
      .agg(slotSums.head, slotSums.tail :+ sum(col("v")).as("__tot"): _*)
      .select(col("doc_id"), bits.reduce(_ + _).as("phash"))
  }

  // ---------------------------------------- perceptual-hash near-dup
  /** Perceptual-hash near-duplicate detection for media payloads — the
    * image-dedup stage of a multimodal pipeline (pHash/aHash family):
    * derive a compact signature from LOW-FREQUENCY content statistics,
    * then pair payloads at small Hamming distance. With no codecs in this
    * container the "low-frequency statistic" is the 16-stripe byte-sum
    * profile of the payload (stripe j = bytes at positions ≡ j mod 16;
    * bit j set iff stripe j exceeds the payload mean) — integer-exact end
    * to end, so the oracle replays it with zero float risk. A production
    * build swaps stripe sums for 8×8 DCT coefficients of decoded pixels;
    * the Spark shape (map-side signature, block-keyed candidate join,
    * pigeonhole completeness) is the real thing. Emits
    * (doc_id, phash, n_near) where n_near counts partners at Hamming ≤ 1.
    *
    * Partner counting runs at the CODE level, never the doc level (the
    * family discipline [[mmDedupGroups]] already uses): a doc with code c
    * has exactly (cnt(c) − 1) + Σ_{j<16} cnt(c ^ 2^j) Hamming-≤1
    * partners, so the whole computation is a ≤2¹⁶-row code-count
    * aggregation, a 16-way probe self-join ON THAT CODE TABLE, and one
    * broadcast join back to docs. The r13 shape — two 8-bit pigeonhole
    * blocks and a doc-grain candidate self-join — was COMPLETE but
    * carried Σ_blk n_blk² intermediate rows: at perturb-100× (500k docs
    * into 2×256 buckets) that is ~2e9 candidate rows before the Hamming
    * filter, and the r14 sweep OOMed the JVM on it (exit 52). The code
    * contraction computes the identical counts with intermediate state
    * bounded by the code universe at ANY corpus size: p30 38.2 → 9.6 s,
    * p100 OOM → 12.5 s (BASELINE.md r14).
    *
    * At widths where the code universe itself outgrows memory (a 64-bit
    * production pHash), this contraction stops applying and the blocked
    * pigeonhole join ([[graft.operators.DedupOps.ddSimHashPairs]], 64-bit
    * signatures, Hamming banding) is the shape to reach for — the 16-bit
    * stub keeps the code-universe discipline honest. */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    val codes = stripeCodes(s, dir, 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnts = codes.groupBy(col("phash")).agg(count(lit(1)).as("cnt"))
    val flips = cnts
      .select(col("phash"), explode(array((0 until 16).map(b =>
        col("phash").bitwiseXOR(lit(1L << b))): _*)).as("nb"))
      .join(cnts.select(col("phash").as("nb"), col("cnt").as("nbcnt")),
        Seq("nb"))
      .groupBy(col("phash")).agg(sum(col("nbcnt")).as("flip_cnt"))
    val codeNear = cnts.join(flips, Seq("phash"), "left")
      .select(col("phash"),
        (col("cnt") - 1 + coalesce(col("flip_cnt"), lit(0L))).as("n_near"))
    val out = codes.join(broadcast(codeNear), Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_near"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    codes.unpersist()
    out
  }

  val mmPhashSql: String =
    """WITH chars AS (
      |  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS pos, unnest(cs) AS ch
      |  FROM (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs FROM documents)
      |), ss AS (
      |  SELECT doc_id, pos % 16 AS slot,
      |    CAST(SUM(ascii(ch)) AS BIGINT) AS ss
      |  FROM chars GROUP BY 1, 2
      |), tt AS (
      |  SELECT doc_id, slot, ss, SUM(ss) OVER (PARTITION BY doc_id) AS tot
      |  FROM ss
      |), codes AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN ss * 16 > tot
      |      THEN CAST(POWER(2, slot) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
      |  FROM tt GROUP BY doc_id
      |), cnts AS (
      |  SELECT phash, CAST(COUNT(*) AS BIGINT) AS cnt FROM codes GROUP BY 1
      |), flips AS (
      |  SELECT p.phash, CAST(SUM(n.cnt) AS BIGINT) AS flip_cnt
      |  FROM (SELECT phash, xor(phash, CAST(POWER(2, j) AS BIGINT)) AS nb
      |        FROM cnts CROSS JOIN generate_series(0, 15) AS t(j)) p
      |  JOIN cnts n ON n.phash = p.nb
      |  GROUP BY 1
      |)
      |SELECT co.doc_id, co.phash,
      |  CAST(cn.cnt - 1 + COALESCE(f.flip_cnt, 0) AS BIGINT) AS n_near
      |FROM codes co
      |JOIN cnts cn ON co.phash = cn.phash
      |LEFT JOIN flips f ON co.phash = f.phash
      |ORDER BY co.doc_id""".stripMargin

  // ------------------------------------------ production-width 64-bit pHash
  /** Production-width (64-bit) media near-dup: the shape [[mmPhash]]'s
    * scaladoc names for widths where single-bit-flip probing stops being
    * the right tool. A real pHash is 64 bits and "near-dup" means Hamming
    * ≤ ~6, so the probe explode (Σ_{d≤6} C(64,d) ≈ 83M probes per code)
    * is out — instead the HmSearch blocking [[graft.operators.DedupOps
    * .ddSimHashPairs]] proved at 64-bit: split the signature into 8 bytes,
    * key on every PAIR of blocks (28 combos of 16 bits) — pigeonhole: ≤ 6
    * differing bits touch ≤ 6 blocks, so ≥ 2 blocks agree and that combo
    * is one of the 28 keys. Exact recall, `bit_count(xor)` as the exact
    * verify.
    *
    * Scale: the banding join runs at CODE grain, never doc grain — the
    * same contraction that fixed mm_phash's r14 OOM. Identical docs (and
    * clone floods) collapse into one code row with a count BEFORE any
    * join, so bucket size is bounded by distinct-code diversity, not
    * corpus size, and the 16-bit combo keys spread distinct codes over
    * 65,536 buckets per combo (E[bucket] ≈ n_codes/2¹⁶). Partner counts
    * come back count-weighted: n_near(doc with code c) = (cnt(c) − 1) +
    * Σ_{c' : 1 ≤ ham(c,c') ≤ maxHam} cnt(c'). The code→doc join
    * broadcasts only while the code table is under [[GraftTuning
    * .MmDriverCodeCap]] — beyond it the join shuffles (a >cap code table
    * is no longer a dimension). Emits (doc_id, phash, n_near).
    *
    * The 64-slot stripe profile is the same integer-exact stub statistic
    * as [[mmPhash]]'s (production swaps it for 8×8 DCT bits; the Spark
    * shape is the real thing). Slot 63 is the long's SIGN bit —
    * `shiftleft(1L, 63)` wraps to Long.MinValue and the bit-pattern sum
    * stays exact (each bit set once, so the signed total IS the pattern);
    * the oracle spells that one slot as a literal because DuckDB's `<<`
    * range-checks where Spark's wraps. */
  def mmPhash64(s: SparkSession, dir: String, maxHam: Int = 6,
      driverCodeCap: Long = GraftTuning.MmDriverCodeCap): DataFrame = {
    require(maxHam <= 6, "28-combo blocking guarantees recall only to distance 6")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val codes = stripeCodes(s, dir, 64).persist(lvl)
    val cnts = codes.groupBy(col("phash")).agg(count(lit(1)).as("cnt"))
      .persist(lvl)
    val nCodes = cnts.count() // also materializes the persist
    def block(k: Int) =
      shiftrightunsigned(col("phash"), 8 * k).bitwiseAND(lit(0xFFL))
    val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    val comboStructs = combos.zipWithIndex.map { case ((i, j), c) =>
      struct(lit(c).as("combo"), (block(i) * 256 + block(j)).as("ckey"))
    }
    val keyed = cnts
      .select(col("phash"), explode(array(comboStructs: _*)).as("ck"))
      .select(col("phash"), col("ck.combo").as("combo"), col("ck.ckey").as("ckey"))
    // verify BEFORE distinct: bit_count is a codegen'd scalar, and a pair
    // can surface from up to 28 combos — filtering first shrinks the
    // distinct's shuffle to true near-dup code pairs
    val codePairs = keyed.as("x").join(keyed.as("y"),
        col("x.combo") === col("y.combo") && col("x.ckey") === col("y.ckey") &&
          col("x.phash") < col("y.phash"))
      .filter(bit_count(col("x.phash").bitwiseXOR(col("y.phash"))) <= maxHam)
      .select(col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
    val near = codePairs.select(col("pa").as("phash"), col("pb").as("nb"))
      .union(codePairs.select(col("pb").as("phash"), col("pa").as("nb")))
      .join(cnts.select(col("phash").as("nb"), col("cnt").as("nbcnt")), Seq("nb"))
      .groupBy(col("phash")).agg(sum(col("nbcnt")).as("nearcnt"))
    val codeNear = cnts.join(near, Seq("phash"), "left")
      .select(col("phash"),
        (col("cnt") - 1 + coalesce(col("nearcnt"), lit(0L))).as("n_near"))
    val maybeB = if (nCodes <= driverCodeCap) broadcast(codeNear) else codeNear
    val out = codes.join(maybeB, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_near"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    cnts.unpersist()
    codes.unpersist()
    out
  }

  val mmPhash64Sql: String =
    """WITH chars AS (
      |  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS pos, unnest(cs) AS ch
      |  FROM (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs FROM documents)
      |), ss AS (
      |  SELECT doc_id, pos % 64 AS slot,
      |    CAST(SUM(ascii(ch)) AS BIGINT) AS ss
      |  FROM chars GROUP BY 1, 2
      |), tt AS (
      |  SELECT doc_id, slot, ss, SUM(ss) OVER (PARTITION BY doc_id) AS tot
      |  FROM ss
      |), codes AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN ss * 64 > tot THEN
      |      CASE WHEN slot = 63 THEN -9223372036854775808
      |           ELSE CAST(1 AS BIGINT) << slot END
      |      ELSE 0 END) AS BIGINT) AS phash
      |  FROM tt GROUP BY doc_id
      |), cnts AS (
      |  SELECT phash, CAST(COUNT(*) AS BIGINT) AS cnt FROM codes GROUP BY 1
      |), combos AS (
      |  SELECT a.i, b.j FROM generate_series(0, 7) a(i)
      |  JOIN generate_series(0, 7) b(j) ON a.i < b.j
      |), keyed AS (
      |  SELECT phash, i, j,
      |    ((phash >> (8 * i)) & 255) * 256 + ((phash >> (8 * j)) & 255) AS ckey
      |  FROM cnts CROSS JOIN combos
      |), pairs AS (
      |  SELECT DISTINCT x.phash AS pa, y.phash AS pb
      |  FROM keyed x JOIN keyed y
      |    ON x.i = y.i AND x.j = y.j AND x.ckey = y.ckey AND x.phash < y.phash
      |  WHERE bit_count(xor(x.phash, y.phash)) <= 6
      |), near AS (
      |  SELECT d.phash, CAST(SUM(c.cnt) AS BIGINT) AS nearcnt
      |  FROM (SELECT pa AS phash, pb AS nb FROM pairs
      |        UNION ALL SELECT pb AS phash, pa AS nb FROM pairs) d
      |  JOIN cnts c ON c.phash = d.nb
      |  GROUP BY 1
      |)
      |SELECT co.doc_id, co.phash,
      |  CAST(cn.cnt - 1 + COALESCE(ne.nearcnt, 0) AS BIGINT) AS n_near
      |FROM codes co
      |JOIN cnts cn ON co.phash = cn.phash
      |LEFT JOIN near ne ON co.phash = ne.phash
      |ORDER BY co.doc_id""".stripMargin

  // --------------------------------------------- media near-dup groups
  /** Media near-dup GROUPS: connected components over the [[mmPhash]]
    * Hamming≤1 graph with min-id canonical election — the media-side
    * twin of [[graft.operators.DedupOps.ddDedupGroups]], turning the
    * per-item partner counts into the keep/drop decision a curation pass
    * executes. Every item emits (singletons are their own canonical).
    *
    * Scale: the doc-level Ham≤1 graph is a CONTRACTION of the CODE-level
    * graph — two items connect iff their 16-bit phashes do, and the code
    * universe is ≤2¹⁶ BY CONSTRUCTION, i.e. bounded model state at any
    * corpus size (the centroid/codebook discipline). So components are
    * solved once driver-side: union-find over the ≤65,536 PRESENT codes
    * with their ≤16 single-bit probes (≤2²⁰ array ops, no iterative
    * Spark loop, no pair join at all — this replaced the r10 distributed
    * label propagation, whose per-round job overhead dominated a
    * 4,415-node chain graph: 4.75 → ~2 s at sf0.1), the code→component
    * map broadcasts back, and the min-doc_id rep election is one
    * component-keyed aggregation over a |codes|-bounded frame. The
    * corpus-sized data path is exactly two broadcast joins + one
    * map-combined groupBy.
    *
    * WIDTH SWITCH: at `width` > ~20 bits the code universe can exceed any
    * driver bound, so the CC step is chosen by the MEASURED distinct-code
    * count — ≤ `driverCodeCap` keeps the union-find above; beyond it the
    * code graph (still code-universe-sized, never corpus-sized: one
    * width-way probe explode + one self-join on the probe) goes through
    * [[graft.operators.DedupOps.connectedComponents]]' distributed
    * pointer-jumping loop, and the code→component/rep joins drop their
    * broadcast hints (a >cap code table must shuffle). Both paths are the
    * same Ham≤1 relation; a spec replays the forced-distributed path
    * against the driver default and asserts row equality, and the r14
    * rung MEASURED it (Probe `mm`, width 32, perturb corpora):
    * forced-distributed 7.1 / 18.1 / 17.2 s at p10/p30/p100 (50k/150k/
    * 500k docs) vs driver-auto 6.4 / 7.5 / 10.6 s — the distributed
    * twin's wall is FLAT across the decade because the pointer-jumping
    * loop runs on the code graph, which is code-universe-bounded, never
    * corpus-sized; identical output row counts at every rung. */
  def mmDedupGroups(s: SparkSession, dir: String): DataFrame =
    mmDedupGroupsWidth(s, dir)

  /** [[mmDedupGroups]]' width-parameterized core — `width` slots in the
    * positional phash (registry default 16, byte-identical to the oracle),
    * `driverCodeCap` the distinct-code count above which CC runs
    * distributed. `1L << slot` via shiftleft ≡ the oracle's POWER(2, slot)
    * for every slot < 63 (the default range is ≤ 15). At width = 64 the
    * slot-63 bit is the long's SIGN bit, so the numeric-equivalence claim
    * above does not extend there — but the phash is consumed only as a
    * BIT PATTERN (the sum-of-distinct-shiftlefts sets each bit exactly
    * once, XOR probes and equality joins are sign-agnostic, and rep
    * election keys on min(doc_id), never on phash order), so width 64
    * stays correct; it just isn't oracle-replayable via POWER(2, slot). */
  private[graft] def mmDedupGroupsWidth(s: SparkSession, dir: String,
      width: Int = 16, driverCodeCap: Long = GraftTuning.MmDriverCodeCap): DataFrame = {
    require(width >= 1 && width <= 64, s"phash width must be in [1,64]: $width")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val codes = stripeCodes(s, dir, width).persist(lvl)
    val presentDf = codes.select(col("phash")).distinct().persist(lvl)
    val nCodes = presentDf.count()
    val driverPath = nCodes <= driverCodeCap
    // union-find over the PRESENT codes: equal codes are one node; a
    // single-bit flip that lands on another present code is an edge —
    // exactly the Ham≤1 relation the pigeonhole pair join materialized
    val compDf: DataFrame =
      if (driverPath) {
        val present = presentDf.collect().map(_.getLong(0))
        val isPresent = present.toSet
        val root = DedupOps.unionFindMin(for {
          c <- present.toSeq; b <- 0 until width
          n = c ^ (1L << b) if isPresent(n)
        } yield (c, n))
        val compRows = present.map(c => (c, root.getOrElse(c, c))).toSeq
        s.createDataFrame(compRows).toDF("phash", "comp")
      } else {
        // distributed twin: same code-level graph, solved by the dedup
        // family's pointer-jumping CC. Symmetric by construction — if
        // c ^ bit = c' is present then c' ^ bit = c probes back.
        val probes = presentDf.select(col("phash").as("src"),
          explode(array((0 until width).map(b =>
            col("phash").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
        // materialize: the CC loop re-reads its edge frame every round —
        // without this each round re-runs the width-way explode + join
        val edges = probes
          .join(presentDf.select(col("phash").as("dst")),
            col("probe") === col("dst"))
          .select(col("src"), col("dst"))
          .localCheckpoint()
        // CC emits labels only for codes that appear in an edge; isolated
        // codes are their own component
        presentDf
          .join(DedupOps.connectedComponents(edges)
            .withColumnRenamed("doc_id", "phash"), Seq("phash"), "left")
          .select(col("phash"), coalesce(col("label"), col("phash")).as("comp"))
      }
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (driverPath) broadcast(df) else df
    val labeled = codes.join(maybeBroadcast(compDf), Seq("phash"))
    val reps = labeled.groupBy(col("comp"))
      .agg(min(col("doc_id")).as("group_rep"))
    val out = labeled.join(maybeBroadcast(reps), Seq("comp"))
      .select(col("doc_id"), col("phash"), col("group_rep"))
      .withColumn("is_canonical", col("doc_id") === col("group_rep"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    presentDf.unpersist()
    codes.unpersist()
    out
  }

  val mmDedupGroupsSql: String =
    """WITH RECURSIVE chars AS (
      |  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS pos, unnest(cs) AS ch
      |  FROM (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs FROM documents)
      |), ss AS (
      |  SELECT doc_id, pos % 16 AS slot,
      |    CAST(SUM(ascii(ch)) AS BIGINT) AS ss
      |  FROM chars GROUP BY 1, 2
      |), tt AS (
      |  SELECT doc_id, slot, ss, SUM(ss) OVER (PARTITION BY doc_id) AS tot
      |  FROM ss
      |), codes AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN ss * 16 > tot
      |      THEN CAST(POWER(2, slot) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
      |  FROM tt GROUP BY doc_id
      |), blocked AS (
      |  SELECT doc_id, phash, phash & 255 AS b0, (phash >> 8) & 255 AS b1
      |  FROM codes
      |), sides AS (
      |  SELECT b0 AS blk, 0 AS t, doc_id, phash FROM blocked
      |  UNION ALL
      |  SELECT b1 AS blk, 1 AS t, doc_id, phash FROM blocked
      |), edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM sides a JOIN sides b ON a.blk = b.blk AND a.t = b.t
      |  WHERE a.doc_id <> b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 1
      |), reach AS (
      |  SELECT doc_id AS node, doc_id AS root FROM codes
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
      |)
      |SELECT c.doc_id, c.phash, MIN(root) AS group_rep,
      |  (c.doc_id = MIN(root)) AS is_canonical
      |FROM reach JOIN codes c ON node = c.doc_id
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------------------------------------------- audio window segmentation
  /** Fixed-size overlapping window grid over the opaque byte stream — the
    * audio-segmentation plumbing step (split a waveform into analysis
    * windows before feature extraction): windows of `win` bytes at stride
    * `stride`, each fingerprinted, plus the tail window when the stream
    * doesn't divide evenly. A codec-aware splitter (sample-accurate
    * boundaries) drops into the same grid; the bytes here are the
    * [[withBinary]] stand-in payload. Emits
    * (doc_id, win_id, off, win_len, win_fp).
    *
    * Scale: pure map-side array math + one explode — no shuffle at all;
    * output is ~len/stride rows per item. */
  def mmAudioWindows(s: SparkSession, dir: String, win: Int = 256,
      stride: Int = 192): DataFrame = {
    val d = withBinary(Tables.load(s, dir, "documents"))
    val len = octet_length(col("content"))
    // number of stride-aligned starts: full windows plus one tail window
    // when bytes remain past the last full window (or the item is shorter
    // than one window but non-empty)
    val nFull = when(len >= win,
      floor((len - win).cast("double") / stride).cast("long") + 1)
      .otherwise(lit(0L))
    val hasTail = when(len === 0, lit(0L))
      .otherwise(when(nFull === 0 || (len - ((nFull - 1) * stride + win)) > 0,
        lit(1L)).otherwise(lit(0L)))
    d.select(col("doc_id"), col("content"), len.as("len"),
        nFull.as("n_full"), hasTail.as("has_tail"))
      // guard BEFORE the sequence: sequence(0, -1) would descend, not empty
      .filter(col("n_full") + col("has_tail") > 0)
      .select(col("doc_id"), col("content"), col("len"),
        posexplode(sequence(lit(0L), col("n_full") + col("has_tail") - 1)))
      .select(col("doc_id"), col("col").as("win_id"),
        (col("col") * stride + 1).as("off"),
        least(lit(win), col("len") - col("col") * stride).as("win_len"),
        col("content"), col("len"))
      .filter(col("win_len") > 0)
      .select(col("doc_id"), col("win_id").cast("long").as("win_id"),
        col("off").cast("long").as("off"),
        col("win_len").cast("long").as("win_len"),
        md5(substring(col("content"), col("off").cast("int"),
          col("win_len").cast("int"))).as("win_fp"))
      .orderBy(col("doc_id"), col("win_id"))
  }

  // oracle works on the TEXT payload directly: the corpus is ASCII (the
  // mmPhash ascii() precedent), so byte offsets == char offsets and
  // md5(text slice) == md5(byte slice)
  val mmAudioWindowsSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text AS content,
       |    CAST(length(text) AS BIGINT) AS len
       |  FROM documents
       |), grid AS (
       |  SELECT doc_id, content, len,
       |    CASE WHEN len >= 256 THEN (len - 256) // 192 + 1 ELSE 0 END AS n_full
       |  FROM b
       |), g2 AS (
       |  SELECT doc_id, content, len, n_full,
       |    CASE WHEN len = 0 THEN 0
       |      WHEN n_full = 0 OR len - ((n_full - 1) * 192 + 256) > 0 THEN 1
       |      ELSE 0 END AS has_tail
       |  FROM grid
       |), wins AS (
       |  SELECT doc_id, CAST(unnest(range(0, n_full + has_tail)) AS BIGINT)
       |      AS win_id, content, len
       |  FROM g2 WHERE n_full + has_tail > 0
       |)
       |SELECT doc_id, win_id,
       |  CAST(win_id * 192 + 1 AS BIGINT) AS off,
       |  CAST(LEAST(256, len - win_id * 192) AS BIGINT) AS win_len,
       |  md5(substring(content, CAST(win_id * 192 + 1 AS INT),
       |    CAST(LEAST(256, len - win_id * 192) AS INT))) AS win_fp
       |FROM wins
       |WHERE LEAST(256, len - win_id * 192) > 0
       |ORDER BY doc_id, win_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash" -> (mmPhash _),
    "mm_phash64" -> ((s: SparkSession, d: String) => mmPhash64(s, d)),
    "mm_decode" -> (mmDecode _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "mm_dedup_groups" -> (mmDedupGroups _),
    "mm_audio_windows" -> ((s: SparkSession, d: String) => mmAudioWindows(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "mm_phash" -> mmPhashSql,
    "mm_phash64" -> mmPhash64Sql,
    "mm_decode" -> mmDecodeSql,
    "mm_frames" -> mmFramesSql,
    "mm_resize" -> mmResizeSql,
    "mm_dedup_groups" -> mmDedupGroupsSql,
    "mm_audio_windows" -> mmAudioWindowsSql,
  )
}
