package graft.sources

import graft.engine.TableSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one custom source (SURVEY.md §7.1 item 4): Flink `datagen` connector
  * semantics on Spark primitives.
  *
  *  - bounded (`number-of-rows`): `spark.range(n)` + column expressions —
  *    pure batch, scales linearly (range splits across partitions).
  *  - unbounded (`rows-per-second`): [[PacedRate]] + the same expressions
  *    over its `value`. It yields Spark's `rate` rows but releases each as
  *    soon as its timestamp passes, not a whole second at a time, so a
  *    query's first micro-batch holds rows and its first results come one
  *    trigger after it starts (the `rate` source's first batch is empty).
  *
  * Field options honored (examples/01…flinknb:12, 02…flinknb:12,83):
  * `fields.<f>.min/.max`, `fields.<f>.length`, `fields.<f>.kind='sequence'`
  * with `.start/.end`, nested `fields.<row>.<sub>.<opt>`.
  *
  * Generation is DETERMINISTIC given the row id (xxhash64-derived), unlike
  * Flink's RNG — same capability envelope, but replayable: at scale a task
  * retry regenerates identical data, which keeps exactly-once sinks honest.
  */
object Datagen {

  def isDatagen(spec: TableSpec): Boolean = spec.connector == "datagen"

  def bounded(spark: SparkSession, spec: TableSpec): DataFrame = {
    val n = spec.options.getOrElse("number-of-rows", "100").toLong
    val base = spark.range(0, n).toDF() // column `id`
    project(base, spec)
  }

  /** Streaming variant; [[PacedRate]] provides (timestamp, value). */
  def unbounded(spark: SparkSession, spec: TableSpec): DataFrame = {
    val rps = spec.options.getOrElse("rows-per-second", "1").toInt
    val base = spark.readStream.format(classOf[PacedRate].getName)
      .option("rowsPerSecond", rps).load()
      .withColumnRenamed("value", "id")
    project(base, spec, rateTs = Some(col("timestamp")))
  }

  private def project(base: DataFrame, spec: TableSpec,
      rateTs: Option[Column] = None): DataFrame = {
    val cols = spec.schema.fields.map { f =>
      gen(col("id"), f.name, f.dataType, spec.options, s"fields.${f.name}", rateTs)
        .as(f.name)
    }
    base.select(cols.toIndexedSeq: _*)
  }

  /** Uniform double in [0,1) from (id, salt) — deterministic. */
  private def unit(id: Column, salt: String): Column =
    (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast(DoubleType)) / 1000000.0

  private def gen(id: Column, name: String, dt: DataType,
      opts: Map[String, String], prefix: String,
      rateTs: Option[Column]): Column = {
    def opt(k: String) = opts.get(s"$prefix.$k")
    val kind = opt("kind").getOrElse("random")
    dt match {
      case _ if kind == "sequence" =>
        val start = opt("start").map(_.toLong).getOrElse(1L)
        (id + start).cast(dt)
      case IntegerType | LongType | ShortType | ByteType =>
        val min = opt("min").map(_.toLong).getOrElse(0L)
        val max = opt("max").map(_.toLong).getOrElse(min + 99L)
        (pmod(xxhash64(id, lit(name)), lit(max - min + 1)) + min).cast(dt)
      case DoubleType | FloatType =>
        val min = opt("min").map(_.toDouble).getOrElse(0.0)
        val max = opt("max").map(_.toDouble).getOrElse(min + 1.0)
        (lit(min) + unit(id, name) * (max - min)).cast(dt)
      case d: DecimalType =>
        val min = opt("min").map(_.toDouble).getOrElse(0.0)
        val max = opt("max").map(_.toDouble).getOrElse(min + 1.0)
        (lit(min) + unit(id, name) * (max - min)).cast(d)
      case StringType =>
        val len = opt("length").map(_.toInt).getOrElse(10)
        // deterministic alphanumeric of exactly `len` chars — base64's
        // '+','/','=' are mapped into the alphanumeric set (Flink's datagen
        // emits [a-zA-Z0-9] only)
        substring(repeat(translate(
          base64(unhex(md5(concat(id.cast(StringType), lit(name))))),
          "+/=", "Xq7"), len / 20 + 1), 1, len)
      case BooleanType => (pmod(xxhash64(id, lit(name)), lit(2)) === 0)
      case TimestampType | TimestampNTZType =>
        rateTs.map(_.cast(dt)).getOrElse(now().cast(dt))
      case DateType => current_date()
      case st: StructType =>
        struct(st.fields.map(f =>
          gen(id, s"$name.${f.name}", f.dataType, opts, s"$prefix.${f.name}", rateTs)
            .as(f.name)).toIndexedSeq: _*)
      case ArrayType(et, _) =>
        val n = opt("length").map(_.toInt).getOrElse(3)
        array((0 until n).map(i =>
          gen(id * 31 + i, s"$name[$i]", et, opts, prefix, rateTs)): _*)
      case MapType(kt, vt, _) =>
        // `fields.<f>.length` entries (Flink's collection-size option).
        // map() THROWS on duplicate keys under the default dedup policy, so
        // keys must be distinct by construction: integral keys step from a
        // per-row random offset wrapping inside [min,max] (length clamps to
        // the domain size); string keys salt the generator per index; any
        // other key type can't guarantee distinctness generically → 1 entry.
        val n = math.max(1, opt("length").map(_.toInt).getOrElse(3))
        kt match {
          case IntegerType | LongType | ShortType | ByteType =>
            val min = opt("min").map(_.toLong).getOrElse(0L)
            val max = opt("max").map(_.toLong).getOrElse(min + 99L)
            val range = max - min + 1
            val m = math.min(n.toLong, range).toInt
            val base = pmod(xxhash64(id, lit(s"$name.k")), lit(range))
            map((0 until m).flatMap { i =>
              Seq((pmod(base + i, lit(range)) + min).cast(kt),
                gen(id * 31 + i, s"$name.v[$i]", vt, opts, prefix, rateTs))
            }: _*)
          case StringType =>
            // a fixed-width zero-padded entry index OVERWRITES the key's
            // tail: distinct by construction (per-index salts alone make
            // duplicates merely improbable, and with short `length` values
            // a corpus of rows would hit map()'s duplicate-key error with
            // certainty), alphanumeric-only, declared length preserved.
            // Entry count clamps to what `width` digits can index.
            val len = math.max(1, opt("length").map(_.toInt).getOrElse(10))
            val width = math.min((n - 1).toString.length, len)
            val m = math.min(n.toLong, math.pow(10, width).toLong).toInt
            val base = substring(
              gen(id, s"$name.k", kt, opts, prefix, rateTs), 1, len - width)
            map((0 until m).flatMap { i =>
              val idx = ("0" * width + i.toString).takeRight(width)
              Seq(concat(base, lit(idx)),
                gen(id * 31 + i, s"$name.v[$i]", vt, opts, prefix, rateTs))
            }: _*)
          case _ =>
            map(gen(id, s"$name.k", kt, opts, prefix, rateTs),
              gen(id, s"$name.v", vt, opts, prefix, rateTs))
        }
      case BinaryType =>
        unhex(md5(concat(id.cast(StringType), lit(name))))
      case other =>
        throw new IllegalArgumentException(s"datagen: unsupported type $other")
    }
  }
}
