package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.execution.streaming.sources.{RateStreamMicroBatchInputPartition, RateStreamMicroBatchReaderFactory}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `rate` rows, released row by row: `value` v with `timestamp`
  * start + v·1000/rps ms, and row v is readable as soon as the clock passes
  * its timestamp. Spark's `rate` source counts its offsets in whole seconds,
  * so a query's first micro-batch is empty and its first rows wait a second;
  * here the offset is the number of rows released, ⌊elapsed·rps/1000⌋ + 1,
  * so the first micro-batch already holds row 0.
  *
  * Option `rowsPerSecond` (default 1). Partitions and readers are Spark's
  * rate ones; the start time is kept under the source's checkpoint
  * location, as the rate source keeps it, so a restarted query continues
  * the same sequence. */
final class PacedRate extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PacedRate.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = PacedRate.RateTable
}

object PacedRate {
  private val Schema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("value", LongType)))

  private object RateTable extends Table with SupportsRead {
    override def name(): String = "paced-rate"
    override def schema(): StructType = Schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
      override def readSchema(): StructType = Schema
      override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
        new RateStream(options.getLong("rowsPerSecond", 1L),
          SparkSession.active.sparkContext.defaultParallelism, checkpoint)
    }
  }

  /** The number of rows released. */
  private final case class Rows(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private final class RateStream(rps: Long, partitions: Int, checkpoint: String)
      extends MicroBatchStream {
    require(rps > 0, s"rowsPerSecond must be positive, got $rps")
    private val startMs = {
      val log = new HDFSMetadataLog[String](SparkSession.active, checkpoint) {
        override def serialize(ms: String, out: OutputStream): Unit = out.write(ms.getBytes(UTF_8))
        override def deserialize(in: InputStream): String = new String(in.readAllBytes(), UTF_8)
      }
      log.get(0).getOrElse {
        val now = System.currentTimeMillis().toString
        log.add(0, now)
        now
      }.toLong
    }
    // never moves back, also when a restart replays an offset past the clock
    @volatile private var released = 0L

    override def initialOffset(): Offset = Rows(0)
    override def latestOffset(): Offset = {
      released = math.max(released, (System.currentTimeMillis() - startMs) * rps / 1000 + 1)
      Rows(released)
    }
    override def deserializeOffset(json: String): Offset = Rows(json.toLong)

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val (from, until) = (start.asInstanceOf[Rows].n, end.asInstanceOf[Rows].n)
      released = math.max(released, until)
      // The reader emits rangeStart + partitionId + k·numPartitions and
      // times each row relative to rangeStart. Starting the range at a row
      // whose timestamp is a whole millisecond, and shifting partitionId to
      // `from`, gives every row exactly start + round(v·1000/rps).
      val step = rps / BigInt(rps).gcd(1000).toLong
      val base = from - from % step
      val n = math.min(partitions.toLong, until - from).toInt
      (0 until n).map(p => RateStreamMicroBatchInputPartition((from - base).toInt + p, n,
        base, until, startMs + base * 1000 / rps, 1000.0 / rps): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = RateStreamMicroBatchReaderFactory
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
    override def toString: String = s"PacedRate[rowsPerSecond=$rps]"
  }
}
