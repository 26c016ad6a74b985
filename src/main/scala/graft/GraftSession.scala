package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** One place for engine session defaults so Verify, Bench, and tests agree.
  *
  * Settings are scale-oriented: AQE on (runtime coalescing + skew-join
  * splitting stand in for hand-tuned partition counts on a real cluster),
  * shuffle partitions sized to local cores (on a 1000-executor cluster this
  * would be a multiple of total cores — AQE coalesces the excess either way).
  *
  * Local file writes start no processes. Without the native libhadoop,
  * Hadoop's local file system forks `chmod` for every file or directory it
  * creates, and the FileContext checkpoint manager, Spark's default, forks
  * `readlink` twice per rename (`getFileLinkStatus`). A streaming micro-batch
  * writes its offset log, commit log and state-store deltas through them, a
  * few ms per fork, so forks set the per-batch cost of a small stream. Hence
  * `file://` is [[LocalFiles]], and checkpoints go through the FileSystem-
  * based manager, which reaches it (the FileContext one is hard-wired to
  * Hadoop's raw local file system). Checksums and rename commits stay.
  *
  * Every session's tasks share one class loader. Artifact isolation, Spark's
  * default, gives each `newSession()` child's tasks a class loader of their
  * own, and Spark caches generated classes by (class loader, source), so
  * every notebook session recompiled, inside its tasks, each class the
  * gateway had already compiled: a Janino compile per class, which sets the
  * latency of a small statement. With isolation off, a class compiled for
  * one session serves all; SQL conf, temp views and the current catalog stay
  * per session, since `newSession()` isolates those itself. A jar added
  * with `ADD JAR` in any session is therefore loadable by every session's
  * tasks, as it is already listed by `LIST JARS` in every session and
  * loaded by the driver's one jar class loader.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // testdata's events.ts is parquet TIMESTAMP(NANOS); read as Long nanos
      // (Tables.load converts to TimestampType).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native expressions as SQL functions (simhash64/srp_code/vec_dot)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFiles].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")
    // deployment-specific overrides without a recompile (r19): semicolon-
    // separated k=v list, e.g. cluster memory/shuffle sizing per guide §9.
    // Later wins over the defaults above; empty/unset is a no-op, so the
    // driver's bench environment is untouched unless it opts in.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").toSeq).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Hadoop's checksummed local file system, with mode bits set through
  * `java.nio` instead of a forked `chmod` (see [[GraftSession]]). */
final class LocalFiles extends LocalFileSystem(new LocalFiles.Raw)

object LocalFiles {
  final class Raw extends RawLocalFileSystem {
    /** The nine rwx bits; NIO cannot set the sticky bit, which no graft
      * write asks for. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode & (256 >> b.ordinal)) != 0) bits.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}
