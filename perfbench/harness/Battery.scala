package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** `battery`: a fixed list of `SparkEntry.queries` rows run in-process, no
  * HTTP, with the cache cleared before every run of a row as `graft.Bench`
  * does. The measured passes time `count()` and record it for the check
  * against the oracle's row count; after them, the results of the rows the
  * plan names are written for the oracle's row hash. */
object Battery {
  final case class Sample(name: String, pass: Int, ms: Double, count: Long,
      startMs: Long, endMs: Long, key: String)

  def run(ctx: Ctx): Measured = {
    val cfg = ctx.plan.get("battery")
    val dir = cfg.get("data_dir").asText
    val rows = ctx.plan.get("battery_rows").elements().asScala.map(_.asText).toSeq
    val orders = cfg.get("orders").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq
    val queries = SparkEntry.queries
    val unknown = rows.filterNot(queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")

    val setups = ctx.setUp(withGateway = false)(ctx.spark.range(1).count())
    ctx.attachProbes()
    Files.write(Paths.get(ctx.out, "oracle_sql.json"), Json.mapper.writeValueAsBytes(
      rows.map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava))

    // Untimed, the plan's warm-up rows run once. Without it the row the
    // seed puts first in the pass took up to twice its time elsewhere in
    // the order, even on its second run; with four light rows it still did.
    val warm0 = System.nanoTime()
    cfg.get("warm").elements().asScala.map(_.asText).foreach { n =>
      ctx.spark.catalog.clearCache()
      try queries(n)(ctx.spark, dir).count() catch {
        case e: Exception => ctx.check(false, s"$n (warm-up): ${e.getMessage}")
      }
    }

    val warmS = (System.nanoTime() - warm0) / 1e9

    val samples = ArrayBuffer.empty[Sample]
    val w = ctx.window { deadline =>
      Closed.loop(deadline) { p =>
        // each row twice back to back: the first run warms it, so its
        // generated code is in Spark's codegen cache for the second
        orders(p % orders.size).foreach(n => (1 to 2).foreach { _ =>
          ctx.spark.catalog.clearCache()
          val key = s"$n#${samples.size}"
          ctx.sparkProbe.currentKey = key
          val s0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val count = try queries(n)(ctx.spark, dir).count() catch {
            case e: Exception => ctx.check(false, s"$n: ${e.getMessage}"); -1L
          }
          val ms = (System.nanoTime() - t0) / 1e6
          if (count >= 0) ctx.check(true, "")
          samples += Sample(n, p, ms, count, s0, System.currentTimeMillis(), key)
        })
      }
    }
    // After the window, untimed, the rows to hash-check are collected and
    // written for the oracle.
    val dump = cfg.get("dump").elements().asScala.map(_.asText).toSet
    val dump0 = System.nanoTime()
    rows.filter(dump).foreach { n =>
      ctx.spark.catalog.clearCache()
      try {
        val df = queries(n)(ctx.spark, dir)
        ctx.spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
          .write.parquet(s"${ctx.out}/battery/$n")
      } catch { case e: Exception => ctx.check(false, s"$n: ${e.getMessage}") }
    }
    val dumpS = (System.nanoTime() - dump0) / 1e9
    // a row's time in a pass is its faster run, as graft.Bench keeps the
    // fastest of its runs
    val rowPass = samples.groupBy(s => (s.name, s.pass)).map { case ((n, p), ss) =>
      (n, p) -> ss.map(_.ms).min }
    val perRow = rows.map(n => n -> Stats.median(rowPass.collect {
      case ((m, _), ms) if m == n => ms / 1000.0 }.toSeq))
    val lat = perRow.map(_._2 * 1000.0)
    val passes = rowPass.groupBy(_._1._2).toSeq.sortBy(_._1).map(_._2.values.sum / 1000.0)
    val layers = ctx.layerDefaults ++
      ctx.commonLayers(w, samples.size, samples.map(s =>
        ctx.sparkProbe.gapMs(Seq(s.key), s.startMs, s.endMs).toDouble).toSeq) ++
      perRow.map { case (n, s) => s"battery.${n}_s" -> s } ++ Map(
        "client.stmt_p99_ms" -> Stats.tail(samples.map(_.ms).toSeq),
        "battery.sum_s" -> perRow.map(_._2).sum,
        "battery.geomean_s" -> Stats.geomean(perRow.map(_._2)))
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "stmt_p50_ms" -> Stats.median(lat),
      "stmt_geomean_ms" -> Stats.geomean(lat),
      "stmts_per_s" -> samples.size / w.elapsedS,
      "script_s" -> Stats.median(passes),
      "driver_heap_mb" -> Jvm.heapAfterGcMb)
    Measured(e2e, layers, Map(
      "setup_reps_s" -> setups.asJava, "warm_s" -> warmS, "dump_s" -> dumpS, "stmts" -> samples.size, "pass_s" -> passes.asJava,
      "tail_q" -> Stats.tailQ(samples.size), "window_s" -> w.elapsedS,
      "battery_counts" -> rows.map(n =>
        n -> samples.filter(_.name == n).map(_.count).asJava).toMap.asJava))
  }
}
