package graft.engine

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import graft.sources.Datagen
import graft.streaming.ChangelogOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, row_number, struct}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One engine session ≈ one gateway session in the reference: mutable conf
  * (execution.runtime-mode), registered tables, async statement execution
  * with token-paged result delivery (SURVEY.md §3.1 "Spark design").
  *
  * Statement lifecycle: `execute(sql)` → OperationHandle → poll
  * `ops.status` → drain `ops.fetch(handle, token)` pages until EOS
  * (batch) or forever/cancel (streaming). Classification mirrors the
  * client rule (flinkNotebookController.ts:256-260): a statement is
  * "streaming" iff its store keeps filling while the operation stays
  * RUNNING; bounded sources finish with EOS even in streaming mode.
  *
  * Every streaming statement (plain query, SQL top-N, CDC scan and
  * transformation, streaming INSERT) runs one lifecycle, [[stream]]: the
  * operation publishes its store, starts one query on the session's
  * trigger and checkpoint, and runs until a cancel stops it (from the
  * cell's DELETE, the job monitor's PATCH, or session close — all through
  * `OperationManager.cancel`) or the query fails; the store then ends at
  * EOS and a temporary checkpoint is deleted. The kinds differ only in
  * their source, output mode and sink.
  */
final class EngineSession(val spark: SparkSession) {

  val ops = new OperationManager(spark)
  /** Tables registered via Flink DDL that must be materialized per query. */
  private val specs = TrieMap.empty[String, TableSpec]
  @volatile private var runtimeMode: String = "streaming" // Flink default
  /** SET 'execution.checkpointing.interval' → micro-batch trigger period
    * (the closest Spark analogue: commit cadence). Default mirrors the
    * reference's interactive 500 ms (SURVEY §7.4 #6). */
  @volatile private var triggerInterval: String = "500 milliseconds"
  @volatile private var checkpointDir: Option[String] = None
  /** Every temporary checkpoint [[stream]] made; [[close]] deletes those a
    * late task re-created after their query's own delete. */
  private val tempCheckpoints = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  def executionMode: String = runtimeMode
  def trigger: String = triggerInterval

  /** Flink duration spellings → Spark CalendarInterval strings. Bare
    * numbers are milliseconds (Flink's convention); unrecognized input
    * fails HERE (at SET time, one clear error) instead of poisoning every
    * later streaming statement's trigger. */
  private[engine] def normalizeDuration(v: String): String = {
    val Re = """(?i)\s*(\d+)\s*(ms|millis(?:econds?)?|s|sec(?:onds?)?|m|min(?:utes?)?|h|hours?|d|days?)?\s*""".r
    v.trim match {
      case Re(n, unit) =>
        val u = Option(unit).map(_.toLowerCase).getOrElse("ms")
        val name =
          if (u.startsWith("ms") || u.startsWith("milli")) "milliseconds"
          else if (u.startsWith("s")) "seconds"
          else if (u.startsWith("m")) "minutes"
          else if (u.startsWith("h")) "hours"
          else "days"
        s"$n $name"
      case other => throw new IllegalArgumentException(
        s"cannot parse checkpoint interval '$other' (use e.g. '10s', '500ms', '1 min')")
    }
  }

  // ------------------------------------------------------------ execution
  /** Gateway contract: ALWAYS returns a handle; failures (including parse
    * errors) surface as status=Error on the operation, never as a thrown
    * exception on the submitting thread (sqlGatewayClient.ts:97-112). */
  def execute(sql: String): OperationHandle =
    try executeRouted(sql)
    catch {
      case scala.util.control.NonFatal(t) =>
        ops.submit(sql) { _ => throw t }
    }

  private def executeRouted(sql: String): OperationHandle = DialectShim.route(sql) match {
    case DialectShim.SetConf(k, v) => sync(sql) { _ =>
      if (k == "execution.runtime-mode") runtimeMode = v.toLowerCase
      else if (k == "execution.checkpointing.interval")
        triggerInterval = normalizeDuration(v)
      else if (k == "execution.checkpointing.dir" || k == "state.checkpoints.dir")
        checkpointDir = Some(v)
      else if (k.startsWith("execution.checkpointing")) () // mode/timeout: engine-managed
      else spark.conf.set(k, v)
    }
    case DialectShim.CreateCatalog(name, options) => sync(sql) { _ =>
      // Catalogs in Spark are conf, not DDL (SURVEY §2.2): map the verb.
      options.foreach { case (k, v) =>
        spark.conf.set(s"spark.sql.catalog.$name.$k", v)
      }
      spark.conf.set(s"spark.sql.catalog.$name",
        options.getOrElse("catalog-impl", "org.apache.spark.sql.connector.catalog.InMemoryCatalog"))
    }
    case DialectShim.UseCatalog(name) => sync(sql) { _ =>
      spark.catalog.setCurrentCatalog(name)
    }
    case DialectShim.DropTable(name, ifExists) => sync(sql) { _ =>
      val wasSpec = specs.remove(name).isDefined
      val isTemp = spark.catalog.tableExists(name) &&
        spark.catalog.listTables().collect()
          .exists(t => t.name.equalsIgnoreCase(name) && t.isTemporary)
      if (isTemp) spark.catalog.dropTempView(name)
      else if (spark.catalog.tableExists(name))
        spark.sql(s"DROP TABLE `$name`") // real catalog table
      else if (!wasSpec && !ifExists)
        throw new IllegalArgumentException(s"table not found: $name")
    }
    case DialectShim.StatementSet(statements) => sync(sql) { info =>
      statements.foreach(s => awaitFinished(execute(s)))
    }
    case DialectShim.EngineDdl(spec) => sync(sql) { _ => registerTable(spec) }
    case DialectShim.InsertInto(target, overwrite, query) =>
      specs.get(target) match {
        case Some(spec) if spec.connector == "filesystem" =>
          val refs = referencedTables(spark.sessionState.sqlParser.parsePlan(query))
          val streams =
            if (runtimeMode == "batch") Nil
            else streamingTables(refs)
          if (streams.nonEmpty) {
            // streaming INSERT: continuous append job into the table path
            // (file sink; the op stays RUNNING until canceled —
            // the reference's "INSERT INTO spawns a monitored job" shape,
            // jobMonitorProvider.ts:41-43)
            if (overwrite) throw new IllegalArgumentException(
              "INSERT OVERWRITE is not supported from a streaming source")
            ops.submit(sql) { info =>
              materializeStreams(streams)
              // bounded dims (jdbc/filesystem) joinable from the streaming
              // INSERT; stream names excluded so the batch re-registration
              // can't clobber the streaming views registered above
              materializeBounded(refs -- streams.map(_.name.toLowerCase))
              stream(info, statementStore(), spark.sql(query)) {
                _.format(spec.options.getOrElse("format", "parquet"))
                  .option("path", spec.options("path"))
              }
            }
          } else sync(sql) { _ =>
            // batch INSERT INTO/OVERWRITE a path-backed table (SURVEY §2.1):
            // write the query result, then refresh the registered view.
            materializeBounded(refs) // jdbc/filesystem sources of the SELECT
            val df = spark.sql(query)
            val mode = if (overwrite) "overwrite" else "append"
            df.write.format(spec.options.getOrElse("format", "parquet"))
              .mode(mode).save(spec.options("path"))
            registerTable(spec)
          }
        case _ => runQuery(sql, sql) // catalog tables: Spark SQL handles INSERT
      }
    case DialectShim.Passthrough(rewritten) => runQuery(sql, rewritten)
  }

  /** Execute and block until terminal state — convenience for DDL/tests. */
  def executeSync(sql: String): OperationInfo = awaitFinished(execute(sql))

  def awaitFinished(h: OperationHandle): OperationInfo = {
    val info = ops.get(h).get
    while (info.status == OpStatus.Pending ||
      (info.status == OpStatus.Running && !info.isStreaming))
      Thread.sleep(10)
    info.error.foreach(t => throw t)
    info
  }

  // ------------------------------------------------------------- routing
  private def sync(sql: String)(body: OperationInfo => Unit): OperationHandle =
    ops.submit(sql) { info =>
      val store = statementStore()
      info.store = Some(store)
      body(info)
      store.append(Seq("OK"))
      store.markEos()
    }

  /** The one-column status store of a statement that returns no rows. */
  private def statementStore(): ResultStore =
    new ResultStore(Seq("result"), columnTypes = Seq(("VARCHAR", true)))

  /** The store of a keyed delivery path (update-mode aggregates, CDC
    * scans, recomputed results). SET 'graft.protocol.emit-update-before' =
    * 'true' turns keyed updates into Flink-changelog retraction pairs
    * (models/types.ts:24-27 parity). */
  private def keyedStore(schema: StructType): ResultStore =
    new ResultStore(schema.fieldNames.toSeq,
      columnTypes = FlinkDdl.logicalTypes(schema),
      emitUpdateBefore =
        spark.conf.getOption("graft.protocol.emit-update-before").exists(_.toBoolean))

  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def registerTable(spec: TableSpec): Unit = {
    spec.connector match {
      case "datagen" if spec.isBounded =>
        Datagen.bounded(spark, spec).createOrReplaceTempView(spec.name)
        specs.put(spec.name, spec)
      case "datagen" =>
        specs.put(spec.name, spec) // materialized readStream per query
      case "filesystem" =>
        loadFilesystem(spec).createOrReplaceTempView(spec.name)
        specs.put(spec.name, spec)
      case _ =>
        // kafka / cdc / jdbc: recorded for catalog parity; SELECT fails
        // with a clear message when the backing system is unreachable.
        specs.put(spec.name, spec)
    }
  }

  /** A filesystem table's batch view: the path's current contents, or an
    * empty table of the declared schema while the path does not exist yet
    * — a Flink filesystem sink table reads empty before its first write. */
  private def loadFilesystem(spec: TableSpec): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(spec.options("path"))
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      emptyOf(spec.schema)
    else spark.read.format(spec.options.getOrElse("format", "parquet"))
      .schema(spec.schema).load(path.toString)
  }

  /** Relation identifiers the statement references — from the PARSED plan,
    * not a text match (a regex misfires on string literals and is
    * case-sensitive where SQL identifiers aren't). A parse failure
    * propagates: the operation surfaces status=Error with the parser's
    * message — swallowing it here would silently misroute the statement. */
  private def referencedTables(plan: LogicalPlan): Set[String] =
    plan.collect {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier.last.toLowerCase
    }.toSet

  private def streamingTables(refs: Set[String]): Seq[TableSpec] =
    specs.values.toSeq.filter(s =>
      !s.isBounded && refs.contains(s.name.toLowerCase))

  private def runQuery(original: String, rewritten: String): OperationHandle = {
    val plan = spark.sessionState.sqlParser.parsePlan(rewritten)
    val refs = referencedTables(plan)
    val streams = if (runtimeMode == "batch") Nil else streamingTables(refs)
    val cdc = streams.filter(_.connector.endsWith("-cdc"))
    if (streams.isEmpty) runBatch(rewritten, refs)
    else if (cdc.nonEmpty) runCdc(original, rewritten, plan, cdc, streams, refs)
    else {
      // Flink's streaming top-N idiom can't go through the streaming
      // planner (Spark rejects rank-over-stream) — detect and route to the
      // stateful accumulator BEFORE planning
      val topn = streams match {
        case Seq(one) =>
          StreamingTopNPattern.detect(plan).filter(_.table.equalsIgnoreCase(one.name))
        case _ => None
      }
      topn match {
        case Some(shape) => runStreamTopN(rewritten, streams.head, refs, shape)
        case None => runStreaming(rewritten, streams, refs)
      }
    }
  }

  /** `SELECT * FROM <table>` and nothing else — the changelog-scan shape. */
  private def isDirectScan(plan: LogicalPlan, table: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    plan match {
      case Project(Seq(_: UnresolvedStar), r: UnresolvedRelation) =>
        r.multipartIdentifier.last.equalsIgnoreCase(table)
      case r: UnresolvedRelation =>
        r.multipartIdentifier.last.equalsIgnoreCase(table)
      case _ => false
    }
  }

  /** The Debezium changelog stream of a cdc table. */
  private def cdcChangelog(spec: TableSpec): DataFrame =
    graft.sources.DebeziumJson.fileStream(spark, cdcPath(spec), spec.schema)

  /** The file-backed changelog directory of a cdc table, after the checks
    * both the streaming and the batch path need: a missing key or endpoint
    * fails with these clear diagnostics, not a generic
    * TABLE_OR_VIEW_NOT_FOUND or a silently global compaction (empty
    * partitionBy = one row survives). A real postgres-cdc/mysql-cdc
    * endpoint is unreachable here; a Debezium-JSON directory
    * ('debezium.json.path') drives the identical pipeline. */
  private def cdcPath(spec: TableSpec): String = {
    if (spec.primaryKey.isEmpty) throw new IllegalArgumentException(
      s"cdc table ${spec.name} needs PRIMARY KEY (...) NOT ENFORCED for changelog merge")
    spec.options.getOrElse("debezium.json.path",
      throw new IllegalStateException(
        s"connector '${spec.connector}' (table ${spec.name}) endpoint is unreachable " +
          "in this environment; set 'debezium.json.path' for a file-backed changelog"))
  }

  /** CDC table scan: the Debezium changelog streams through
    * `ChangelogOps.mergeBatch` into the keyed store — upserts for c/u/r,
    * tombstoned Delete kinds for d (the reference's cdc tables render as a
    * converging changelog view, CONNECTORS.md:126-140).
    *
    * Transformations over a CDC table — to the reference a cdc table is a
    * normal table Flink SQL plans with changelog semantics — recompute
    * over a COMPACTED SNAPSHOT ([[recompute]]): last-writer-wins per
    * primary key, deletes drop the key. The fold state carries, PER KEY,
    * the winning (__ord=ts_ms, __bat=micro-batch id, __seq=read position)
    * alongside the payload — plus the winning __op, so a delete's ordinal
    * keeps shadowing older changes that arrive in later batches. A change
    * in a later micro-batch with an OLDER ts_ms therefore LOSES to the
    * value already folded in: timestamp-wins, the same winner the batch
    * compaction in materializeBounded picks over the whole directory
    * (ts_ms, then arrival, then position) — a streaming transform and a
    * later batch query over the same out-of-order changelog agree. Flink
    * instead propagates retractions incrementally through each operator;
    * for a Spark-native engine that would be flatMapGroupsWithState per
    * operator — out of proportion to the reference's interactive-notebook
    * use. */
  private def runCdc(sql: String, rewritten: String, plan: LogicalPlan, cdc: Seq[TableSpec],
      streams: Seq[TableSpec], refs: Set[String]): OperationHandle = {
    val spec = cdc match {
      case Seq(one) => one
      case _ => throw new IllegalArgumentException(
        "queries may reference at most one CDC table " +
          "(join cdc-to-cdc via a materialized snapshot)")
    }
    if (streams.exists(_.connector != spec.connector) || streams.size > cdc.size)
      throw new IllegalArgumentException(
        "mixing a CDC table with other unbounded sources in one statement is not supported")
    if (isDirectScan(plan, spec.name)) ops.submit(sql) { info =>
      val changelog = cdcChangelog(spec)
      val store = keyedStore(spec.schema)
      val merge = ChangelogOps.mergeBatch(
        store, spec.primaryKey, col("__ord"), opCol = "__op") _
      stream(info, store, changelog)(_.foreachBatch(merge))
    }
    else ops.submit(sql) { info =>
      recompute(info, rewritten, spec, refs, cdcChangelog(spec))(
        // equal-ts changes to one key tie-break by arrival: batch id, then
        // read position within the batch (monotonically_increasing_id is
        // batch-legal here, and a file micro-batch's partitions are byte
        // ranges in file order). __seq values are only comparable within
        // one batch — __bat ranks across batches first.
        fold = (snapshot, batch, batchId) => ChangelogOps.compact(
          snapshot.unionByName(batch
            .withColumn("__bat", lit(batchId))
            .withColumn("__seq", monotonically_increasing_id()),
            allowMissingColumns = true),
          spec.primaryKey, struct(col("__ord"), col("__bat"), col("__seq"))),
        view = _.filter(col("__op") =!= "d").drop("__op", "__ord", "__bat", "__seq"))
    }
  }

  /** Convergent delivery of a recomputed batch result: upsert every row —
    * keyed by `keyIdx` columns, or by whole-row + occurrence index when
    * unkeyed (duplicates stay distinct, exact multiset convergence) — then
    * Delete the keys that left the result, so the client-visible set
    * converges to the latest recomputation. `prevKeys` is the caller's
    * across-batch key memory. */
  private def deliverConvergent(store: ResultStore, result: DataFrame,
      keyIdx: Seq[Int], prevKeys: mutable.HashSet[Seq[Any]]): Unit = {
    val newKeys = mutable.HashSet.empty[Seq[Any]]
    val occ = mutable.HashMap.empty[Seq[Any], Int]
    val it = result.toLocalIterator()
    while (it.hasNext) {
      val fields = it.next().toSeq
      val keyFields =
        (if (keyIdx.nonEmpty) keyIdx.map(fields) else fields).map(ResultStore.keyable)
      val key =
        if (keyIdx.nonEmpty) keyFields
        else {
          val n = occ.getOrElse(keyFields, 0); occ(keyFields) = n + 1
          keyFields :+ (n: Any)
        }
      store.upsert(key, fields)
      newKeys += key
    }
    prevKeys.diff(newKeys).foreach(store.delete)
    prevKeys.clear(); prevKeys ++= newKeys
    ()
  }

  /** Recompute over an accumulator: the streaming form of a statement
    * Spark's streaming planner cannot run (CDC transformations, SQL
    * top-N). The query is planned once against an empty view of the table
    * (store columns and delivery keys: grouping columns for a top-level
    * aggregate, else the whole row + occurrence index). Per micro-batch,
    * `fold` merges the batch into the accumulated state — localCheckpoint
    * truncates lineage, so the cost is O(state), not O(history) — `view`
    * projects the state onto the table's columns under the table's name,
    * and the user's query re-runs over it with keyed-convergent delivery
    * (the standard foreachBatch "recompute on change" shape). */
  private def recompute(info: OperationInfo, sql: String, spec: TableSpec,
      refs: Set[String], source: DataFrame)(
      fold: (DataFrame, DataFrame, Long) => DataFrame,
      view: DataFrame => DataFrame = identity): Unit = {
    // bounded dims joinable; the streamed table itself is excluded — its
    // view is this operator's own accumulator, registered below
    materializeBounded(refs - spec.name.toLowerCase)
    var acc = emptyOf(source.schema)
    view(acc).createOrReplaceTempView(spec.name)
    val probe = spark.sql(sql)
    val keyIdx = aggKeyIndexes(probe).getOrElse(Nil)
    val store = keyedStore(probe.schema)
    val prevKeys = mutable.HashSet.empty[Seq[Any]]
    stream(info, store, source)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
      acc = fold(acc, batch, batchId).localCheckpoint()
      view(acc).createOrReplaceTempView(spec.name)
      deliverConvergent(store, spark.sql(sql), keyIdx, prevKeys)
    })
  }

  /** SQL streaming top-N — the Flink `ROW_NUMBER() OVER (…) WHERE rn <= k`
    * idiom on an unbounded table, which Spark's streaming planner rejects
    * (rank-over-stream). Semantics: the result converges to the batch
    * top-N over ALL rows seen so far.
    *
    * The accumulator exploits rank monotonicity: a row outside a key's
    * current top-k can never re-enter it as more rows arrive, so per
    * micro-batch the accumulated state compacts to the top-k rows per
    * partition key — state is O(k · |keys|), never O(stream). The user's
    * original query then re-runs over the compacted accumulator
    * ([[recompute]]). Ties beyond the rank bound resolve like any batch
    * ROW_NUMBER: nondeterministically — an ORDER BY with a tiebreaker
    * column is deterministic end-to-end. */
  private def runStreamTopN(sql: String, spec: TableSpec, refs: Set[String],
      shape: StreamTopNShape): OperationHandle = ops.submit(sql) { info =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shape.partitionCols.map(col): _*)
      .orderBy(shape.orderCols.map { case (c, desc) =>
        if (desc) col(c).desc else col(c).asc }: _*)
    recompute(info, sql, spec, refs, streamSource(spec))(
      fold = (acc, batch, _) => acc.unionByName(batch)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= shape.limit)
        .drop("__rn"))
  }

  /** Bounded spec-backed tables that must materialize per query (jdbc: the
    * driver/connection is only touched at load(), inside the operation).
    * Called from BOTH the batch and the streaming path — a streaming query
    * joining a stream against a jdbc dimension is the lookup-shaped case
    * jdbc tables exist for.
    *
    * Filesystem views re-register UNCONDITIONALLY (monitored directories
    * included — a batch query over one reads the directory's CURRENT
    * contents): a prior streaming statement (CDC snapshot, top-N
    * accumulator, monitored stream) may have re-pointed the table's temp
    * view at its own frozen state, and a later batch query must not
    * silently read that. A cdc table queried in BATCH mode materializes as
    * the fully compacted snapshot of its changelog — the natural batch
    * semantics of a changelog table. */
  private def materializeBounded(refs: Set[String]): Unit =
    specs.values.filter(s => refs.contains(s.name.toLowerCase))
      .foreach { spec =>
        spec.connector match {
          case "jdbc" =>
            graft.sources.Jdbc.reader(spark, spec).createOrReplaceTempView(spec.name)
          case "filesystem" =>
            loadFilesystem(spec).createOrReplaceTempView(spec.name)
          case c if c.endsWith("-cdc") =>
            // order: ts_ms, then source-file mtime (write order), then
            // in-file position — matches the streaming replay's winner
            val log = graft.sources.DebeziumJson.fileBatch(spark, cdcPath(spec), spec.schema)
              .withColumn("__seq", monotonically_increasing_id())
            ChangelogOps.latestSnapshot(
                log, spec.primaryKey,
                struct(col("__ord"), col("__mt"), col("__seq")), opCol = "__op")
              .drop("__ord", "__mt", "__seq")
              .createOrReplaceTempView(spec.name)
          case _ => ()
        }
      }

  /** Update-mode keying: `Some(indexes of the non-aggregate output
    * columns)` when the statement's TOP-LEVEL plan is an aggregate (an
    * aggregate buried in a subquery — e.g. an aggregated static join
    * side — must not switch the whole query to keyed upserts), `None`
    * for non-aggregate queries. A global aggregate returns `Some(Nil)`:
    * update mode, unkeyed delivery. */
  private def aggKeyIndexes(df: DataFrame): Option[Seq[Int]] = {
    def topAgg(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Aggregate] = p match {
      case a: Aggregate => Some(a)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => topAgg(p.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => topAgg(f.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => topAgg(s.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => topAgg(s.child)
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => topAgg(l.child)
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => topAgg(l.child)
      case _ => None
    }
    topAgg(df.queryExecution.analyzed).map { a =>
      val aggNames = a.aggregateExpressions.filter(e =>
        e.collectFirst { case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression => ae }.isDefined
      ).map(_.name).toSet
      df.schema.fieldNames.zipWithIndex.collect {
        case (n, i) if !aggNames.contains(n) => i
      }.toSeq
    }
  }

  private def runBatch(sql: String, refs: Set[String]): OperationHandle = ops.submit(sql) { info =>
    materializeBounded(refs)
    val df = spark.sql(sql)
    val store = new ResultStore(df.schema.fieldNames.toSeq,
      columnTypes = FlinkDdl.logicalTypes(df.schema))
    info.store = Some(store)
    // toLocalIterator: pages stream to the driver one partition at a time —
    // never a full collect (SURVEY §2.1 collect sink).
    val it = df.toLocalIterator()
    while (it.hasNext && !store.atCapacity && info.status == OpStatus.Running)
      store.append(it.next().toSeq)
    store.markEos()
  }

  /** The unbounded DataFrame for a streaming table spec, with its declared
    * watermark applied (SURVEY §2.4 watermark declaration). */
  private def streamSource(spec: TableSpec): DataFrame = {
    val df = spec.connector match {
      case "datagen" => Datagen.unbounded(spark, spec)
      case "kafka" =>
        // full reader plan built here (option mapping + value parse);
        // without the connector jar, .load() throws data-source-not-found
        // — an async Error on the SELECT's operation, never at DDL time
        graft.sources.KafkaJson.reader(spark, spec)
      case "filesystem" =>
        // continuous directory monitoring ('source.monitor-interval'):
        // unbounded stream of new files, one per trigger so multi-batch
        // state paths actually exercise
        spark.readStream.schema(spec.schema)
          .option("maxFilesPerTrigger", "1")
          .format(spec.options.getOrElse("format", "parquet"))
          .load(spec.options("path"))
      case other =>
        throw new IllegalStateException(
          s"connector '$other' (table ${spec.name}) is not reachable in this environment")
    }
    spec.watermark.map(w => df.withWatermark(w.column, w.delay)).getOrElse(df)
  }

  /** Materialize each unbounded table as a streaming temp view. */
  private def materializeStreams(streams: Seq[TableSpec]): Unit =
    streams.foreach(spec => streamSource(spec).createOrReplaceTempView(spec.name))

  private def runStreaming(sql: String, streams: Seq[TableSpec],
      refs: Set[String]): OperationHandle =
    ops.submit(sql) { info =>
      materializeStreams(streams)
      // jdbc/filesystem dims joinable from streaming queries; stream names
      // excluded — the unconditional filesystem re-registration would
      // otherwise clobber a monitored directory's just-registered
      // streaming view with a batch read
      materializeBounded(refs -- streams.map(_.name.toLowerCase))
      val df = spark.sql(sql)
      val keys = aggKeyIndexes(df)
      val keyIdx = keys.getOrElse(Nil)
      val store = keyedStore(df.schema)
      val mode = if (keys.isDefined) OutputMode.Update() else OutputMode.Append()
      stream(info, store, df, mode)(_.foreachBatch { (batch: DataFrame, _: Long) =>
        // Driver memory stays bounded for ANY micro-batch size: rows pull
        // one partition at a time (toLocalIterator), never a full
        // collect — a fast source's first batch, or an aggregate over an
        // unbounded key domain, can exceed the 10k client cap by orders
        // of magnitude. Append mode additionally stops pulling at the
        // store's capacity; update mode must see every changed key (an
        // update to an already-stored key applies even at capacity), but
        // holds at most one partition of them at a time.
        val bounded =
          if (keyIdx.nonEmpty) batch
          else batch.limit(store.remainingCapacity)
        val it = bounded.toLocalIterator()
        while (it.hasNext && !(keyIdx.isEmpty && store.atCapacity)) {
          val fields = it.next().toSeq
          if (keyIdx.nonEmpty) store.upsert(keyIdx.map(fields), fields)
          else store.append(fields)
        }
      })
    }

  /** The one streaming lifecycle (class doc). Publishes `store`, starts
    * `source` into `sink` on the session's trigger and checkpoint, and
    * blocks until the query ends; the query never outlives this call.
    *
    * Checkpoint: `<execution.checkpointing.dir>/<operation id>` after SET,
    * else a temporary directory deleted when the query ends. A cancel
    * that lands before the query is published finds nothing to stop
    * (`OperationManager.cancel` reads `streamingQuery`), so the query
    * stops here at once if the operation was canceled meanwhile. */
  private def stream(info: OperationInfo, store: ResultStore, source: DataFrame,
      mode: OutputMode = OutputMode.Append())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    info.store = Some(store)
    info.isStreaming = true
    val (location, temp) = checkpointDir match {
      case Some(dir) => (s"$dir/${info.handle.id}", None)
      case None =>
        val tmp = Files.createTempDirectory("graft-ck")
        tempCheckpoints.add(tmp)
        (tmp.toString, Some(tmp))
    }
    try {
      val q = sink(source.writeStream.outputMode(mode))
        .trigger(Trigger.ProcessingTime(triggerInterval))
        .option("checkpointLocation", location)
        .start()
      info.streamingQuery = Some(q)
      if (info.status == OpStatus.Canceled) q.stop()
      try q.awaitTermination() finally q.stop()
      store.markEos()
    } finally temp.foreach { t =>
      info.streamingQuery.foreach(awaitTasks)
      org.apache.commons.io.FileUtils.deleteQuietly(t.toFile)
    }
  }

  /** Waits, up to 10 s, until no task of the stopped query `q` runs.
    * `stop()` returns once the query thread ends, but a task killed in the
    * middle of a state-store commit still writes into the checkpoint, and
    * would re-create a temporary checkpoint deleted before it ends. The
    * status store lists only the jobs whose start it has seen, so a task of
    * a job submitted just before `stop()` can still do so; [[close]] sweeps
    * those. */
  private def awaitTasks(q: StreamingQuery): Unit = {
    val st = spark.sparkContext.statusTracker
    def running = st.getJobIdsForGroup(q.runId.toString).iterator
      .flatMap(st.getJobInfo).flatMap(_.stageIds)
      .flatMap(st.getStageInfo).exists(_.numActiveTasks > 0)
    val end = System.nanoTime() + 10e9.toLong
    while (running && System.nanoTime() < end) Thread.sleep(10)
  }

  /** Cancels the session's live operations, stopping their streams, then
    * deletes what is left of its temporary checkpoints. Goes through the
    * operations rather than `spark.streams`, which would hang a
    * StreamingQueryListenerBus on the shared Spark bus for every batch-only
    * session. */
  def close(): Unit = {
    ops.shutdown()
    tempCheckpoints.forEach(t => org.apache.commons.io.FileUtils.deleteQuietly(t.toFile))
  }
}
