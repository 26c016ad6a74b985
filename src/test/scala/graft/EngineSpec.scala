package graft

import graft.engine._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end replay of the reference's example notebooks through the
  * engine surface (execute → poll → token-paged fetch), plus unit coverage
  * of the DDL parser, dialect rewrites, and the result-store protocol.
  * Golden values from FIXTURES.md §A (recorded in the reference notebooks'
  * persisted outputs).
  */
class EngineSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local("4")
  lazy val session = new EngineSession(spark)

  private def drain(h: OperationHandle, maxPages: Int = 200): Seq[StoredRow] = {
    var token = 0L
    val out = Seq.newBuilder[StoredRow]
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      val r = session.ops.fetch(h, token)
      out ++= r.rows
      r.resultType match {
        case "EOS" => done = true
        case "PAYLOAD" => token = r.nextToken.get
        case "NOT_READY" => Thread.sleep(50)
      }
      pages += 1
    }
    out.result()
  }

  // ---------------------------------------------------------- A4: smoke
  test("smoke: SELECT without FROM (SETUP.md:76)") {
    val info = session.executeSync("SELECT 1 as id, 'Hello Flink!' as message")
    val rows = drain(info.handle)
    assert(rows.map(_.fields) == Seq(Seq(1, "Hello Flink!")))
  }

  // ------------------------------------------- A2: orders_batch notebook 02
  test("notebook 02 replay: bounded datagen, 100 rows, sequence ids, agg, top-N") {
    session.executeSync("SET 'execution.runtime-mode' = 'batch'")
    session.executeSync(
      """CREATE TABLE orders_batch (
        |    order_id INT,
        |    customer_id INT,
        |    product_id INT,
        |    quantity INT,
        |    price DECIMAL(10, 2),
        |    order_time TIMESTAMP(3)
        |) WITH (
        |    'connector' = 'datagen',
        |    'rows-per-second' = '1000',
        |    'number-of-rows' = '100',
        |    'fields.order_id.kind' = 'sequence',
        |    'fields.order_id.start' = '1',
        |    'fields.order_id.end' = '100',
        |    'fields.customer_id.min' = '1',
        |    'fields.customer_id.max' = '50',
        |    'fields.product_id.min' = '1',
        |    'fields.product_id.max' = '20',
        |    'fields.quantity.min' = '1',
        |    'fields.quantity.max' = '10',
        |    'fields.price.min' = '10',
        |    'fields.price.max' = '500'
        |) """.stripMargin)

    // full scan: exactly 100 rows, EOS (02:31 recorded total_rows_fetched=100)
    val scan = drain(session.executeSync("SELECT * FROM orders_batch").handle)
    assert(scan.size == 100)
    // sequence column is exactly 1..100
    assert(scan.map(_.fields.head.asInstanceOf[Int]).sorted == (1 to 100))
    // random ranges respected
    assert(scan.forall { r =>
      val cid = r.fields(1).asInstanceOf[Int]
      val price = r.fields(4).asInstanceOf[java.math.BigDecimal]
      cid >= 1 && cid <= 50 &&
        price.doubleValue >= 10.0 && price.doubleValue <= 500.0
    })

    // revenue aggregation (02:54): ~19-20 product groups
    val agg = drain(session.executeSync(
      """SELECT product_id, COUNT(*) as order_count,
        |       SUM(price * quantity) as total_revenue, AVG(price) as avg_price
        |FROM orders_batch GROUP BY product_id
        |ORDER BY total_revenue DESC""".stripMargin).handle)
    assert(agg.size >= 15 && agg.size <= 20)

    // top-10 customers (02:71)
    val top = drain(session.executeSync(
      """SELECT customer_id, COUNT(*) as order_count, SUM(price*quantity) as total_spent
        |FROM orders_batch GROUP BY customer_id
        |ORDER BY order_count DESC, total_spent DESC LIMIT 10""".stripMargin).handle)
    assert(top.size == 10)
  }

  // -------------------------------------- A3: complex types (notebook 02:83)
  test("notebook 02 replay: ROW<> and ARRAY<> datagen, 50 rows") {
    session.executeSync(
      """CREATE TABLE products_with_metadata (
        |    product_id INT,
        |    product_name STRING,
        |    details ROW<category STRING, brand STRING>,
        |    tags ARRAY<STRING>,
        |    created_at TIMESTAMP(3)
        |) WITH (
        |    'connector' = 'datagen',
        |    'number-of-rows' = '50',
        |    'fields.product_id.kind' = 'sequence',
        |    'fields.product_id.start' = '1',
        |    'fields.product_id.end' = '50',
        |    'fields.product_name.length' = '15',
        |    'fields.details.category.length' = '10',
        |    'fields.details.brand.length' = '8'
        |)""".stripMargin)
    val rows = drain(session.executeSync(
      "SELECT product_id, product_name, details.category, tags FROM products_with_metadata").handle)
    assert(rows.size == 50)
    assert(rows.forall(_.fields(1).asInstanceOf[String].length == 15))
    assert(rows.forall(_.fields(2).asInstanceOf[String].length == 10))
    session.executeSync("DROP TABLE IF EXISTS products_with_metadata")
    assert(!spark.catalog.tableExists("products_with_metadata"))
  }

  // ----------------------------------- A1: clickstream streaming notebook 01
  test("notebook 01 replay: unbounded datagen, TUMBLE rewrite, streaming fetch, cancel") {
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      """CREATE TABLE clickstream (
        |    user_id INT,
        |    page_id INT,
        |    action STRING,
        |    event_time TIMESTAMP(3),
        |    WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND
        |) WITH (
        |    'connector' = 'datagen',
        |    'rows-per-second' = '20',
        |    'fields.user_id.min' = '1',
        |    'fields.user_id.max' = '100',
        |    'fields.page_id.min' = '1',
        |    'fields.page_id.max' = '20',
        |    'fields.action.length' = '10'
        |)""".stripMargin)

    // legacy TUMBLE group-window query, exactly as the reference notebook
    val h = session.execute(
      """SELECT page_id,
        |       TUMBLE_START(event_time, INTERVAL '10' SECOND) as window_start,
        |       COUNT(*) as views
        |FROM clickstream
        |GROUP BY page_id, TUMBLE(event_time, INTERVAL '10' SECOND)""".stripMargin)

    // classified streaming: status RUNNING while results accumulate
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 30000
    var got = session.ops.fetch(h, 0)
    while (got.rows.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(300); got = session.ops.fetch(h, 0)
    }
    assert(got.rows.nonEmpty, "streaming rows should arrive")
    assert(info.isStreaming && info.status == OpStatus.Running)
    assert(got.resultType != "EOS")

    // update-mode upsert: page_id domain is 20 → keyed rows never exceed
    // 20 per window; snapshot converges instead of growing unboundedly
    val store = info.store.get
    // pause = drain control only; the query keeps running underneath
    store.pause()
    assert(session.ops.fetch(h, 0).resultType == "NOT_READY")
    store.resume()
    assert(session.ops.fetch(h, 0).resultType != "NOT_READY")

    session.ops.cancel(h)
    val q = info.streamingQuery.get
    val stopDeadline = System.currentTimeMillis() + 10000
    while (q.isActive && System.currentTimeMillis() < stopDeadline) Thread.sleep(100)
    assert(!q.isActive, "cancel must stop the streaming query")
    assert(info.status == OpStatus.Canceled)
    assert(session.ops.fetch(h, 0).resultType != "NOT_READY") // EOS-terminated
  }

  // --------------------------- append-mode delivery is capacity-bounded
  test("append-mode streaming pull is bounded by store capacity (no unbounded collect)") {
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      """CREATE TABLE firehose (v INT) WITH (
        |'connector' = 'datagen', 'rows-per-second' = '200000',
        |'fields.v.min' = '1', 'fields.v.max' = '10')""".stripMargin)
    // no aggregate → append mode: each micro-batch pull must be capped at
    // the store's remaining capacity BEFORE collect — a 200k rows/s source
    // lands ~100k rows in the first 500ms trigger otherwise.
    val h = session.execute("SELECT v FROM firehose")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 30000
    while (info.store.forall(_.size < 10000) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(info.store.get.size == 10000, "store fills exactly to the client cap")
    assert(info.status == OpStatus.Running, s"query healthy, got ${info.status}")
    session.ops.cancel(h)
  }

  // --------------------------------------- kafka builder path (no jar here)
  test("kafka table: DDL registers, SELECT builds the reader and errors at load") {
    // option mapping is the jar-independent contract (CONNECTORS.md:98-109)
    val opts = graft.sources.KafkaJson.sparkOptions(Map(
      "connector" -> "kafka",
      "topic" -> "clicks",
      "properties.bootstrap.servers" -> "broker:9092",
      "properties.group.id" -> "g1",
      "scan.startup.mode" -> "earliest-offset",
      "format" -> "json"))
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "clicks",
      "startingOffsets" -> "earliest",
      "kafka.group.id" -> "g1"))

    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      """CREATE TABLE k_clicks (user_id INT, url STRING, ts TIMESTAMP(3)) WITH (
        |'connector' = 'kafka', 'topic' = 'clicks',
        |'properties.bootstrap.servers' = 'broker:9092',
        |'format' = 'json', 'scan.startup.mode' = 'earliest-offset')""".stripMargin)
    // DDL succeeded; the SELECT must reach the kafka reader builder and
    // fail asynchronously (no connector jar in this image), not at DDL time
    val h = session.execute("SELECT * FROM k_clicks")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 20000
    while (info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(info.status == OpStatus.Error)
    assert(info.error.exists(e =>
      Option(e.getMessage).exists(_.toLowerCase.contains("kafka"))),
      s"error should name the kafka source, got ${info.error.map(_.getMessage)}")
  }

  // ------------------------------------------- jdbc builder path (no driver)
  test("jdbc table: option mapping + SELECT reaches the reader, errors at load") {
    assert(graft.sources.Jdbc.sparkOptions(Map(
      "connector" -> "jdbc",
      "url" -> "jdbc:postgresql://db:5432/app",
      "table-name" -> "users",
      "username" -> "u", "password" -> "p",
      "driver" -> "org.postgresql.Driver",
      "scan.partition.column" -> "id", "scan.partition.num" -> "8",
      "scan.partition.lower-bound" -> "0", "scan.partition.upper-bound" -> "1000000"
    )) == Map(
      "url" -> "jdbc:postgresql://db:5432/app", "dbtable" -> "users",
      "user" -> "u", "password" -> "p", "driver" -> "org.postgresql.Driver",
      "partitionColumn" -> "id", "numPartitions" -> "8",
      "lowerBound" -> "0", "upperBound" -> "1000000"))

    session.executeSync(
      """CREATE TABLE j_users (id INT, name STRING) WITH (
        |'connector' = 'jdbc', 'url' = 'jdbc:postgresql://unreachable:5432/app',
        |'table-name' = 'users', 'driver' = 'org.postgresql.Driver')""".stripMargin)
    val h = session.execute("SELECT * FROM j_users")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 20000
    while (info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(info.status == OpStatus.Error)
    // the postgres driver jar is absent here: the driver-lookup failure is
    // the expected async error, raised inside the operation not at DDL time
    assert(info.error.isDefined)
  }

  // ---------------------------------------- iceberg catalog conf shim smoke
  test("iceberg CREATE CATALOG maps to spark.sql.catalog.* conf") {
    session.executeSync(
      """CREATE CATALOG ice WITH (
        |'type' = 'iceberg',
        |'catalog-impl' = 'org.apache.iceberg.spark.SparkCatalog',
        |'warehouse' = 's3://bucket/wh',
        |'io-impl' = 'org.apache.iceberg.aws.s3.S3FileIO')""".stripMargin)
    assert(spark.conf.get("spark.sql.catalog.ice") ==
      "org.apache.iceberg.spark.SparkCatalog")
    assert(spark.conf.get("spark.sql.catalog.ice.warehouse") == "s3://bucket/wh")
    assert(spark.conf.get("spark.sql.catalog.ice.io-impl") ==
      "org.apache.iceberg.aws.s3.S3FileIO")
  }

  // ----------------------------- CDC end-to-end via file-backed Debezium JSON
  test("cdc table: Debezium changelog merges into the store with upsert/delete kinds") {
    val dir = tempDir("graft-cdc")
    // two files = two micro-batches (fileStream replays one file per
    // trigger, oldest-first): the delete in file b must tombstone a key
    // INSERTED by file a — batch-local compaction would swallow it
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"before":null,"after":{"id":1,"name":"ada"},"op":"c","ts_ms":100}
        |{"before":null,"after":{"id":2,"name":"bob"},"op":"c","ts_ms":101}
        |""".stripMargin)
    Thread.sleep(1100) // distinct mtime second → deterministic replay order
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"before":{"id":1,"name":"ada"},"after":{"id":1,"name":"ada2"},"op":"u","ts_ms":102}
        |{"before":{"id":2,"name":"bob"},"after":null,"op":"d","ts_ms":103}
        |{"before":null,"after":{"id":3,"name":"eve"},"op":"r","ts_ms":104}
        |""".stripMargin)
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE cdc_users (id INT, name STRING,
         |  PRIMARY KEY (id) NOT ENFORCED) WITH (
         |'connector' = 'postgres-cdc', 'hostname' = 'unreachable',
         |'debezium.json.path' = '$dir')""".stripMargin)
    val h = session.execute("SELECT * FROM cdc_users")
    val info = session.ops.get(h).get
    val expected = Set(Seq(1, "ada2"), Seq(3, "eve"))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    val store = info.store.get
    // converged view: id=1 updated, id=2 deleted, id=3 snapshot-read
    assert(store.snapshot().toSet == expected, s"got ${store.snapshot()}")
    // changelog kinds visible to the paging client: the cross-batch update
    // arrives as UpdateAfter, the delete survives as a Delete-kind row
    // (Flink retraction parity)
    val kinds = drain(h, maxPages = 3).map(_.kind).toSet
    assert(kinds.contains(RowKind.Delete), s"kinds: $kinds")
    assert(kinds.contains(RowKind.UpdateAfter), s"kinds: $kinds")
    session.ops.cancel(h)
  }

  test("cdc table: GROUP BY transformation converges to the compacted answer") {
    val dir = tempDir("graft-cdc-tx")
    // batch 1 puts a key into group 'north'; batch 2 deletes it — the
    // group's row must LEAVE the client-visible result (keyed Delete), not
    // linger at a stale count
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"before":null,"after":{"id":1,"region":"east"},"op":"c","ts_ms":100}
        |{"before":null,"after":{"id":2,"region":"north"},"op":"c","ts_ms":101}
        |""".stripMargin)
    Thread.sleep(1100) // distinct mtime second → deterministic replay order
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"before":{"id":2,"region":"north"},"after":null,"op":"d","ts_ms":102}
        |{"before":null,"after":{"id":3,"region":"east"},"op":"c","ts_ms":103}
        |{"before":null,"after":{"id":4,"region":"west"},"op":"r","ts_ms":104}
        |""".stripMargin)
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE cdc_accounts (id INT, region STRING,
         |  PRIMARY KEY (id) NOT ENFORCED) WITH (
         |'connector' = 'postgres-cdc', 'hostname' = 'unreachable',
         |'debezium.json.path' = '$dir')""".stripMargin)
    val h = session.execute(
      "SELECT region, COUNT(*) AS n FROM cdc_accounts GROUP BY region")
    val info = session.ops.get(h).get
    // final snapshot {1:east, 3:east, 4:west} → east=2, west=1, north GONE
    val expected = Set(Seq("east", 2L), Seq("west", 1L))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
    // a later BATCH query over the cdc table must see the fully compacted
    // changelog — not the transform's frozen per-batch snapshot view
    session.executeSync("SET 'execution.runtime-mode' = 'batch'")
    val batch = session.executeSync(
      "SELECT region, COUNT(*) AS n FROM cdc_accounts GROUP BY region")
    assert(batch.store.get.snapshot().toSet == expected,
      s"batch compaction got ${batch.store.get.snapshot()}")
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
  }

  test("cdc transform: out-of-order change in a later batch loses (timestamp-wins)") {
    val dir = tempDir("graft-cdc-ooo")
    // batch 2 carries a change to id=1 whose ts_ms is OLDER than the value
    // folded in batch 1: the snapshot must keep 'new' — timestamp-wins,
    // agreeing with the batch compaction path over the same directory
    // (arrival-order-wins would flip id=1 to 'stale')
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"before":null,"after":{"id":1,"v":"new"},"op":"c","ts_ms":200}
        |""".stripMargin)
    Thread.sleep(1100) // distinct mtime second → deterministic replay order
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"before":null,"after":{"id":1,"v":"stale"},"op":"u","ts_ms":150}
        |{"before":null,"after":{"id":2,"v":"other"},"op":"c","ts_ms":201}
        |""".stripMargin)
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE cdc_ooo (id INT, v STRING,
         |  PRIMARY KEY (id) NOT ENFORCED) WITH (
         |'connector' = 'postgres-cdc', 'hostname' = 'unreachable',
         |'debezium.json.path' = '$dir')""".stripMargin)
    // a projection (not SELECT *) → the transform path's incremental fold
    val h = session.execute("SELECT id, v FROM cdc_ooo WHERE id > 0")
    val info = session.ops.get(h).get
    val expected = Set(Seq(1, "new"), Seq(2, "other"))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
    // the batch path over the same directory picks the same winners
    session.executeSync("SET 'execution.runtime-mode' = 'batch'")
    val batch = session.executeSync("SELECT id, v FROM cdc_ooo WHERE id > 0")
    assert(batch.store.get.snapshot().toSet == expected,
      s"batch compaction got ${batch.store.get.snapshot()}")
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
  }

  test("cdc transform: delete's ordinal shadows an older out-of-order change") {
    val dir = tempDir("graft-cdc-ooo-del")
    // batch 1 deletes id=1 at ts 300; batch 2 replays an OLDER change (ts
    // 250) to the same key — the tombstone must keep shadowing it (the key
    // stays gone), matching the whole-directory batch compaction
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"before":null,"after":{"id":1,"v":"x"},"op":"c","ts_ms":100}
        |{"before":{"id":1,"v":"x"},"after":null,"op":"d","ts_ms":300}
        |{"before":null,"after":{"id":2,"v":"keep"},"op":"c","ts_ms":101}
        |""".stripMargin)
    Thread.sleep(1100)
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"before":null,"after":{"id":1,"v":"zombie"},"op":"u","ts_ms":250}
        |{"before":null,"after":{"id":3,"v":"later"},"op":"c","ts_ms":301}
        |""".stripMargin)
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE cdc_ooo_del (id INT, v STRING,
         |  PRIMARY KEY (id) NOT ENFORCED) WITH (
         |'connector' = 'postgres-cdc', 'hostname' = 'unreachable',
         |'debezium.json.path' = '$dir')""".stripMargin)
    val h = session.execute("SELECT id, v FROM cdc_ooo_del WHERE id > 0")
    val info = session.ops.get(h).get
    val expected = Set(Seq(2, "keep"), Seq(3, "later"))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
  }

  test("SQL streaming top-N: ROW_NUMBER <= k over a monitored directory converges") {
    val dir = tempDir("graft-topn").toString
    // two files = two micro-batches (the monitored dir must contain BARE
    // parquet files — the file stream source doesn't recurse into the
    // subdirectories df.write creates, so write elsewhere and move the part
    // file in). Distinct scores so ROW_NUMBER is deterministic; the global
    // top-2 per group spans BOTH files — a batch-local rank would get it
    // wrong.
    def addFile(rows: Seq[(Int, String, Int)], name: String): Unit = {
      val tmp = tempDir("graft-topn-w").toString
      spark.createDataFrame(rows).toDF("id", "grp", "score")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, name))
    }
    addFile(Seq((1, "a", 10), (2, "a", 30), (3, "b", 50)), "f1.parquet")
    addFile(Seq((4, "a", 20), (5, "b", 40), (6, "b", 45)), "f2.parquet")
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE scores_stream (id INT, grp STRING, score INT) WITH (
         |'connector' = 'filesystem', 'path' = '$dir',
         |'format' = 'parquet', 'source.monitor-interval' = '1s')""".stripMargin)
    val h = session.execute(
      """SELECT grp, score, rn FROM (
        |  SELECT grp, score,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY score DESC) AS rn
        |  FROM scores_stream
        |) WHERE rn <= 2""".stripMargin)
    val info = session.ops.get(h).get
    // all 6 rows: a → 30, 20; b → 50, 45
    val expected = Set(
      Seq("a", 30, 1), Seq("a", 20, 2), Seq("b", 50, 1), Seq("b", 45, 2))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
    // the top-N accumulator re-pointed the table's temp view at its frozen
    // k-row state; a later BATCH scan must read the directory's real
    // contents again
    session.executeSync("SET 'execution.runtime-mode' = 'batch'")
    val scan = session.executeSync("SELECT COUNT(*) AS n FROM scores_stream")
    assert(scan.store.get.snapshot() == Seq(Seq(6L)),
      s"batch rescan got ${scan.store.get.snapshot()}")
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
  }

  test("monitored directory: plain streaming aggregate works (view not clobbered)") {
    // regression: materializeBounded's unconditional filesystem
    // re-registration must not replace the streaming view runStreaming just
    // registered (that made writeStream throw 'not a streaming Dataset')
    val dir = tempDir("graft-mon").toString
    val tmp = tempDir("graft-mon-w").toString
    spark.createDataFrame(Seq((1, "a"), (2, "a"), (3, "b"))).toDF("id", "grp")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, "f1.parquet"))
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE mon_events (id INT, grp STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$dir',
         |'format' = 'parquet', 'source.monitor-interval' = '1s')""".stripMargin)
    val h = session.execute("SELECT grp, COUNT(*) AS n FROM mon_events GROUP BY grp")
    val info = session.ops.get(h).get
    val expected = Set(Seq("a", 2L), Seq("b", 1L))
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
  }

  test("streaming curation: graft_* SQL functions over a monitored document stream") {
    // the curation surface (language-ID, quality scoring) must work on a
    // stream a notebook user declares with plain SQL — stateless column
    // expressions run per micro-batch in append mode, converging to the
    // same rows a batch scan of all files would produce
    val dir = tempDir("graft-cur").toString
    def addFile(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = tempDir("graft-cur-w").toString
      spark.createDataFrame(rows).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, name))
    }
    val texts = Seq(
      1L -> "the cat is on the mat and it is fine",
      2L -> "der hund und die katze das ist gut",
      3L -> "le chat et la tour est les bons",
      4L -> "zzz qqq xxx")
    addFile(texts.take(2), "f1.parquet")
    addFile(texts.drop(2), "f2.parquet")
    // expected rows from the Column API on the same texts — SQL through the
    // engine must match the library surface exactly
    import graft.functions.TextFunctions
    val expected = spark.createDataFrame(texts).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(_.toSeq).toSet
    assert(expected.map(_(1)) == Set("en", "de", "fr", "und"))
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE doc_stream (doc_id BIGINT, text STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$dir',
         |'format' = 'parquet', 'source.monitor-interval' = '1s')""".stripMargin)
    val h = session.execute(
      "SELECT doc_id, graft_langid(text) AS lang, graft_quality(text) AS q FROM doc_stream")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 30000
    while (!info.store.exists(_.snapshot().toSet == expected) &&
      info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    info.error.foreach(throw _)
    assert(info.store.get.snapshot().toSet == expected,
      s"got ${info.store.get.snapshot()}")
    session.ops.cancel(h)
  }

  test("cdc table: mixing with another unbounded source surfaces a clear error") {
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      """CREATE TABLE cdc_limits (id INT, v STRING,
        |  PRIMARY KEY (id) NOT ENFORCED) WITH (
        |'connector' = 'mysql-cdc', 'debezium.json.path' = '/tmp/none')""".stripMargin)
    session.executeSync(
      """CREATE TABLE gen_clicks (id INT) WITH (
        |'connector' = 'datagen', 'rows-per-second' = '1')""".stripMargin)
    val h = session.execute(
      "SELECT * FROM cdc_limits JOIN gen_clicks ON cdc_limits.id = gen_clicks.id")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 20000
    while (info.status != OpStatus.Error && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(info.status == OpStatus.Error)
    assert(info.error.exists(_.getMessage.contains("mixing a CDC table")))
  }

  // ------------------------------------ filesystem sink: INSERT INTO/OVERWRITE
  test("filesystem connector: INSERT INTO appends, INSERT OVERWRITE replaces") {
    val path = tempDir("graft-fs").toString
    session.executeSync(
      s"""CREATE TABLE fs_sink (id INT, name STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$path', 'format' = 'parquet')""".stripMargin)
    // seed the path so the read view has files, then check append semantics
    session.executeSync("INSERT INTO fs_sink SELECT 1 AS id, 'a' AS name")
    session.executeSync("INSERT INTO fs_sink SELECT 2 AS id, 'b' AS name")
    val afterAppend = drain(session.executeSync("SELECT * FROM fs_sink").handle)
    assert(afterAppend.size == 2)
    session.executeSync("INSERT OVERWRITE fs_sink SELECT 9 AS id, 'z' AS name")
    val afterOverwrite = drain(session.executeSync("SELECT * FROM fs_sink").handle)
    assert(afterOverwrite.map(_.fields) == Seq(Seq(9, "z")))
    session.executeSync("DROP TABLE fs_sink")
  }

  test("filesystem connector: CREATE on a missing path reads empty until the first INSERT") {
    val path = tempDir("graft-fs-new").toString +
      "/not_yet_written"
    session.executeSync(
      s"""CREATE TABLE fs_new (id INT, name STRING) WITH (
         |'connector' = 'filesystem', 'path' = '$path', 'format' = 'parquet')""".stripMargin)
    def count(): Any =
      drain(session.executeSync("SELECT COUNT(*) FROM fs_new").handle).head.fields.head
    assert(count() == 0L)
    session.executeSync(
      "INSERT INTO fs_new SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(id, name)")
    assert(count() == 3L)
    session.executeSync("DROP TABLE fs_new")
  }

  // ------------------------------------------- statement sets + sessions
  test("EXECUTE STATEMENT SET runs contained inserts sequentially") {
    val path = tempDir("graft-ss").toString
    session.executeSync(
      s"""CREATE TABLE ss_sink (id INT) WITH (
         |'connector' = 'filesystem', 'path' = '$path', 'format' = 'parquet')""".stripMargin)
    session.executeSync(
      """EXECUTE STATEMENT SET BEGIN
        |INSERT INTO ss_sink SELECT 1 AS id;
        |INSERT INTO ss_sink SELECT 2 AS id;
        |END""".stripMargin)
    val rows = drain(session.executeSync("SELECT * FROM ss_sink").handle)
    assert(rows.map(_.fields.head).toSet == Set(1, 2))
    session.executeSync("DROP TABLE ss_sink")
  }

  test("SessionManager isolates conf and temp views per notebook") {
    val mgr = new SessionManager(spark)
    val a = mgr.getOrCreate("nb-a", Map("execution.runtime-mode" -> "batch"))
    val b = mgr.getOrCreate("nb-b")
    assert(a.executionMode == "batch" && b.executionMode == "streaming")
    a.executeSync(
      """CREATE TABLE only_in_a (x INT) WITH (
        |'connector' = 'datagen', 'number-of-rows' = '3')""".stripMargin)
    assert(a.spark.catalog.tableExists("only_in_a"))
    assert(!b.spark.catalog.tableExists("only_in_a"))
    // same underlying SparkContext
    assert(a.spark.sparkContext eq b.spark.sparkContext)
    mgr.closeAll()
  }

  test("ADD JAR in one session: the tasks of every session, open or opened later, load its class") {
    val dir = tempDir("graft-jar")
    val cls = "GraftAddJarProbe"
    val src = dir.resolve(s"$cls.java")
    java.nio.file.Files.writeString(src, s"public class $cls {}")
    assert(javax.tools.ToolProvider.getSystemJavaCompiler
      .run(null, null, null, "-d", dir.toString, src.toString) == 0)
    val jar = dir.resolve("graft-probe.jar")
    val out = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
    try {
      out.putNextEntry(new java.util.jar.JarEntry(s"$cls.class"))
      out.write(java.nio.file.Files.readAllBytes(dir.resolve(s"$cls.class")))
      out.closeEntry()
    } finally out.close()

    val mgr = new SessionManager(spark)
    try {
      val a = mgr.getOrCreate("nb-jar-a")
      val b = mgr.getOrCreate("nb-jar-b")
      a.executeSync(s"ADD JAR '$jar'")
      val c = mgr.getOrCreate("nb-jar-c")
      for (list <- Seq("LIST JARS", "SHOW JARS")) {
        val listed = b.ops.fetch(b.executeSync(list).handle, 0).rows.map(_.fields.head.toString)
        assert(listed.exists(_.endsWith("graft-probe.jar")), s"$list in B: $listed")
      }
      for ((name, es) <- Seq("A" -> a, "B" -> b, "C" -> c))
        assert(EngineSpec.tasksLoad(es.spark, cls), s"the tasks of session $name cannot load $cls")
    } finally mgr.closeAll()
  }

  test("skew-salted join equals plain join") {
    import graft.operators.Salting
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"), col("l_linenumber"))
    val dim = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"))
    val plain = li.join(dim, Seq("k")).count()
    val salted = Salting.skewSaltedJoin(li, dim, "k", 8, col("l_linenumber")).count()
    assert(plain == salted)
  }

  test("streaming INSERT INTO filesystem table writes continuously until canceled") {
    val path = tempDir("graft-si").toString
    session.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    session.executeSync(
      s"""CREATE TABLE si_sink (v BIGINT, ts TIMESTAMP(3)) WITH (
         |'connector' = 'filesystem', 'path' = '$path', 'format' = 'parquet')""".stripMargin)
    session.executeSync(
      """CREATE TABLE si_src (v BIGINT, ts TIMESTAMP(3)) WITH (
        |'connector' = 'datagen', 'rows-per-second' = '100',
        |'fields.v.min' = '0', 'fields.v.max' = '9')""".stripMargin)
    val h = session.execute("INSERT INTO si_sink SELECT v, ts FROM si_src")
    val info = session.ops.get(h).get
    val deadline = System.currentTimeMillis() + 30000
    def written(): Long =
      try spark.read.parquet(path).count() catch { case _: Throwable => 0L }
    while (written() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(500)
    assert(written() > 0, "streaming insert should land files")
    assert(info.isStreaming && info.status == OpStatus.Running)
    session.ops.cancel(h)
    val d2 = System.currentTimeMillis() + 10000
    while (info.streamingQuery.exists(_.isActive) && System.currentTimeMillis() < d2)
      Thread.sleep(200)
    assert(!info.streamingQuery.exists(_.isActive))
    session.executeSync("DROP TABLE si_sink")
    session.executeSync("DROP TABLE si_src")
  }

  // ------------------------------------------- the one streaming lifecycle
  /** A fresh child session, so `spark.streams.active` holds only the
    * queries of the test that owns it. */
  private def withStreamingSession(body: EngineSession => Unit): Unit = {
    val es = new EngineSession(spark.newSession())
    try {
      es.executeSync("SET 'execution.runtime-mode' = 'streaming'")
      es.executeSync(
        """CREATE TABLE life_src (g INT, v INT) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '50',
          |'fields.g.min' = '1', 'fields.g.max' = '3',
          |'fields.v.min' = '1', 'fields.v.max' = '1000')""".stripMargin)
      body(es)
    } finally es.close()
  }

  private def awaitTrue(what: String, deadlineMs: Long = 30000)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
    assert(cond, what)
  }

  /** Waits until the statement's query has committed a micro-batch. */
  private def awaitCommitted(es: EngineSession, h: OperationHandle): OperationInfo = {
    val info = es.ops.get(h).get
    awaitTrue(s"'${info.statement}' should commit a micro-batch") {
      info.error.foreach(throw _)
      info.streamingQuery.exists(_.lastProgress != null)
    }
    info
  }

  test("a cancel that lands during stream setup stops the stream once it starts") {
    // a round counts only if the cancel found no query to stop: the query
    // is published only once, so one still unpublished after `cancel`
    // returns was unpublished when `cancel` looked for it
    var landed = 0
    var round = 0
    withStreamingSession { es =>
      while (landed < 10 && round < 30) {
        round += 1
        val h = es.execute("SELECT g, COUNT(*) AS n FROM life_src GROUP BY g")
        val info = es.ops.get(h).get
        val end = System.nanoTime() + 30e9.toLong
        while (info.status == OpStatus.Pending && System.nanoTime() < end) Thread.onSpinWait()
        assert(info.status == OpStatus.Running, s"round $round: the statement should start")
        es.ops.cancel(h)
        if (info.streamingQuery.isEmpty) landed += 1
        // setup goes on after the cancel: the query still starts, and must
        // then stop on its own
        awaitTrue(s"round $round: the query should be published")(info.streamingQuery.nonEmpty)
        awaitTrue(s"round $round: the stream kept running after its cancel") {
          es.spark.streams.active.isEmpty
        }
        assert(info.status == OpStatus.Canceled)
      }
    }
    info(s"$landed of $round cancels landed during setup")
    assert(landed >= 5, s"only $landed of $round cancels landed during setup")
  }

  test("streaming statements leave no temporary checkpoint directory behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpointDirs(): Set[String] = tmp.list().toSet
      .filter(n => n.startsWith("graft-ck") || n.startsWith("temporary-"))
    val cdcDir = tempDir("graft-cdc-life")
    java.nio.file.Files.writeString(cdcDir.resolve("a.json"),
      """{"before":null,"after":{"id":1,"region":"east"},"op":"c","ts_ms":100}
        |{"before":null,"after":{"id":2,"region":"north"},"op":"c","ts_ms":101}
        |""".stripMargin)
    val sinkDir = tempDir("graft-si-life")
    withStreamingSession { es =>
      es.executeSync(
        s"""CREATE TABLE life_cdc (id INT, region STRING,
           |  PRIMARY KEY (id) NOT ENFORCED) WITH (
           |'connector' = 'postgres-cdc', 'debezium.json.path' = '$cdcDir')""".stripMargin)
      es.executeSync(
        s"""CREATE TABLE life_sink (g INT, v INT) WITH (
           |'connector' = 'filesystem', 'path' = '$sinkDir', 'format' = 'parquet')""".stripMargin)
      Seq(
        "top-N" -> """SELECT g, v, rn FROM (
          |  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn
          |  FROM life_src) WHERE rn <= 2""".stripMargin,
        "CDC scan" -> "SELECT * FROM life_cdc",
        "CDC transform" -> "SELECT region, COUNT(*) AS n FROM life_cdc GROUP BY region",
        "streaming INSERT" -> "INSERT INTO life_sink SELECT g, v FROM life_src",
        "plain streaming" -> "SELECT g, COUNT(*) AS n FROM life_src GROUP BY g"
      ).foreach { case (kind, sql) =>
        val before = checkpointDirs()
        val h = es.execute(sql)
        awaitCommitted(es, h)
        es.ops.cancel(h)
        awaitTrue(s"$kind left ${checkpointDirs() -- before} behind", 15000) {
          (checkpointDirs() -- before).isEmpty
        }
      }
    }
  }

  test("closing a session leaves none of its temporary checkpoint directories behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpointDirs(): Set[String] = tmp.list().toSet.filter(_.startsWith("graft-ck"))
    val before = checkpointDirs()
    val sinkDir = tempDir("graft-si-close")
    withStreamingSession { es =>
      es.executeSync(
        """CREATE TABLE close_clicks (page_id INT, ts TIMESTAMP(3),
          |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '50',
          |'fields.page_id.min' = '1', 'fields.page_id.max' = '5')""".stripMargin)
      es.executeSync(
        s"""CREATE TABLE close_sink (g INT, v INT) WITH (
           |'connector' = 'filesystem', 'path' = '$sinkDir', 'format' = 'parquet')""".stripMargin)
      Seq(
        """SELECT g, v, rn FROM (
          |  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn
          |  FROM life_src) WHERE rn <= 2""".stripMargin,
        """SELECT TUMBLE_START(ts, INTERVAL '2' SECOND) AS w_start, COUNT(*) AS n
          |FROM close_clicks GROUP BY TUMBLE(ts, INTERVAL '2' SECOND)""".stripMargin,
        "INSERT INTO close_sink SELECT g, v FROM life_src"
      ).map(es.execute).foreach(awaitCommitted(es, _))
      assert((checkpointDirs() -- before).size == 3, "each stream has its own checkpoint")
    } // closes the session with all three streams running
    awaitTrue(s"the closed session left ${checkpointDirs() -- before} behind", 15000) {
      (checkpointDirs() -- before).isEmpty
    }
  }

  test("SET 'execution.checkpointing.dir' checkpoints each stream under <dir>/<operation id>") {
    val dir = tempDir("graft-setdir")
    withStreamingSession { es =>
      es.executeSync(s"SET 'execution.checkpointing.dir' = '$dir'")
      val h = es.execute("SELECT g, COUNT(*) AS n FROM life_src GROUP BY g")
      awaitCommitted(es, h)
      val commits = dir.resolve(h.id).resolve("commits").toFile
      awaitTrue(s"$commits should hold a committed batch") {
        Option(commits.list()).exists(_.nonEmpty)
      }
      es.ops.cancel(h)
    }
  }

  test("DROP TABLE: a missing table errors by name, IF EXISTS finishes") {
    val h = session.execute("DROP TABLE no_such_table")
    val err = intercept[IllegalArgumentException](session.awaitFinished(h))
    assert(session.ops.status(h) == OpStatus.Error)
    assert(err.getMessage.contains("no_such_table"), err.getMessage)
    assert(session.executeSync("DROP TABLE IF EXISTS no_such_table").status ==
      OpStatus.Finished)
  }

  test("kafka JSON shape: serialize -> parse round-trips the declared schema") {
    import graft.sources.KafkaJson
    import spark.implicits._
    val schema = FlinkDdl.parse(
      """CREATE TABLE user_behavior (
        |  user_id BIGINT, item_id BIGINT, behavior STRING
        |) WITH ('connector' = 'kafka', 'format' = 'json')""".stripMargin).schema
    val rows = Seq((1L, 10L, "click"), (2L, 20L, "buy"))
      .toDF("user_id", "item_id", "behavior")
    val frames = KafkaJson.serialize(rows, "user_id")
    assert(frames.schema.fieldNames.toSeq == Seq("key", "value"))
    val back = KafkaJson.parse(frames, schema)
    assert(back.schema == schema)
    assert(back.collect().map(_.toSeq).toSet == rows.collect().map(_.toSeq).toSet)
  }

  test("CREATE DATABASE / USE / SHOW DATABASES pass through natively") {
    session.executeSync("CREATE DATABASE IF NOT EXISTS graft_db")
    val dbs = drain(session.executeSync("SHOW DATABASES").handle)
    assert(dbs.exists(_.fields.head == "graft_db"))
    session.executeSync("USE graft_db")
    assert(spark.catalog.currentDatabase == "graft_db")
    session.executeSync("USE default")
    session.executeSync("DROP DATABASE graft_db")
  }

  // --------------------------------------------------- DDL parser coverage
  test("DDL parser: kafka/cdc/filesystem shapes (FIXTURES A5)") {
    val kafka = FlinkDdl.parse(
      """CREATE TABLE user_behavior (
        |  user_id BIGINT, item_id BIGINT, behavior STRING, ts TIMESTAMP(3)
        |) WITH ('connector' = 'kafka', 'topic' = 'user_behavior',
        |  'properties.bootstrap.servers' = 'localhost:9092', 'format' = 'json')""".stripMargin)
    assert(kafka.schema == StructType(Seq(
      StructField("user_id", LongType), StructField("item_id", LongType),
      StructField("behavior", StringType), StructField("ts", TimestampType))))
    assert(kafka.connector == "kafka" && !kafka.isBounded)

    val cdc = FlinkDdl.parse(
      """CREATE TABLE users_cdc (id INT, name STRING,
        |  PRIMARY KEY (id) NOT ENFORCED
        |) WITH ('connector' = 'postgres-cdc', 'hostname' = 'localhost')""".stripMargin)
    assert(cdc.primaryKey == Seq("id"))

    val wm = FlinkDdl.parse(
      """CREATE TABLE t (event_time TIMESTAMP(3),
        |  WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND
        |) WITH ('connector' = 'datagen')""".stripMargin)
    assert(wm.watermark.contains(WatermarkSpec("event_time", "5 seconds")))

    // Flink's zero-delay watermark: bounded out-of-orderness 0
    val wm0 = FlinkDdl.parse(
      "CREATE TABLE t0 (ts TIMESTAMP(3), WATERMARK FOR ts AS ts) WITH ('connector' = 'datagen')")
    assert(wm0.watermark.contains(WatermarkSpec("ts", "0 seconds")))

    // '' inside a quoted value reads as ', in WITH (…) and in SET
    val quoted = FlinkDdl.parse(
      "CREATE TABLE q (a INT) WITH ('connector' = 'filesystem', 'path' = '/tmp/it''s')")
    assert(quoted.options("path") == "/tmp/it's")
    assert(DialectShim.route("SET 'pipeline.name' = 'it''s'") ==
      DialectShim.SetConf("pipeline.name", "it's"))

    // an option entry that is not 'k' = 'v' fails by name, not dropped
    val unquoted = intercept[IllegalArgumentException](FlinkDdl.parse(
      "CREATE TABLE u (a INT) WITH ('connector' = 'datagen', 'number-of-rows' = 10)"))
    assert(unquoted.getMessage.contains("'number-of-rows' = 10"), unquoted.getMessage)
  }

  test("DDL parser covers the reference renderer's full type envelope") {
    // tableRendererScript.ts:62-81 — every type the reference UI renders
    val spec = FlinkDdl.parse(
      """CREATE TABLE all_types (
        | a VARCHAR(10), b CHAR(2), c INTEGER, d BIGINT, e DOUBLE, f FLOAT,
        | g DECIMAL(5,2), h DECIMAL, i BOOLEAN, j TIMESTAMP(3),
        | k TIMESTAMP_LTZ(3), l DATE, m TIME(0), n BINARY(4), o VARBINARY(8),
        | p BYTES, q SMALLINT, r TINYINT
        |) WITH ('connector' = 'datagen')""".stripMargin)
    val m = spec.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(m("a") == StringType && m("b") == StringType)
    assert(m("c") == IntegerType && m("d") == LongType)
    assert(m("e") == DoubleType && m("f") == FloatType)
    assert(m("g") == DecimalType(5, 2) && m("h") == DecimalType(10, 0))
    assert(m("i") == BooleanType)
    assert(m("j") == TimestampType && m("k") == TimestampType)
    assert(m("l") == DateType && m("m") == IntegerType) // TIME → millis-of-day
    assert(m("n") == BinaryType && m("o") == BinaryType && m("p") == BinaryType)
    assert(m("q") == ShortType && m("r") == ByteType)
  }

  test("DDL parser: quoted comments are opaque, stray angle brackets reject") {
    // a COMMENT containing < > and commas must not mis-nest the column split
    val spec = FlinkDdl.parse(
      """CREATE TABLE commented (
        | a INT COMMENT 'threshold a < b, or a > b',
        | b ROW<x INT, y STRING>
        |) WITH ('connector' = 'datagen')""".stripMargin)
    assert(spec.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(spec.schema("b").dataType.isInstanceOf[StructType])
    // a comparison OUTSIDE a string (future computed column) errors clearly
    // instead of silently mis-splitting the remaining columns
    val e = intercept[IllegalArgumentException] {
      FlinkDdl.parse(
        "CREATE TABLE bad (a INT, c AS a < 3) WITH ('connector' = 'datagen')")
    }
    assert(e.getMessage.contains("computed columns"))
    val computed = intercept[IllegalArgumentException] {
      FlinkDdl.parse("CREATE TABLE bad (a INT, b AS a + 1) WITH ('connector' = 'datagen')")
    }
    assert(computed.getMessage.contains("computed columns") &&
      computed.getMessage.contains("column b"), computed.getMessage)
  }

  test("datagen MAP fields honor the length option with distinct keys") {
    session.executeSync(
      """CREATE TABLE map_gen (
        | id INT,
        | tags MAP<STRING, INT>,
        | counts MAP<INT, BIGINT>
        |) WITH ('connector' = 'datagen', 'number-of-rows' = '50',
        | 'fields.tags.length' = '4', 'fields.counts.length' = '5',
        | 'fields.counts.min' = '0', 'fields.counts.max' = '9')""".stripMargin)
    val h = session.execute(
      "SELECT MIN(size(tags)) AS t, MIN(size(counts)) AS c FROM map_gen")
    val info = session.awaitFinished(h)
    val row = info.store.get.snapshot().head
    assert(row == Seq(4, 5), s"got $row")
  }

  test("dialect rewrites: HOP arg order flips, SESSION maps to session_window") {
    val hop = DialectShim.rewriteGroupWindows(
      "SELECT HOP_START(ts, INTERVAL '1' MINUTE, INTERVAL '2' MINUTE), COUNT(*) " +
        "FROM t GROUP BY HOP(ts, INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)")
    assert(hop.contains("window(ts, '2 minutes', '1 minutes')"))
    assert(hop.contains("window.start"))
    val sess = DialectShim.rewriteGroupWindows(
      "SELECT SESSION_START(ts, INTERVAL '30' SECOND) FROM t " +
        "GROUP BY SESSION(ts, INTERVAL '30' SECOND)")
    assert(sess.contains("session_window(ts, '30 seconds')"))
    assert(sess.contains("session_window.start"))
    // only the whole word followed by `(` is a window call; strings stay
    val untouched = "SELECT MY_TUMBLE(ts, INTERVAL '1' MINUTE), " +
      "\"TUMBLE(ts, INTERVAL '1' MINUTE)\" FROM t"
    assert(DialectShim.rewriteGroupWindows(untouched) == untouched)
  }

  test("dialect hostile-input bound: routing is linear, malformed input fails by offset") {
    def seconds(sql: String): Double = {
      val t0 = System.nanoTime
      DialectShim.route(sql)
      (System.nanoTime - t0) / 1e9
    }
    // the shape a greedy `\((.*)\)\s*WITH\s*\((.*)\)` backtracks on: 128 KB
    val create = (n: Int) => "CREATE TABLE t (a INT" + ") WITH (" * n
    val literal = "SELECT '" + "x" * 400000 + "'"
    for (sql <- Seq(create(16000), literal)) {
      val s = seconds(sql)
      assert(s <= 1.0, f"${sql.take(20)}… (${sql.length / 1024} KB) routed in $s%.2f s")
    }
    assert(DialectShim.route(literal) == DialectShim.Passthrough(literal))
    // doubling the input at most about doubles the time (best of 5 each)
    val (small, large) = (create(16000), create(32000))
    val (t1, t2) = (Seq.fill(5)(seconds(small)).min, Seq.fill(5)(seconds(large)).min)
    assert(t2 <= 2.5 * t1 + 0.005, f"128 KB: $t1%.4f s, 256 KB: $t2%.4f s")

    val stderr = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(stderr))
    try for ((bad, at) <- Seq("SELECT 'it''s" -> 11, "SELECT `c;d" -> 7, "SELECT 1 /* open" -> 9,
        "CREATE TABLE t (a INT) WITH ('k' = 'v)" -> 35,
        "CREATE TABLE t (a INT) WITH ('path' = 'C:\\dir\\')" -> 38)) {
      val e = intercept[IllegalArgumentException](DialectShim.route(bad))
      assert(e.getMessage.contains(s"offset $at"), s"$bad: ${e.getMessage}")
      // a Flink literal ending in a backslash: the message says why it is unclosed
      assert(e.getMessage.contains("backslash") == bad.contains('\\'), e.getMessage)
    } finally System.setErr(old)
    assert(stderr.size == 0, stderr.toString)
  }

  // ------------------------------------------------- result store protocol
  test("result store: token paging, idempotent refetch, upsert, cap") {
    val rs = new ResultStore(Seq("a"), pageSize = 10, maxRows = 25)
    (1 to 23).foreach(i => rs.append(Seq(i)))
    val p0 = rs.fetch(0)
    assert(p0.resultType == "PAYLOAD" && p0.rows.size == 10 && p0.nextToken.contains(1L))
    assert(rs.fetch(0).rows == p0.rows, "same-token refetch must be idempotent")
    val p1 = rs.fetch(1)
    assert(p1.rows.size == 10)
    val p2 = rs.fetch(2)
    assert(p2.resultType == "PAYLOAD" && p2.rows.size == 3, "not EOS until marked")
    rs.markEos()
    assert(rs.fetch(2).resultType == "EOS")
    // cap: appends beyond maxRows are dropped
    (1 to 10).foreach(i => rs.append(Seq(100 + i)))
    assert(rs.size == 25)

    val us = new ResultStore(Seq("k", "v"))
    us.upsert(Seq("x"), Seq("x", 1))
    us.upsert(Seq("y"), Seq("y", 1))
    us.upsert(Seq("x"), Seq("x", 2))
    assert(us.snapshot() == Seq(Seq("x", 2), Seq("y", 1)))

    // updates to ALREADY-SERVED keys re-emit forward as UpdateAfter rows —
    // a forward-paging client must see the change (Flink changelog parity)
    val fs = new ResultStore(Seq("k", "v"), pageSize = 2)
    fs.upsert(Seq("a"), Seq("a", 1))
    fs.upsert(Seq("b"), Seq("b", 1))
    val first = fs.fetch(0) // serves rows 0-1
    assert(first.rows.map(_.fields) == Seq(Seq("a", 1), Seq("b", 1)))
    fs.upsert(Seq("a"), Seq("a", 99)) // key 'a' was already delivered
    fs.markEos()
    val second = fs.fetch(1)
    assert(second.rows.map(r => (r.kind, r.fields)) ==
      Seq((RowKind.UpdateAfter, Seq("a", 99))))
    assert(fs.snapshot() == Seq(Seq("b", 1), Seq("a", 99))) // keyed-unique
  }

  test("result store: unchanged upsert is a no-op, not a re-emitted wire row") {
    // convergent delivery recomputes the WHOLE result each micro-batch and
    // upserts every row; with a client polling at 500 ms an unchanged key
    // must not generate Delete+UpdateAfter churn (it would burn the 10k cap
    // in minutes, then silently mutate behind the served watermark)
    val rs = new ResultStore(Seq("k", "v"), pageSize = 2)
    rs.upsert(Seq("a"), Seq("a", 1))
    rs.upsert(Seq("b"), Seq("b", 1))
    assert(rs.fetch(0).rows.size == 2) // both served
    (1 to 5).foreach { _ => // five recomputations, nothing changed
      rs.upsert(Seq("a"), Seq("a", 1))
      rs.upsert(Seq("b"), Seq("b", 1))
    }
    assert(rs.size == 2, "unchanged upserts must not append wire rows")
    // a REAL change still re-emits forward
    rs.upsert(Seq("a"), Seq("a", 2))
    assert(rs.size == 3)
    // binary fields compare by VALUE: a fresh Array[Byte] with equal bytes
    // is "unchanged" (identity equals would re-emit every batch)
    rs.upsert(Seq("a"), Seq("a", 2))
    val bs = new ResultStore(Seq("k", "b"), pageSize = 1)
    bs.upsert(Seq("x"), Seq("x", Array[Byte](1, 2)))
    bs.fetch(0)
    bs.upsert(Seq("x"), Seq("x", Array[Byte](1, 2)))
    assert(bs.size == 1)
    // a deleted key re-upserted with the SAME fields must reappear
    val ds = new ResultStore(Seq("k", "v"))
    ds.upsert(Seq("a"), Seq("a", 1))
    ds.delete(Seq("a"))
    assert(ds.snapshot().isEmpty)
    ds.upsert(Seq("a"), Seq("a", 1))
    assert(ds.snapshot() == Seq(Seq("a", 1)))
  }

  test("result store: UPDATE_BEFORE protocol flag emits retraction pairs") {
    val ub = new ResultStore(Seq("k", "v"), pageSize = 2, emitUpdateBefore = true)
    ub.upsert(Seq("a"), Seq("a", 1))
    ub.upsert(Seq("b"), Seq("b", 1))
    // pre-serve update: overwritten in place, no retraction needed
    ub.upsert(Seq("b"), Seq("b", 2))
    val first = ub.fetch(0)
    assert(first.rows.map(r => (r.kind, r.fields)) ==
      Seq((RowKind.Insert, Seq("a", 1)), (RowKind.UpdateAfter, Seq("b", 2))))
    // post-serve update: the reference protocol's -U/+U pair, in order
    // (models/types.ts:24-27)
    ub.upsert(Seq("a"), Seq("a", 99))
    ub.markEos()
    val second = ub.fetch(1)
    assert(second.rows.map(r => (r.kind, r.fields)) ==
      Seq((RowKind.UpdateBefore, Seq("a", 1)), (RowKind.UpdateAfter, Seq("a", 99))))
    // retraction markers never appear in the materialized view
    assert(ub.snapshot() == Seq(Seq("b", 2), Seq("a", 99)))
    // a second update retracts the CURRENT value, not the original
    ub.upsert(Seq("a"), Seq("a", 100))
    val third = ub.fetch(2)
    assert(third.rows.map(r => (r.kind, r.fields)) ==
      Seq((RowKind.UpdateBefore, Seq("a", 99)), (RowKind.UpdateAfter, Seq("a", 100))))
  }
}

object EngineSpec {
  /** Whether every task of a job loads class `name` through its context class loader. */
  def tasksLoad(s: SparkSession, name: String): Boolean =
    s.range(0, 4, 1, 4)
      .mapPartitions(_ => Iterator(scala.util.Try(
        Class.forName(name, false, Thread.currentThread.getContextClassLoader)).isSuccess))(
        org.apache.spark.sql.Encoders.scalaBoolean)
      .collect().forall(identity)
}
