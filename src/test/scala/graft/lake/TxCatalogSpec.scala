package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Name-addressed lake tables (round-12 verdict item 1): the DSv2
  * [[graft.lake.catalog.TxCatalog]] administered END-TO-END through
  * `spark.sql` over bare identifiers — CREATE/CTAS/INSERT/SELECT/
  * time-travel/DELETE/ALTER/SHOW/DROP — plus the `format("txlog")` V1
  * batch source and the [[graft.lake.catalog.TxSessionCatalog]]
  * session-catalog replacement (the reference's DeltaCatalog shape,
  * spark/conf/spark-defaults.conf:9).
  */
class TxCatalogSpec extends SparkSpec {

  private lazy val warehouse =
    Files.createTempDirectory("graft_txcat_wh").toString

  private def registerCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.tcat",
      "graft.lake.catalog.TxCatalog")
    spark.conf.set("spark.sql.catalog.tcat.warehouse", warehouse)
  }

  test("catalog DDL+DML end-to-end by name: create/insert/select/" +
      "time-travel/delete/alter/drop") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.gold")
    spark.sql("CREATE TABLE tcat.gold.orders " +
      "(k BIGINT, status STRING, price DOUBLE) USING txlog " +
      "PARTITIONED BY (status)")

    // v1: INSERT INTO by name (by-position resolution against schema)
    spark.sql("INSERT INTO tcat.gold.orders VALUES " +
      "(1, 'OPEN', 10.0), (2, 'OPEN', 20.0), (3, 'DONE', 30.0)")
    assert(spark.sql("SELECT count(*) FROM tcat.gold.orders")
      .head.getLong(0) === 3)

    // filter by partition column — served through the pushed-filter scan
    assert(spark.sql("SELECT sum(price) FROM tcat.gold.orders " +
      "WHERE status = 'OPEN'").head.getDouble(0) === 30.0)

    // v2: another append, then time travel back to v1
    spark.sql("INSERT INTO tcat.gold.orders VALUES (4, 'DONE', 40.0)")
    assert(spark.sql(
      "SELECT count(*) FROM tcat.gold.orders VERSION AS OF 1")
      .head.getLong(0) === 3)
    // TIMESTAMP AS OF through the in-commit stamps (micros from Spark)
    val ts1 = new TxTable(spark, s"$warehouse/gold/orders")
      .commitTimestamp(1L).get
    val tsLit = java.time.Instant.ofEpochMilli(ts1).toString
      .replace("T", " ").stripSuffix("Z")
    assert(spark.sql("SELECT count(*) FROM tcat.gold.orders " +
      s"TIMESTAMP AS OF '$tsLit'").head.getLong(0) === 3)

    // native DSv2 DELETE by name (SupportsDelete, exact translation)
    spark.sql("DELETE FROM tcat.gold.orders WHERE price >= 40.0")
    assert(spark.sql("SELECT count(*) FROM tcat.gold.orders")
      .head.getLong(0) === 3)

    // ALTER TABLE ADD COLUMN → metadata-only schema-evolution commit
    spark.sql("ALTER TABLE tcat.gold.orders ADD COLUMN note STRING")
    assert(spark.sql("SELECT note FROM tcat.gold.orders")
      .collect().forall(_.isNullAt(0)))

    // SHOW TABLES sees it; DROP removes data+log
    val shown = spark.sql("SHOW TABLES IN tcat.gold")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(shown.contains("orders"))

    // INSERT OVERWRITE replaces the full table in ONE commit
    spark.sql("INSERT OVERWRITE tcat.gold.orders VALUES " +
      "(9, 'X', 1.0, 'only')")
    assert(spark.sql("SELECT k, note FROM tcat.gold.orders").collect()
      .toSeq === Seq(Row(9L, "only")))

    spark.sql("DROP TABLE tcat.gold.orders")
    assert(spark.sql("SHOW TABLES IN tcat.gold").count() === 0)
  }

  test("CTAS by name and RENAME") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.ctas")
    spark.range(5).createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE tcat.ctas.t USING txlog AS " +
      "SELECT id AS k, id * 2 AS v FROM ctas_src")
    assert(spark.sql("SELECT sum(v) FROM tcat.ctas.t")
      .head.getLong(0) === 20)
    // the CTAS lands as CREATE (empty v0) + APPEND (the query's rows)
    val hist = new TxTable(spark, s"$warehouse/ctas/t").history()
    assert(hist.count() === 2)
    spark.sql("ALTER TABLE tcat.ctas.t RENAME TO ctas.t2")
    assert(spark.sql("SELECT count(*) FROM tcat.ctas.t2")
      .head.getLong(0) === 5)
    intercept[Exception](spark.sql("SELECT * FROM tcat.ctas.t").collect())
  }

  test("pushed filters prune files through the log-backed scan") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.scan")
    spark.range(100).selectExpr("id AS k", "id % 4 AS part")
      .createOrReplaceTempView("scan_src")
    spark.sql("CREATE TABLE tcat.scan.t (k BIGINT, part BIGINT) " +
      "USING txlog PARTITIONED BY (part)")
    spark.sql("INSERT INTO tcat.scan.t SELECT k, part FROM scan_src")
    val df = spark.sql("SELECT k FROM tcat.scan.t WHERE part = 2")
    // the filter is CLAIMED by the scan builder (exact translation) —
    // inside the relation it becomes a TxFileIndex partition filter
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("part"),
      s"expected the part filter pushed into the scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 100L).filter(_ % 4 == 2))
  }

  test("format(\"txlog\") V1 batch source: load/save round-trip with " +
      "time travel and modes") {
    val root = Files.createTempDirectory("graft_txfmt").toString + "/t"
    spark.range(4).selectExpr("id AS k").write.format("txlog").save(root)
    spark.range(4, 6).selectExpr("id AS k").write.format("txlog")
      .mode("append").save(root)
    assert(spark.read.format("txlog").load(root).count() === 6)
    assert(spark.read.format("txlog").option("versionAsOf", "0")
      .load(root).count() === 4)
    spark.range(1).selectExpr("id AS k").write.format("txlog")
      .mode("overwrite").save(root)
    assert(spark.read.format("txlog").load(root).count() === 1)
    // filters push into the relation (exact translation, no over-read)
    val filtered = spark.read.format("txlog").load(root)
      .where("k = 0")
    assert(filtered.count() === 1)
    intercept[Exception](spark.range(1).write.format("txlog")
      .mode("errorifexists").save(root))
  }

  test("TxSessionCatalog: spark_catalog replacement resolves bare " +
      "db.t USING txlog, delegates everything else") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.spark_catalog",
      "graft.lake.catalog.TxSessionCatalog")
    val loc = Files.createTempDirectory("graft_sess_tx").toString + "/t"
    s2.sql("CREATE DATABASE IF NOT EXISTS lakedb")
    s2.sql("CREATE TABLE lakedb.orders (k BIGINT, v STRING) " +
      s"USING txlog LOCATION '$loc'")
    s2.sql("INSERT INTO lakedb.orders VALUES (1, 'a'), (2, 'b')")
    assert(s2.sql("SELECT count(*) FROM lakedb.orders")
      .head.getLong(0) === 2)
    s2.sql("INSERT INTO lakedb.orders VALUES (3, 'c')")
    assert(s2.sql("SELECT count(*) FROM lakedb.orders VERSION AS OF 1")
      .head.getLong(0) === 2)
    s2.sql("DELETE FROM lakedb.orders WHERE k = 1")
    assert(s2.sql("SELECT count(*) FROM lakedb.orders")
      .head.getLong(0) === 2)
    // the same registered table reads on a session WITHOUT the
    // extension, through the V1 provider resolution (META-INF register)
    assert(spark.sql("SELECT count(*) FROM lakedb.orders")
      .head.getLong(0) === 2)
    // a non-txlog table delegates untouched
    s2.sql("CREATE TABLE lakedb.plain (k BIGINT) USING parquet")
    s2.sql("INSERT INTO lakedb.plain VALUES (7)")
    assert(s2.sql("SELECT k FROM lakedb.plain").head.getLong(0) === 7)
  }

  test("maintenance + row-level DML by IDENTIFIER through LakeSql") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.maint")
    spark.sql("CREATE TABLE tcat.maint.t (k BIGINT, v DOUBLE) USING txlog")
    spark.sql("INSERT INTO tcat.maint.t VALUES (1, 1.0), (2, 2.0), " +
      "(3, 3.0)")
    assert(LakeSql.run(spark, "DESCRIBE HISTORY tcat.maint.t")
      .count() === 2)
    assert(LakeSql.run(spark, "DESCRIBE DETAIL tcat.maint.t")
      .count() === 1)
    LakeSql.run(spark, "UPDATE tcat.maint.t SET v = v * 10 WHERE k = 2")
    spark.range(3, 5)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("maint_src")
    LakeSql.run(spark, "MERGE INTO tcat.maint.t t USING maint_src s " +
      "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
    LakeSql.run(spark, "OPTIMIZE tcat.maint.t")
    LakeSql.run(spark, "VACUUM tcat.maint.t RETAIN 1 VERSIONS")
    val rows = spark.sql("SELECT k, v FROM tcat.maint.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 4.0)))
    // an identifier that is NOT a lake table is never claimed
    assert(LakeSql.parse("DELETE FROM not_a_lake_table WHERE x = 1")
      .isEmpty)
  }

  test("external LOCATION tables: resolvable by name, DROP keeps the " +
      "data, re-CREATE attaches") {
    registerCatalog()
    val ext = Files.createTempDirectory("graft_ext_loc").toString + "/t"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.extns")
    spark.sql("CREATE TABLE tcat.extns.ev (k BIGINT, v STRING) " +
      s"USING txlog LOCATION '$ext'")
    spark.sql("INSERT INTO tcat.extns.ev VALUES (1, 'a'), (2, 'b')")
    // the name resolves THROUGH the persisted pointer
    assert(spark.sql("SELECT count(*) FROM tcat.extns.ev")
      .head.getLong(0) === 2)
    assert(spark.sql("SHOW TABLES IN tcat.extns").collect()
      .map(_.getString(1)).contains("ev"))
    // DROP unregisters the name; the external data survives
    spark.sql("DROP TABLE tcat.extns.ev")
    assert(spark.sql("SHOW TABLES IN tcat.extns").isEmpty)
    assert(new TxTable(spark, ext).read().count() === 2)
    // re-CREATE over the surviving log ATTACHES (metastore-loss
    // re-registration); a mismatched schema refuses
    spark.sql("CREATE TABLE tcat.extns.ev (k BIGINT, v STRING) " +
      s"USING txlog LOCATION '$ext'")
    assert(spark.sql("SELECT count(*) FROM tcat.extns.ev")
      .head.getLong(0) === 2)
    spark.sql("DROP TABLE tcat.extns.ev")
    val e = intercept[Exception](
      spark.sql("CREATE TABLE tcat.extns.ev (wrong DOUBLE) " +
        s"USING txlog LOCATION '$ext'"))
    assert(e.getMessage.contains("schema differs"))
  }

  test("SHOW TABLES on a fresh warehouse root returns empty, not an " +
      "error") {
    val wh2 = Files.createTempDirectory("graft_txcat_fresh").toString +
      "/not_yet_created"
    spark.conf.set("spark.sql.catalog.tfresh",
      "graft.lake.catalog.TxCatalog")
    spark.conf.set("spark.sql.catalog.tfresh.warehouse", wh2)
    assert(spark.sql("SHOW TABLES IN tfresh").isEmpty)
  }

  test("catalog instances are SESSION-scoped: the same name bound to " +
      "two warehouses never cross-resolves") {
    import org.apache.spark.sql.SparkSession
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    val wh2 = Files.createTempDirectory("graft_dup_wh2").toString
    val wh3 = Files.createTempDirectory("graft_dup_wh3").toString
    s2.conf.set("spark.sql.catalog.dupcat", "graft.lake.catalog.TxCatalog")
    s2.conf.set("spark.sql.catalog.dupcat.warehouse", wh2)
    s3.conf.set("spark.sql.catalog.dupcat", "graft.lake.catalog.TxCatalog")
    s3.conf.set("spark.sql.catalog.dupcat.warehouse", wh3)
    s2.sql("CREATE NAMESPACE dupcat.ns")
    s2.sql("CREATE TABLE dupcat.ns.t (k BIGINT) USING txlog")
    s2.sql("INSERT INTO dupcat.ns.t VALUES (1)")
    s3.sql("CREATE NAMESPACE dupcat.ns") // same name, OTHER warehouse
    // identifier resolution (LakeSql's route) follows the ACTIVE session
    SparkSession.setActiveSession(s2)
    assert(graft.lake.catalog.TxCatalog.resolve(Seq("dupcat", "ns", "t"))
      .exists(_.startsWith(wh2)))
    SparkSession.setActiveSession(s3)
    // session 3's dupcat has no such table — it must NOT see wh2's
    assert(graft.lake.catalog.TxCatalog.resolve(Seq("dupcat", "ns", "t"))
      .isEmpty)
    SparkSession.setActiveSession(spark)
  }

  test("TxSessionCatalog CREATE: name-taken refuses BEFORE claiming a " +
      "log; explicit-LOCATION over an existing log attaches") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.spark_catalog",
      "graft.lake.catalog.TxSessionCatalog")
    s2.sql("CREATE DATABASE IF NOT EXISTS attachdb")
    val loc = Files.createTempDirectory("graft_attach").toString + "/t"
    s2.sql("CREATE TABLE attachdb.t (k BIGINT, v STRING) " +
      s"USING txlog LOCATION '$loc'")
    s2.sql("INSERT INTO attachdb.t VALUES (1, 'a')")
    // name taken: the duplicate CREATE refuses up front and leaves the
    // existing table untouched
    intercept[Exception](s2.sql(
      s"CREATE TABLE attachdb.t (k BIGINT) USING txlog"))
    assert(s2.sql("SELECT count(*) FROM attachdb.t").head.getLong(0) === 1)
    // metastore-loss flow: drop the REGISTRATION (data survives at the
    // external location), then re-CREATE with the same LOCATION attaches
    s2.sql("DROP TABLE attachdb.t")
    assert(new TxTable(s2, loc).read().count() === 1)
    s2.sql("CREATE TABLE attachdb.t (k BIGINT, v STRING) " +
      s"USING txlog LOCATION '$loc'")
    assert(s2.sql("SELECT count(*) FROM attachdb.t").head.getLong(0) === 1)
  }

  test("createIfAbsent never deletes an existing table (sink race)") {
    val root = Files.createTempDirectory("graft_race").toString + "/t"
    val tab = new TxTable(spark, root)
    val schema = spark.range(1).selectExpr("id AS k").schema
    assert(tab.createIfAbsent(schema))
    tab.append(spark.range(3).selectExpr("id AS k"))
    // the "loser" of a first-contact race attaches instead of wiping
    assert(!new TxTable(spark, root).createIfAbsent(schema))
    assert(tab.read().count() === 3)
  }

  test("ALTER ... SET/UNSET TBLPROPERTIES by identifier lands in the " +
      "LOG through both catalog faces; loadTable surfaces the map") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.props")
    spark.sql("CREATE TABLE tcat.props.t (k BIGINT) USING txlog")
    spark.sql("ALTER TABLE tcat.props.t SET TBLPROPERTIES " +
      "('team' = 'ml', 'txlog.retention.hours' = '48')")
    // the properties live in the LOG (path-route read agrees)
    val rows = spark.sql("SHOW TBLPROPERTIES tcat.props.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.get("team").contains("ml"))
    assert(rows.get("txlog.retention.hours").contains("48"))
    spark.sql("ALTER TABLE tcat.props.t UNSET TBLPROPERTIES ('team')")
    val after = spark.sql("SHOW TBLPROPERTIES tcat.props.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!after.contains("team"))
    // an unknown semantic key refuses through the SQL route too
    intercept[Exception] {
      spark.sql("ALTER TABLE tcat.props.t SET TBLPROPERTIES " +
        "('txlog.nonsense' = '1')")
    }
    // session-catalog face: USING txlog table routes to the log
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.spark_catalog",
      "graft.lake.catalog.TxSessionCatalog")
    val loc = Files.createTempDirectory("graft_props_sess")
      .toString + "/t"
    s2.sql("CREATE DATABASE IF NOT EXISTS propsdb")
    s2.sql(s"CREATE TABLE propsdb.t (k BIGINT) USING txlog " +
      s"LOCATION '$loc'")
    s2.sql("ALTER TABLE propsdb.t SET TBLPROPERTIES " +
      "('txlog.appendOnly' = 'true')")
    val p = new org.apache.hadoop.fs.Path(loc)
    val meta = TxLog.snapshot(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).meta
    assert(meta.appendOnly, "the property must land in the LOG, not " +
      "only the metastore entry")
    intercept[Exception] {
      s2.sql("INSERT OVERWRITE propsdb.t VALUES (9)")
    }
  }

  test("CLONE by identifier, both positions: source resolves through " +
      "the catalog, an identifier destination registers by landing in " +
      "the warehouse") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.cl")
    spark.sql("CREATE TABLE tcat.cl.src (k BIGINT, v STRING) USING txlog")
    spark.sql("INSERT INTO tcat.cl.src VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // identifier source → quoted-path destination
    val outDir = Files.createTempDirectory("graft_clone_out").toString + "/t"
    LakeSql.run(spark, s"CLONE tcat.cl.src TO '$outDir' DEEP").collect()
    assert(new TxTable(spark, outDir).read().count() === 3)
    // identifier source → identifier destination: the clone lands at
    // the catalog's managed path, which IS registration
    LakeSql.run(spark, "CLONE tcat.cl.src TO tcat.cl.dup DEEP").collect()
    assert(spark.sql("SELECT count(*) FROM tcat.cl.dup")
      .head.getLong(0) === 3)
    // the clone is a real independent table: divergence stays local
    spark.sql("INSERT INTO tcat.cl.dup VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM tcat.cl.src")
      .head.getLong(0) === 3)
  }

  test("CREATE TABLE ... TBLPROPERTIES is ONE atomic DDL: properties " +
      "ride the v0 commit; an invalid value refuses WITHOUT " +
      "registering the table (retry succeeds)") {
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.atomic")
    // invalid txlog.* value: the create must fail AND leave nothing
    intercept[Exception] {
      spark.sql("CREATE TABLE tcat.atomic.t (k BIGINT) USING txlog " +
        "TBLPROPERTIES ('txlog.retention.hours' = 'soon')")
    }
    intercept[Exception] { // typo'd semantic key refuses the same way
      spark.sql("CREATE TABLE tcat.atomic.t (k BIGINT) USING txlog " +
        "TBLPROPERTIES ('txlog.retentoin.hours' = '24')")
    }
    assert(spark.sql("SHOW TABLES IN tcat.atomic").count() === 0,
      "a refused CREATE must not leave a half-registered table")
    // the retry with a valid map succeeds (nothing squats the name)
    spark.sql("CREATE TABLE tcat.atomic.t (k BIGINT) USING txlog " +
      "TBLPROPERTIES ('txlog.retention.hours' = '24', 'team' = 'ml')")
    val root = graft.lake.catalog.TxCatalog
      .resolve(Seq("tcat", "atomic", "t")).get
    val tab = new TxTable(spark, root)
    // ONE log version: the properties rode the create commit
    assert(tab.version === 0L,
      "TBLPROPERTIES must fold into the v0 commit, not a second DDL")
    val p = new org.apache.hadoop.fs.Path(root)
    val meta = TxLog.snapshot(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).meta
    assert(meta.config("txlog.retention.hours") === "24")
    assert(meta.config("team") === "ml")
    // semantic feature keys activate from the create commit too
    spark.sql("CREATE TABLE tcat.atomic.ao (k BIGINT) USING txlog " +
      "TBLPROPERTIES ('txlog.appendOnly' = 'true')")
    val aoRoot = graft.lake.catalog.TxCatalog
      .resolve(Seq("tcat", "atomic", "ao")).get
    val aoP = new org.apache.hadoop.fs.Path(aoRoot)
    assert(TxLog.snapshot(
      aoP.getFileSystem(spark.sparkContext.hadoopConfiguration),
      aoP).meta.appendOnly, "appendOnly must be live from v0")
  }

  test("by-name CDF streaming through option(\"table\"): the V1 " +
      "source resolves catalog identifiers") {
    import spark.implicits._
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.cdfs")
    spark.sql("CREATE TABLE tcat.cdfs.t (k BIGINT, v STRING) " +
      "USING txlog TBLPROPERTIES ('x' = 'y')")
    val root = graft.lake.catalog.TxCatalog
      .resolve(Seq("tcat", "cdfs", "t")).get
    val tab = new TxTable(spark, root)
    // CDF on, then a scripted history: insert / delete
    tab.enableChangeDataFeed()
    spark.sql("INSERT INTO tcat.cdfs.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("DELETE FROM tcat.cdfs.t WHERE k = 1")
    val q = spark.readStream.format("txlog")
      .option("table", "tcat.cdfs.t")
      .option("readChangeFeed", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdf_by_name").start()
    try q.processAllAvailable() finally q.stop()
    val types = spark.table("cdf_by_name")
      .select($"k", $"_change_type").as[(Long, String)]
      .collect().toSet
    assert(types.contains((1L, "insert")))
    assert(types.contains((2L, "insert")))
    assert(types.contains((1L, "delete")),
      s"the delete must surface in the by-name change stream: $types")
    // an unresolvable identifier refuses loudly
    val err = intercept[Exception] {
      spark.readStream.format("txlog")
        .option("table", "tcat.cdfs.missing")
        .option("readChangeFeed", "true").load()
    }
    assert(err.getMessage.contains("does not resolve"))
  }

  test("ALTER COLUMN TYPE widens by identifier (metadata-only), " +
      "narrowing refuses, and COMMENT lands where DESCRIBE reads it") {
    import spark.implicits._
    registerCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tcat.widen")
    spark.sql("CREATE TABLE tcat.widen.t (k INT, v STRING) USING txlog")
    spark.sql("INSERT INTO tcat.widen.t VALUES (1, 'a'), (2, 'b')")
    val root = graft.lake.catalog.TxCatalog
      .resolve(Seq("tcat", "widen", "t")).get
    val filesBefore = spark.table("tcat.widen.t").inputFiles.toSet

    spark.sql("ALTER TABLE tcat.widen.t ALTER COLUMN k TYPE BIGINT")
    // metadata-only: same files, wider declared type, feature stamped
    assert(spark.table("tcat.widen.t").inputFiles.toSet === filesBefore)
    assert(spark.table("tcat.widen.t").schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    val tab = new TxTable(spark, root)
    val meta = TxLog.snapshot(
      new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(root)).meta
    assert(meta.features.contains("typeWidening") &&
      meta.writerFeats.contains("typeWidening"))
    // long rows past the int range now land; old narrow files upcast
    spark.sql("INSERT INTO tcat.widen.t VALUES (10000000000, 'c')")
    assert(spark.sql("SELECT sum(k) FROM tcat.widen.t").head.getLong(0)
      === 10000000003L)

    // narrowing refuses loudly through the same DDL
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE tcat.widen.t ALTER COLUMN k TYPE INT")
    }
    assert(err.getMessage.contains("WIDENING") ||
      err.getMessage.toLowerCase.contains("widen"), err.getMessage)

    // COMMENT rides the schema field metadata, preserving the
    // column-mapping physical name DESCRIBE/read depend on
    spark.sql("ALTER TABLE tcat.widen.t ALTER COLUMN v " +
      "COMMENT 'free-text note'")
    val desc = spark.sql("DESCRIBE TABLE tcat.widen.t")
      .where($"col_name" === "v").select($"comment")
      .as[String].collect()
    assert(desc.toSeq === Seq("free-text note"))
    assert(spark.sql("SELECT sum(k) FROM tcat.widen.t").head.getLong(0)
      === 10000000003L, "reads must survive the comment commit")
    assert(tab.history().count() >= 1)
  }
}
