package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checks.Unique
import graft.core._
import graft.layers._
import graft.sources.InMemorySource

/** Framework lifecycle tests, mirroring the reference's bronze pytest
  * pattern (etl/test/unit_tests/bronze/test_orders_bronze.py:35-100) plus
  * the integration round-trip (test_int_fact_order_items.py:20-123).
  */
class TableEtlSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = FixedClock(Timestamp.valueOf("2026-01-01 00:00:00"))
  private val t1 = FixedClock(Timestamp.valueOf("2026-01-02 00:00:00"))

  private def ordersDf: DataFrame = Seq(
    (100, 10, "2024-01-01 12:00:00", 100.0, "2024-01-01 11:00:00"),
    (101, 11, "2024-01-02 12:00:00", 150.0, "2024-01-02 11:00:00"))
    .toDF("order_id", "buyer_id", "order_ts", "total_price", "created_ts")

  /** Context on the DEFAULT storage (txlog) unless a test's subject is
    * the plain-file layout itself (sidecar, partition dirs, retention) —
    * those pin `format = "parquet"` explicitly. */
  private def ctx(clock: Clock, base: String, write: Boolean = true,
      format: String = "txlog") =
    EtlContext(spark, InMemorySource(Map("orders" -> ordersDf)), base,
      dataFormat = format, writeData = write, clock = clock)

  private def ordersNode(c: EtlContext) = new BronzeNode(c, "orders",
    "orders", Seq("order_id"),
    Seq("order_id", "buyer_id", "order_ts", "total_price", "created_ts"),
    checks = Seq(Unique(Seq("order_id"))))

  test("bronze transform appends etl_inserted and preserves input rows") {
    val node = ordersNode(ctx(t0, "/unused", write = false))
    val out = node.transformUpstream(Seq.empty).data
    assert(out.columns.toSeq ===
      ordersDf.columns.toSeq :+ "etl_inserted")
    assert(out.select(ordersDf.columns.map(col).toIndexedSeq: _*)
      .collect().toSet === ordersDf.collect().toSet)
    assert(out.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t0.at))
  }

  test("dry-run (writeData=false) serves read() from memory, writes nothing") {
    val base = Files.createTempDirectory("graft_dry").toString
    val node = ordersNode(ctx(t0, base, write = false))
    node.run()
    val ds = node.read()
    assert(ds.data.count() === 2)
    assert(!new java.io.File(s"$base/bronze/orders").exists())
  }

  test("write→read round-trip picks the latest etl_inserted partition") {
    val base = Files.createTempDirectory("graft_rt").toString
    ordersNode(ctx(t0, base)).run()
    val second = ordersNode(ctx(t1, base))
    second.run()
    val ds = second.read()
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t1.at))
    assert(ds.data.count() === 2)
    // partition-pinned read reaches the older load
    val pinned = second.read(Map("etl_inserted" -> t0.at.toString))
    assert(pinned.data.count() === 2)
  }

  test("a warm txlog load runs as many Spark jobs as an append of the " +
      "same frame") {
    val base = Files.createTempDirectory("graft_jobs").toString
    ordersNode(ctx(t0, base)).run() // day 0 creates the table
    val second = ordersNode(ctx(t1, base))
    val ds = second.transformUpstream(second.extractUpstream())
    val load = jobsOf(second.write(ds): Unit)
    val ref = new graft.lake.TxTable(spark,
      Files.createTempDirectory("graft_jobs_ref").resolve("t").toString)
    ref.create(ds.data.hint("rebalance"), ds.partitionKeys)
    val append = jobsOf(ref.append(ds.data.hint("rebalance")): Unit)
    assert(load === append)
    assert(second.read().data.count() === 2)
  }

  test("validation failure raises InvalidDataException and blocks the write") {
    val base = Files.createTempDirectory("graft_dq").toString
    val dup = ordersDf.union(ordersDf) // duplicate order_ids
    val c = EtlContext(spark, InMemorySource(Map("orders" -> dup)), base,
      clock = t0)
    val node = ordersNode(c)
    intercept[InvalidDataException] { node.run() }
    assert(!new java.io.File(s"$base/bronze/orders").exists())
  }

  /** Every file under a table root outside its log: data files, bloom
    * sidecars, change data. */
  private def dataFiles(root: String): Set[String] = {
    val r = java.nio.file.Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(r.relativize(_).toString).filterNot(_.startsWith("_txlog")).toSet
    finally walk.close()
  }

  test("a warm load failing its checks lands nothing and keeps the " +
      "previous load") {
    val base = Files.createTempDirectory("graft_gate").toString
    val root = s"$base/bronze/orders_gate"
    def gated(c: EtlContext) = new BronzeNode(c, "orders_gate", "orders",
      Seq("order_id"),
      Seq("order_id", "buyer_id", "order_ts", "total_price", "created_ts"),
      checks = Seq(Unique(Seq("order_id"))))
    gated(ctx(t0, base)).run()
    val tab = new graft.lake.TxTable(spark, root)
    val (v0, files0) = (tab.version, dataFiles(root))
    val dup = EtlContext(spark,
      InMemorySource(Map("orders" -> ordersDf.union(ordersDf))), base,
      clock = t1)
    val e = intercept[InvalidDataException] { gated(dup).run() }
    assert(e.getMessage.startsWith(
      "The orders_gate dataset did not pass validation: "))
    assert(tab.version === v0)
    assert(dataFiles(root) === files0)
    val kept = gated(ctx(t1, base)).read().data
    assert(kept.count() === 2)
    assert(kept.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t0.at))
    val report = LineageRunReport.snapshot("orders_gate")
    assert(report.violations.nonEmpty && report.rowsWritten.isEmpty)
  }

  test("a clean warm load lands exactly one version") {
    val base = Files.createTempDirectory("graft_gate_ok").toString
    ordersNode(ctx(t0, base)).run()
    val tab = new graft.lake.TxTable(spark, s"$base/bronze/orders")
    val v0 = tab.version
    val second = ordersNode(ctx(t1, base))
    second.run()
    assert(tab.version === v0 + 1)
    assert(second.read().data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t1.at))
  }

  test("a load failing both its checks and its staging throws " +
      "InvalidDataException with the staging error suppressed") {
    val base = Files.createTempDirectory("graft_gate_both").toString
    // day 0 lands one stamp; the warm load carries two stamps (refused
    // by staging) and every order_id twice (refused by the checks)
    def node(clock: Clock, twoStamps: Boolean) =
      new Node(ctx(clock, base)) {
        override def layer: String = "bronze"
        override def name: String = "orders_two_stamps"
        override def primaryKeys: Seq[String] = Seq("order_id")
        override def checks = Seq(Unique(Seq("order_id")))
        override def outputColumns: Seq[String] =
          Seq("order_id", "etl_inserted")
        override def transformUpstream(up: Seq[EtlDataSet]): EtlDataSet = {
          val now = stamped(ordersDf)
          dataset(if (!twoStamps) now
            else now.union(ordersDf.withColumn("etl_inserted", lit(t0.at))))
        }
      }
    node(t0, twoStamps = false).run()
    val e = intercept[InvalidDataException] {
      node(t1, twoStamps = true).run()
    }
    assert(e.getSuppressed.toSeq.map(_.getMessage).exists(
      _.contains("one load = one etl_inserted stamp; got 2 distinct values")))
  }

  test("runUpstream=false consumes existing storage without re-extracting") {
    val base = Files.createTempDirectory("graft_ro").toString
    ordersNode(ctx(t0, base)).run() // populate the lake
    var loads = 0
    val counting = new graft.sources.UpstreamSource {
      override def load(s: org.apache.spark.sql.SparkSession, t: String)
          : DataFrame = { loads += 1; ordersDf }
    }
    val roCtx = EtlContext(spark, counting, base,
      runUpstream = false, clock = t1)
    val bronze = ordersNode(roCtx)
    val consumer = new DerivedNode(roCtx, "consumer", "silver",
      Seq("order_id"), Seq(bronze), Seq("order_id", "etl_inserted"),
      Seq.empty, (_, up) => up.head.drop("etl_inserted"))
    consumer.run()
    // upstream data came from the t0 write on disk, not the source
    assert(loads === 0)
    assert(consumer.read().data.count() === 2)
  }

  test("schema evolution: a column added upstream survives the round-trip") {
    val base = Files.createTempDirectory("graft_evo").toString
    // load 1: original five-column shape
    ordersNode(ctx(t0, base)).run()
    // load 2: upstream gained a column; the node's contract includes it
    val evolved = ordersDf.withColumn("channel", lit("web"))
    val c2 = EtlContext(spark, InMemorySource(Map("orders" -> evolved)),
      base, clock = t1)
    val node2 = new BronzeNode(c2, "orders", "orders", Seq("order_id"),
      Seq("order_id", "buyer_id", "order_ts", "total_price", "created_ts",
        "channel"),
      checks = Seq(Unique(Seq("order_id"))))
    node2.run()
    // latest-partition read sees the evolved schema with values
    val latest = node2.read().data
    assert(latest.columns.contains("channel"))
    assert(latest.select("channel").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("web"))
    // the t0 partition predates the column: merged schema resolves it
    // as NULL (the Delta mergeSchema contract on parquet's terms —
    // see TableEtl.read)
    val pinned = node2.read(Map("etl_inserted" -> t0.at.toString)).data
    assert(pinned.count() === 2)
    assert(pinned.where(col("channel").isNull).count() === 2)
  }

  test("latest-partition read plans independently of partition history") {
    val base = Files.createTempDirectory("graft_hist").toString
    ordersNode(ctx(t0, base, format = "parquet")).run()
    val second = ordersNode(ctx(t1, base, format = "parquet"))
    second.run()
    // sabotage every data file of the OLDER load: if read() still merged
    // footers across history (or listed/opened old partitions at all),
    // planning or execution would now throw. The pinned-schema,
    // listing-targeted read must not notice.
    val oldDir = new java.io.File(
      s"$base/bronze/orders/etl_inserted=2026-01-01 00%3A00%3A00")
    val corrupted = oldDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(corrupted.nonEmpty) // the escape convention matched a real dir
    corrupted.foreach { f =>
      Files.write(f.toPath, "not a parquet footer".getBytes)
    }
    val ds = second.read()
    assert(ds.data.count() === 2)
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t1.at))
  }

  test("corrupt schema sidecar degrades to the legacy read, not a failure") {
    val base = Files.createTempDirectory("graft_sc").toString
    ordersNode(ctx(t0, base, format = "parquet")).run()
    val second = ordersNode(ctx(t1, base, format = "parquet"))
    second.run()
    Files.write(java.nio.file.Paths.get(
      s"$base/bronze/orders/_graft_schema.json"),
      "{ not json".getBytes)
    val ds = second.read() // falls back to mergeSchema + scalar-max
    assert(ds.data.count() === 2)
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t1.at))
  }

  test("a null-load partition directory never shadows the latest load") {
    val base = Files.createTempDirectory("graft_nullpart").toString
    val node = ordersNode(ctx(t0, base, format = "parquet"))
    node.run()
    // '_' sorts above every digit, so a lexical max over raw dir names
    // would pick this forever
    val hive = new java.io.File(
      s"$base/bronze/orders/etl_inserted=__HIVE_DEFAULT_PARTITION__")
    assert(hive.mkdir())
    val ds = node.read()
    assert(ds.data.count() === 2)
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t0.at))
  }

  test("multi-key partition layout keeps latest-load read semantics") {
    val base = Files.createTempDirectory("graft_mk").toString
    // multi-key layouts stay on the plain-file path (the txlog writer
    // deliberately REQUIREs exactly one partition key)
    def node(clock: Clock) = new Node(ctx(clock, base, format = "parquet")) {
      override def layer: String = "bronze"
      override def name: String = "orders_mk"
      override def primaryKeys: Seq[String] = Seq("order_id")
      override def partitionKeys: Seq[String] =
        Seq("etl_inserted", "buyer_id")
      override def outputColumns: Seq[String] =
        Seq("order_id", "buyer_id", "order_ts", "etl_inserted")
      override def transformUpstream(up: Seq[EtlDataSet]): EtlDataSet =
        dataset(stamped(ctx.source.load(ctx.spark, "orders")))
    }
    node(t0).run()
    val second = node(t1)
    second.run()
    // directory listing is inapplicable (two partition keys); the pinned-
    // schema read must still select ONLY the latest load via scalar-max,
    // not the whole history
    val ds = second.read()
    assert(ds.data.count() === 2)
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t1.at))
  }

  test("retention expires old loads; latest read and sidecar unaffected") {
    val base = Files.createTempDirectory("graft_ret").toString
    val t2 = FixedClock(Timestamp.valueOf("2026-01-03 00:00:00"))
    // Retention.expireLoads walks partition DIRECTORIES — the plain-file
    // path's expiry; txlog tables expire history via vacuum instead
    for (c <- Seq(t0, t1, t2)) ordersNode(ctx(c, base, format = "parquet")).run()
    val node = ordersNode(ctx(t2, base, format = "parquet"))
    val deleted = graft.ext.Retention.expireLoads(
      spark, s"$base/bronze/orders", keep = 2)
    assert(deleted === Seq("etl_inserted=2026-01-01 00:00:00")
      .map(_.stripPrefix("etl_inserted=")))
    // latest-load read still serves t2
    val ds = node.read()
    assert(ds.data.count() === 2)
    assert(ds.data.select("etl_inserted").distinct().collect()
      .map(_.getTimestamp(0)).toSeq === Seq(t2.at))
    // the retained middle load is still pinnable; the expired one is gone
    assert(node.read(Map("etl_inserted" -> t1.at.toString)).data.count() === 2)
    assert(node.read(Map("etl_inserted" -> t0.at.toString)).data.count() === 0)
  }

  test("RunRegistry executes a shared upstream exactly once") {
    val base = Files.createTempDirectory("graft_memo").toString
    var runs = 0
    val counting = new graft.sources.UpstreamSource {
      override def load(s: org.apache.spark.sql.SparkSession, t: String)
          : DataFrame = { runs += 1; ordersDf }
    }
    val c = EtlContext(spark, counting, base, clock = t0)
    val bronze = ordersNode(c)
    def consumer(n: String) = new DerivedNode(c, n, "silver",
      Seq("order_id"), Seq(bronze),
      Seq("order_id", "etl_inserted"), Seq.empty,
      (_, up) => up.head.drop("etl_inserted"))
    consumer("a").run()
    consumer("b").run()
    // the reference re-runs shared upstreams per consumer (SURVEY.md §3.4);
    // the registry must not
    assert(runs === 1)
  }

  test("format-parametric lake: json write/read round-trip") {
    val base = Files.createTempDirectory("graft_json").toString
    val c = EtlContext(spark, InMemorySource(Map("orders" -> ordersDf)),
      base, dataFormat = "json", clock = t0)
    val node = ordersNode(c)
    node.run()
    val ds = node.read()
    assert(ds.data.count() === 2)
    assert(new java.io.File(s"$base/bronze/orders").exists())
    // values survive the format swap (json may widen types, so compare
    // key values as strings)
    assert(ds.data.select("order_id").collect().map(_.get(0).toString)
      .sorted === Array("100", "101"))
  }

  test("format-parametric lake: orc and csv write/read round-trips") {
    // the same node definition serves any Spark-supported format — the
    // reference's Delta-specific writer generalized (SURVEY.md §7.5)
    for (fmt <- Seq("orc", "csv")) {
      val base = Files.createTempDirectory(s"graft_$fmt").toString
      val c = EtlContext(spark, InMemorySource(Map("orders" -> ordersDf)),
        base, dataFormat = fmt, clock = t0)
      val node = ordersNode(c)
      node.run()
      val ds = node.read()
      assert(ds.data.count() === 2, s"format $fmt")
      assert(ds.data.select("order_id").collect().map(_.get(0).toString)
        .sorted === Array("100", "101"), s"format $fmt")
    }
  }

  test("RunRegistry stays exactly-once under concurrent consumers") {
    val base = Files.createTempDirectory("graft_conc").toString
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new graft.sources.UpstreamSource {
      override def load(s: org.apache.spark.sql.SparkSession, t: String)
          : DataFrame = { runs.incrementAndGet(); ordersDf }
    }
    val c = EtlContext(spark, counting, base, clock = t0)
    val bronze = ordersNode(c)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // 8 consumers race for the same upstream: one Future executes,
    // everyone else blocks on it and reads the memoized dataset
    val fs = (1 to 8).map(_ => Future { c.registry.runOnce(bronze) })
    val results = fs.map(Await.result(_, 2.minutes))
    assert(runs.get() === 1)
    assert(results.forall(_.data.count() === 2))
  }
}
