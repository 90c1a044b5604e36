package perfbench

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{FixedClock, TableEtl}
import graft.layers.{EtlContext, Interface, Rainforest}
import graft.lake.{TxLog, TxTable}
import graft.sources.RainforestFromTpch

/** Daily medallion loads into one lake root: the lineage of the daily
  * order report (bronze orders, appuser, seller → silver fact_orders,
  * dim_seller → gold wide_orders → daily_order_metrics; 7 nodes, 7
  * commits per load). Each load stamps a new day, runs the lineage
  * through `RunRegistry.runOnce`, then materializes the report through the
  * interface layer. Day 0 (a cold load into the fresh root) is set-up.
  *
  * Checks: no data-quality gate fires (a violation throws), every table
  * gains exactly one version per load, every load's report equals day
  * 0's, and the report is handed to the DuckDB oracle. */
final class EtlDaily(ctx: Ctx) {
  /** Rough wall of one warm load on a 4-core host; sets the load count. */
  private val NominalLoadSeconds = 4.0
  private val spark = ctx.spark
  private val root = ctx.path("lake")
  private val source = RainforestFromTpch(ctx.args.data)
  private val dayMs = 86400000L
  /** First load stamp: a seeded day of 2026, so each seed writes its own
    * partition values. */
  private val baseMs = java.time.Instant.parse("2026-01-01T00:00:00Z")
    .toEpochMilli + (math.abs(ctx.args.seed) % 300) * dayMs
  /** (table root, version) of every commit of the sequential load. */
  private var commits = Vector.empty[(Path, Long)]

  private def rainforest(day: Int, runUpstream: Boolean = true): Rainforest =
    new Rainforest(EtlContext(spark, source, root, dataFormat = "txlog",
      runUpstream = runUpstream,
      clock = FixedClock(new Timestamp(baseMs + day * dayMs))))

  /** The report's lineage, in an order where every node follows its
    * upstreams. */
  private def lineage(rf: Rainforest): Seq[TableEtl] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, TableEtl]()
    def visit(n: TableEtl): Unit = if (!seen.contains(n.name)) {
      n.upstreams.foreach(visit)
      seen(n.name) = n
    }
    visit(rf.dailyOrderMetrics)
    seen.values.toSeq
  }

  private def layerOf(n: TableEtl): String = n.storagePath
    .stripPrefix(root + "/").takeWhile(_ != '/')

  private def orderReport(s: SparkSession): DataFrame =
    Interface.dailyOrderReport(s)
      .select(col("Date").as("order_date"),
        col("Revenue").cast("double").as("revenue"),
        col("`Mean Revenue`").as("mean_revenue"))
      .orderBy("order_date")

  /** The report, as the interface layer serves it. */
  private def report(rf: Rainforest): Array[Row] = {
    Interface.createDailyOrderReportView(
      rf.ctx.registry.runOnce(rf.dailyOrderMetrics).data)
    orderReport(spark).collect()
  }

  /** One daily load on the normal path, timed as one operation. */
  private def load(day: Int): Array[Row] = {
    val rf = rainforest(day)
    ctx.spans("etl.load") {
      ctx.spans("etl.lineage")(rf.ctx.registry.runOnce(rf.dailyOrderMetrics))
      ctx.spans("layers.report")(report(rf))
    }
  }

  private def checkVersions(day: Int): Unit = {
    val rf = rainforest(day)
    val stale = lineage(rf).filter(n =>
      new TxTable(spark, n.storagePath).version != day).map(_.name)
    ctx.check(s"day $day, tables not at version $day: " +
      stale.mkString(","))(stale.isEmpty)
  }

  def run(): Unit = {
    val day0 = load(0)
    checkVersions(0)
    if (ctx.trace) traced(day0) else untraced(day0)
    val tables = lineage(rainforest(0))
    ctx.sizes("tables") = tables.size
    ctx.sizes("lake_bytes") =
      Files2.treeBytes(java.nio.file.Paths.get(root)).toDouble
    ctx.sizes("lake_commits") = tables.map(n =>
      new TxTable(spark, n.storagePath).version + 1).sum.toDouble
    dumpReport()
    ctx.log("report written")
  }

  private def untraced(day0: Array[Row]): Unit = {
    val loop = new Loop(ctx, NominalLoadSeconds)
    (1 to loop.rounds).foreach(measureLoad(_, day0))
    loop.finish()
  }

  /** One measured load and its checks; returns its wall (NaN if it
    * failed). */
  private def measureLoad(day: Int, day0: Array[Row]): Double = {
    ctx.spans.op = day
    val t0 = ctx.spans.nowMs
    var got: Array[Row] = null
    if (ctx.op { got = load(day) }) {
      val ms = ctx.spans.nowMs - t0
      ctx.metrics.add("op_ms", ms)
      ctx.check(s"day $day report")(got.sameElements(day0))
      checkVersions(day)
      ms
    } else Double.NaN
  }

  /** Traced run: day 1 warms the JVM further; day 2 runs the normal path
    * with the listeners off and day 3 with them on (their ratio is the
    * tracing overhead); day 4 drives the nodes one at a time in lineage
    * order with `runUpstream = false`, so each lifecycle step gets its
    * own span. That sequential load has no branch overlap, so its wall is
    * reported next to the normal one. */
  private def traced(day0: Array[Row]): Unit = {
    val l = ctx.listeners
    ctx.firstOpEpochMs = ctx.spans.nowMs
    measureLoad(1, day0)
    val off = measureLoad(2, day0)
    l.start()
    val c0 = Counters.read()
    val on = measureLoad(3, day0)
    val counters = Counters.delta(c0, Counters.read())
    l.settle()
    val onSpan = ctx.spans.named("etl.load").last
    val win = l.window(onSpan.startMs, onSpan.endMs)
    ctx.layers("etl.load_ms") = on
    ctx.layers("trace.overhead_pct") = (on / off - 1.0) * 100.0
    ctx.layers("layers.report_ms") =
      ctx.spans.named("layers.report").last.ms
    Seq("jobs", "job_busy_ms", "driver_gap_ms", "analysis_ms",
      "optimization_ms", "planning_ms", "shuffle_bytes").foreach(k =>
      ctx.layers(s"spark.$k") = win(k))
    counters.foreach { case (k, v) => ctx.layers(k) = v }

    ctx.spans.op = 4
    ctx.op(ctx.spans("etl.sequential_load")(sequentialLoad(4)))
    ctx.measuredMs = ctx.spans.nowMs - ctx.firstOpEpochMs
    l.settle()
    l.stop()
    checkVersions(4)
    val seq = ctx.spans.all.filter(_.op == 4)
    def total(name: String) = seq.filter(_.name == name).map(_.ms).sum
    def jobsIn(name: String) = seq.filter(_.name == name)
      .map(s => l.window(s.startMs, s.endMs)("jobs")).sum
    ctx.layers("etl.sequential_load_ms") = total("etl.sequential_load")
    ctx.layers("sources.load_ms") = total("sources.load")
    ctx.layers("core.transform_ms") = total("core.transform")
    ctx.layers("core.extract_ms") = total("core.extract")
    ctx.layers("core.read_ms") = total("core.read")
    ctx.layers("checks.validate_ms") = total("checks.validate")
    ctx.layers("checks.jobs") = jobsIn("checks.validate")
    Seq("bronze", "silver", "gold").foreach(ly =>
      ctx.layers(s"lake.write_ms.$ly") = total(s"lake.write.$ly"))
    val writes = seq.filter(_.name.startsWith("lake.write."))
    ctx.layers("lake.jobs_per_commit") = Stat.mean(writes.map(s =>
      l.window(s.startMs, s.endMs)("jobs")))
    ctx.layers("lake.snapshot_ms") = Stat.mean(
      ctx.spans.named("lake.snapshot").map(_.ms))
    commitStats.foreach { case (k, v) => ctx.layers(k) = v }
  }

  /** Every lifecycle step of every node, one node at a time. */
  private def sequentialLoad(day: Int): Unit = {
    val rf = rainforest(day, runUpstream = false)
    lineage(rf).foreach { n =>
      ctx.spans("etl.node") {
        val up = ctx.spans("core.extract")(n.extractUpstream())
        val layer = layerOf(n)
        val ds = ctx.spans(
          if (layer == "bronze") "sources.load" else "core.transform")(
          n.transformUpstream(up))
        val violations = ctx.spans("checks.validate")(n.validate(ds))
        require(violations.isEmpty, s"${n.name} failed its checks: " +
          violations.map(_.detail).mkString("; "))
        val v = ctx.spans(s"lake.write.$layer")(n.write(ds))
        v.foreach(ver => commits :+= (new Path(n.storagePath), ver))
        ctx.spans("core.read")(rf.ctx.registry.readOnce(n))
      }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    lineage(rf).foreach { n =>
      val p = new Path(n.storagePath)
      ctx.spans("lake.snapshot")(TxLog.snapshot(p.getFileSystem(conf), p))
    }
  }

  /** Files and bytes each commit of the sequential load added/removed,
    * from the commits' own log entries. */
  private def commitStats: Map[String, Double] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = commits.map { case (p, v) =>
      TxLog.commitEntries(p.getFileSystem(conf), p, v) }
    val liveBytes = lineage(rainforest(0)).map { n =>
      val p = new Path(n.storagePath)
      TxLog.snapshot(p.getFileSystem(conf), p).adds
        .map(_.bytes.getOrElse(0L)).sum
    }.sum
    Map(
      "lake.files_added_per_commit" ->
        Stat.mean(entries.map(_.count(_.add.isDefined).toDouble)),
      "lake.files_removed_per_commit" ->
        Stat.mean(entries.map(_.count(_.remove.isDefined).toDouble)),
      "lake.bytes_written_per_commit" -> Stat.mean(entries.map(e =>
        e.flatMap(_.add).map(_.bytes.getOrElse(0L)).sum.toDouble)),
      "lake.space_amp" -> Files2.treeBytes(java.nio.file.Paths.get(root))
        .toDouble / math.max(1L, liveBytes))
  }

  /** The latest load's report (equal to every other load's, checked
    * above), written for the DuckDB oracle. */
  private def dumpReport(): Unit = {
    val rf = rainforest(0, runUpstream = false)
    Interface.createDailyOrderReportView(
      rf.ctx.registry.readOnce(rf.dailyOrderMetrics).data)
    val dir = ctx.path("oracle/pipeline_daily_order_report")
    orderReport(spark).coalesce(1).write.mode("overwrite").parquet(dir)
    ctx.oracle += "pipeline_daily_order_report" -> dir
  }
}
