package perfbench

import scala.collection.mutable
import scala.util.Random

/** Read-only registry queries, each materialized through the `noop` sink.
  * None of them commits to a lake or starts a stream, so lake changes
  * must leave this workload flat; session, Catalyst and codegen changes
  * show here. A pass runs the whole set in a seeded order. Set-up runs
  * every query once and writes its result for the DuckDB oracle (outside
  * the timed region, and a warm-up); the client then runs the measured
  * passes. A traced run makes at least four, with the listeners off, on,
  * on, off. */
final class ReadQueries(ctx: Ctx) {
  import ReadQueries._

  private val spark = ctx.spark
  private val rnd = new Random(ctx.args.seed)
  private val registry = graft.SparkEntry.queries
  private val traced = mutable.ArrayBuffer[(Span, Map[String, Double])]()

  private def runQuery(name: String, listen: Boolean): Unit = {
    val c0 = if (listen) Counters.read() else Map.empty[String, Double]
    val ok = ctx.op {
      ctx.spans("query.op") {
        val df = ctx.spans("queries.build")(registry(name)(spark,
          ctx.args.data))
        ctx.spans("queries.run")(
          df.write.format("noop").mode("overwrite").save())
      }
    }
    if (ok) {
      val span = ctx.spans.named("query.op").last
      ctx.metrics.add("op_ms", span.ms)
      ctx.metrics.add(s"op_ms.$name", span.ms)
      if (listen) traced += ((span, Counters.delta(c0, Counters.read())))
    }
  }

  private def pass(listen: Boolean): Unit = {
    if (listen) ctx.listeners.start()
    ctx.spans("query.pass")(rnd.shuffle(Names).foreach(runQuery(_, listen)))
    if (listen) ctx.listeners.stop()
  }

  /** The untimed warm-up pass: every query once, its result written out
    * for the DuckDB oracle. */
  private def warmUp(): Unit = rnd.shuffle(Names).foreach { name =>
    val dir = ctx.path(s"oracle/$name")
    ctx.op(registry(name)(spark, ctx.args.data).coalesce(1).write
      .mode("overwrite").parquet(dir))
    ctx.oracle += name -> dir
  }

  def run(): Unit = {
    ctx.sizes("queries") = Names.size
    warmUp()
    val loop = new Loop(ctx, NominalPassSeconds, if (ctx.trace) 4 else 1)
    // listeners off, on, on, off, ...: a drift over the run (JIT warm-up)
    // cancels out of the overhead ratio
    (0 until loop.rounds).foreach(p =>
      pass(listen = ctx.trace && (p % 4 == 1 || p % 4 == 2)))
    loop.finish()
    ctx.sizes("passes") = loop.rounds
    if (ctx.trace) layers()
  }

  private def layers(): Unit = {
    val l = ctx.listeners
    l.settle()
    val L = ctx.layers
    val ops = ctx.measured("query.op").map(_.ms)
    L("query.pass_s") = Stat.median(ctx.measured("query.pass").map(_.ms)) /
      1000.0
    L("query.latency_ms_p50") = Stat.median(ops)
    L("query.latency_ms_tail") = Stat.quantile(ops, Tail.q)
    L("queries.build_ms") = Stat.median(
      ctx.measured("queries.build").map(_.ms))
    L("queries.run_ms") = Stat.median(ctx.measured("queries.run").map(_.ms))
    val perOp = traced.map { case (span, counters) =>
      l.window(span.startMs, span.endMs) ++ counters }
    Seq("jobs", "job_busy_ms", "driver_gap_ms", "analysis_ms",
      "optimization_ms", "planning_ms", "shuffle_bytes").foreach(k =>
      L(s"spark.$k") = Stat.mean(perOp.map(_(k))))
    Counters.read().keys.foreach(k => L(k) = Stat.mean(perOp.map(_(k))))
    val on = traced.map(_._1.ms)
    val off = ops.diff(on)
    L("trace.overhead_pct") =
      (Stat.median(on.toSeq) / Stat.median(off) - 1.0) * 100.0
  }
}

object ReadQueries {
  /** Rough wall of one pass on a 4-core host; sets the pass count. */
  val NominalPassSeconds = 4.0

  /** The fixed query set: parity queries covering aggregation, a wide
    * join, a semi join, set operations, JSON extraction, a correlated SQL
    * subquery, window functions and grouping sets, plus two extension
    * operators (as-of and range joins) that read base tables only. */
  val Names: Seq[String] = Seq(
    "q01_daily_order_metrics", "q03_wide_orders",
    "q08_customers_with_urgent_orders", "q10_key_set_ops",
    "q17_json_props", "q21_sql_correlated_subquery", "q23_window_suite",
    "q26_grouping_sets", "ext_asof_join", "ext_range_join")
}
