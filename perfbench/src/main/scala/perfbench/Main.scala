package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (see run.py, which launches it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String, spans: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"), m("spans"))
  }
}

/** What a workload reports back: the end-to-end samples, the per-layer
  * values of a traced run, oracle checks for run.py to make with DuckDB,
  * and the correctness tally. */
final class Ctx(val args: Args, val spark: SparkSession) {
  val spans = new Spans
  val metrics = new Metrics
  val layers = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  /** (query name, spark result directory) pairs for the DuckDB oracle. */
  val oracle = mutable.ArrayBuffer[(String, String)]()
  val sizes = mutable.LinkedHashMap[String, Double]()
  var attempted = 0
  var failed = 0
  var firstOpEpochMs = 0.0
  var measuredMs = 0.0
  lazy val listeners: EngineListeners = new EngineListeners(spark)

  def trace: Boolean = args.trace

  /** Runs one client operation; a thrown error or a failed check inside
    * it counts the operation as failed and is reported. */
  def op(body: => Unit): Boolean = {
    attempted += 1
    val before = errors.size
    try body
    catch {
      case e: Throwable =>
        errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    val ok = errors.size == before
    if (!ok) failed += 1
    ok
  }

  /** A correctness check outside the timed operations (final state,
    * sampled versions, oracles); it counts as one attempted item. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val err =
      try { if (ok) None else Some("mismatch") }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    err.foreach { m => errors += s"$what: $m".take(500); failed += 1 }
  }

  /** Spans of the measured part of the run (set-up spans start before
    * the first timed operation). */
  def measured(name: String): Vector[Span] =
    spans.named(name).filter(_.startMs >= firstOpEpochMs)

  /** Progress line in the JVM log, stamped with seconds since start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(spans.nowMs - startMs) / 1000}%.1fs $what")
  private val startMs = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime.toDouble

  def path(rel: String): String = Paths.get(args.work, rel).toString
}

object Main {
  private def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(work, "warehouse").toUri.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session(args.work)
    val ctx = new Ctx(args, spark)
    ctx.log("session ready")
    try {
      args.workload match {
        case "etl_daily" => new EtlDaily(ctx).run()
        case "lake_dml" => new LakeDml(ctx).run()
        case "read_queries" => new ReadQueries(ctx).run()
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        ctx.errors += s"run aborted: ${e.getClass.getSimpleName}: " +
          s"${e.getMessage}".take(500)
        ctx.failed += 1
        ctx.attempted = math.max(ctx.attempted, 1)
        e.printStackTrace()
    }
    ctx.log("workload done")
    if (args.trace) {
      ctx.layers("mem.live_heap_mb") = LiveHeap.mb()
      ctx.layers("trace.wall_s") = ctx.measuredMs / 1000.0
      ctx.layers("trace.unattributed_pct") = 100.0 * (ctx.measuredMs -
        measuredRoots(ctx).map(_.ms).sum) / math.max(1.0, ctx.measuredMs)
      writeSpans(ctx)
    }
    writeResult(ctx)
    spark.stop()
    ctx.log("session stopped")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
      .stripTrailingZeros.toPlainString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def writeResult(ctx: Ctx): Unit = {
    val m = ctx.metrics
    val op = m.get("op_ms")
    val e2e = Seq("op_ms_mean" -> Stat.mean(op))
    val json = obj(Seq(
      "first_op_epoch_ms" -> num(ctx.firstOpEpochMs),
      "measured_ms" -> num(ctx.measuredMs),
      "ops" -> op.size.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "errors" -> ctx.errors.map(str).mkString("[", ",", "]"),
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(ctx.layers.map { case (k, v) => k -> num(v) }),
      "sizes" -> obj(ctx.sizes.map { case (k, v) => k -> num(v) }),
      "oracle" -> ctx.oracle.map { case (n, p) =>
        obj(Seq("name" -> str(n), "path" -> str(p),
          "sql" -> str(graft.SparkEntry.oracleSql(n))))
      }.mkString("[", ",", "]")))
    Files.writeString(Paths.get(ctx.args.out), json + "\n")
  }

  /** Top-level spans of the measured part of the run (set-up spans start
    * before the first operation). */
  private def measuredRoots(ctx: Ctx): Seq[Span] = ctx.spans.all
    .filter(s => s.parent == 0 && s.startMs >= ctx.firstOpEpochMs)

  /** Span file of a traced run: the spans of the measured part, self
    * time per span name (a span minus its children) and the part of the
    * traced wall no span covers; self times plus that sum to the wall. */
  private def writeSpans(ctx: Ctx): Unit = {
    val all = ctx.spans.all.filter(_.startMs >= ctx.firstOpEpochMs)
    val childMs = all.groupMapReduce(_.parent)(_.ms)(_ + _)
    val self = all.groupMapReduce(_.name)(s =>
      s.ms - childMs.getOrElse(s.id, 0.0))(_ + _)
    val wall = ctx.measuredMs
    val spanJson = all.map(s => obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> str(s.name),
      "op" -> s.op.toString, "start_ms" -> num(s.startMs),
      "end_ms" -> num(s.endMs))))
    val json = obj(Seq(
      "workload" -> str(ctx.args.workload),
      "seed" -> ctx.args.seed.toString,
      "traced_wall_ms" -> num(wall),
      "self_ms" -> obj(self.toSeq.sortBy(-_._2).map { case (k, v) =>
        k -> num(v) }),
      "unattributed_ms" -> num(wall - measuredRoots(ctx).map(_.ms).sum),
      "per_layer" -> obj(ctx.layers.map { case (k, v) => k -> num(v) }),
      "spans" -> spanJson.mkString("[\n", ",\n", "]")))
    Files.createDirectories(Paths.get(ctx.args.spans).getParent)
    Files.writeString(Paths.get(ctx.args.spans), json + "\n")
  }
}

/** The tail percentile every workload reports. */
object Tail {
  val q = 0.9
}

/** The measured part of a run. `--seconds` divided by the workload's
  * nominal round time gives a fixed number of rounds (at least
  * `minRounds`), so runs of faster and slower code measure the same
  * operations in the same JVM warm-up state. */
final class Loop(ctx: Ctx, nominalRoundSeconds: Double, minRounds: Int = 1) {
  val rounds: Int = math.max(minRounds,
    math.round(ctx.args.seconds / nominalRoundSeconds).toInt)
  private val start = ctx.spans.nowMs
  if (ctx.firstOpEpochMs == 0.0) ctx.firstOpEpochMs = start
  ctx.log(s"measuring $rounds rounds")
  def finish(): Unit = {
    ctx.measuredMs += ctx.spans.nowMs - start
    ctx.log("measured")
  }
}

object Files2 {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum
      finally s.close()
    }
}
