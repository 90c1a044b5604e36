package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.lake.{TxLog, TxTable}

/** One row of the lake_dml table; `cents` is the DECIMAL(12,2) price. */
final case class Item(id: Long, orderkey: Long, partkey: Long, qty: Int,
    cents: Long, flag: String)

object Item {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("orderkey", LongType),
    StructField("partkey", LongType), StructField("qty", IntegerType),
    StructField("price", DecimalType(12, 2)),
    StructField("flag", StringType)))

  def toRow(i: Item): Row = Row(i.id, i.orderkey, i.partkey, i.qty,
    java.math.BigDecimal.valueOf(i.cents, 2), i.flag)

  def of(r: Row): Item = Item(r.getAs[Long]("id"), r.getAs[Long]("orderkey"),
    r.getAs[Long]("partkey"), r.getAs[Int]("qty"),
    r.getAs[java.math.BigDecimal]("price").movePointRight(2).longValueExact,
    r.getAs[String]("flag"))
}

/** Small DML commits on one change-feed-enabled, partitioned table built
  * from `lineitem`, each followed by a read, plus micro-batches of a
  * txlog → txlog stream that commits through the same lake path.
  *
  * A round is every verb once, in seeded order; keys, ranges and rows are
  * seeded too. Set-up creates the tables, starts the stream and runs one
  * round to warm up; the client then runs the measured rounds.
  *
  * An in-memory model applies every verb to a map keyed by `id`. Checks:
  * the final read, seeded `read(asOf)` versions and seeded `readChanges`
  * commits equal the model; after every stream drain the sink holds the
  * source's row multiset. */
final class LakeDml(ctx: Ctx) {
  import LakeDml._

  private val spark = ctx.spark
  private val rnd = new Random(ctx.args.seed)
  private val root = ctx.path("dml")
  private val tab = new TxTable(spark, root)
  private val src = new TxTable(spark, ctx.path("stream_src"))
  private val dst = new TxTable(spark, ctx.path("stream_dst"))
  private val conf = spark.sparkContext.hadoopConfiguration
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(conf)

  /** Model state per committed version of the DML table. */
  private val versions = mutable.ArrayBuffer[Map[Long, Item]]()
  private var nextId = 1L << 40
  private var maxOrder = 0L
  private var streamRows = 0L
  private var query: StreamingQuery = _
  private var lastBatch = -1L

  private def model: Map[Long, Item] = versions.last

  private def frame(items: Seq[Item]): DataFrame =
    spark.createDataFrame(items.map(Item.toRow).asJava, Item.schema)

  private def freshItem(orderkey: Long, flag: String): Item = {
    nextId += 1
    Item(nextId, orderkey, rnd.nextInt(2000).toLong, 1 + rnd.nextInt(50),
      90000L + rnd.nextInt(10000000), flag)
  }

  private def randomFlag(): String = Flags(rnd.nextInt(Flags.size))

  /** A seeded orderkey range [lo, lo + RangeWidth). */
  private def range(): (Long, Long) = {
    val lo = (rnd.nextDouble() * (maxOrder - RangeWidth)).toLong
    (lo, lo + RangeWidth)
  }

  private def inRange(r: (Long, Long)): Column =
    col("orderkey") >= r._1 && col("orderkey") < r._2

  private def within(i: Item, r: (Long, Long)): Boolean =
    i.orderkey >= r._1 && i.orderkey < r._2

  /** One planned commit: the call into the lake, the model's next state,
    * and the rows the verb logically changes. */
  final case class Planned(verb: String, call: () => Unit,
      next: Map[Long, Item], changed: Long)

  private def plan(verb: String): Planned = {
    val m = model
    verb match {
      case "append" =>
        val rows = Seq.fill(AppendRows)(
          freshItem((rnd.nextDouble() * maxOrder).toLong, randomFlag()))
        val df = frame(rows)
        Planned(verb, () => tab.append(df), m ++ rows.map(i => i.id -> i),
          rows.size)
      case "update" =>
        val r = range()
        val hit = m.values.filter(within(_, r)).toSeq
        Planned(verb,
          () => tab.update(inRange(r), Map("qty" -> (col("qty") + 1))),
          m ++ hit.map(i => i.id -> i.copy(qty = i.qty + 1)), hit.size)
      case "delete" | "delete_dv" =>
        val r = range()
        val hit = m.values.filter(within(_, r)).map(_.id).toSeq
        val call: () => Unit =
          if (verb == "delete") () => tab.deleteWhere(inRange(r))
          else () => tab.deleteWhereMergeOnRead(inRange(r))
        Planned(verb, call, m -- hit, hit.size)
      case "merge" =>
        val r = range()
        val upd = m.values.filter(within(_, r)).toSeq
          .map(i => i.copy(cents = i.cents + 100))
        val ins = Seq.fill(MergeInserts)(
          freshItem((rnd.nextDouble() * maxOrder).toLong, randomFlag()))
        val df = frame(upd ++ ins)
        Planned(verb, () => tab.merge(df, Seq("id")),
          m ++ (upd ++ ins).map(i => i.id -> i), upd.size + ins.size)
      case "replace_where" =>
        val r = range()
        val flag = randomFlag()
        val hit = m.values.filter(i => within(i, r) && i.flag == flag).toSeq
        val incoming = hit.map(i => i.copy(qty = i.qty % 50 + 1)) ++
          Seq.fill(ReplaceInserts)(
            freshItem(r._1 + rnd.nextInt(RangeWidth.toInt), flag))
        val df = frame(incoming)
        Planned(verb,
          () => tab.replaceWhere(inRange(r) && col("flag") === flag, df),
          m -- hit.map(_.id) ++ incoming.map(i => i.id -> i),
          hit.size + incoming.size)
      case "optimize" =>
        Planned(verb, () => tab.optimize(), m, 0L)
    }
  }

  // ---- one client operation ----

  /** Per-op observations of a traced round. */
  private val traced = mutable.ArrayBuffer[(String, Span, Map[String, Double])]()
  private val commitLog = mutable.ArrayBuffer[(String, Long, Double, Long)]()

  /** Every verb once in seeded order; the seven commits' follow-up reads
    * are a seeded shuffle of a fixed mix, so every round reads alike. */
  private def round(measure: Boolean, listen: Boolean): Unit = {
    val reads = rnd.shuffle(ReadKinds).iterator
    rnd.shuffle(Verbs).foreach(v => runOp(v, measure, listen,
      if (v == "stream") -1 else reads.next()))
  }

  private def runOp(verb: String, measure: Boolean, listen: Boolean,
      readKind: Int): Unit = {
    val c0 = if (listen) Counters.read() else Map.empty[String, Double]
    val ok = ctx.op {
      if (verb == "stream") streamOp(measure)
      else dmlOp(verb, measure, readKind)
    }
    if (ok && measure) {
      val opSpan = ctx.spans.named("lake.op").last
      ctx.metrics.add("op_ms", opSpan.ms)
      ctx.metrics.add(s"op_ms.$verb", opSpan.ms)
      if (listen)
        traced += ((verb, opSpan, Counters.delta(c0, Counters.read())))
    }
  }

  private def dmlOp(verb: String, measure: Boolean, readKind: Int): Unit = {
    val p = plan(verb)
    val before = tab.version
    ctx.spans("lake.op") {
      ctx.spans(s"lake.commit.$verb")(p.call())
      read(tab.version, readKind)
    }
    val v = tab.version
    if (v == before + 1) versions += p.next
    else require(v == before && p.next == model,
      s"$verb moved the table from v$before to v$v")
    if (measure && ctx.trace && v > before) {
      val span = ctx.measured(s"lake.commit.$verb").last
      val entries = TxLog.commitEntries(fs, rootPath, v)
      val removedRows = entries.flatMap(_.remove).map(_.rows.getOrElse(0L)).sum
      commitLog += ((verb, v, span.ms, removedRows))
      if (p.changed > 0) ctx.metrics.add(s"changed.$verb", p.changed.toDouble)
      ctx.metrics.add("files_added", entries.count(_.add.isDefined))
      ctx.metrics.add("files_removed", entries.count(_.remove.isDefined))
      ctx.metrics.add("bytes_written",
        entries.flatMap(_.add).map(_.bytes.getOrElse(0L)).sum.toDouble)
      ctx.spans("lake.snapshot")(TxLog.snapshot(fs, rootPath))
    }
  }

  /** The read that follows a commit (see [[LakeDml.ReadKinds]]). */
  private def read(v: Long, kind: Int): Unit = {
    val df = ctx.spans("lake.read_plan") {
      kind match {
        case 0 => tab.read()
        case 1 => tab.read(Some((rnd.nextDouble() * v).toLong))
        case _ => tab.readChanges(v, v)
      }
    }
    ctx.spans("lake.read_exec")(
      df.write.format("noop").mode("overwrite").save())
    if (ctx.trace) ctx.metrics.add("files_scanned", df.inputFiles.length)
  }

  /** Row count plus two sums of per-row hashes: equal for equal row
    * multisets. Hashes are reduced modulo a prime so the sums cannot
    * overflow. */
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = Item.schema.fieldNames.toIndexedSeq.map(col)
    val p = lit(2147483647L)
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), p)), lit(0L)),
      coalesce(sum(pmod(hash(cols: _*).cast("long"), p)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Append a seeded slice to the stream's source table, drain it into
    * the sink, then read the sink. */
  private def streamOp(measure: Boolean): Unit = {
    val rows = Seq.fill(StreamRows)(
      freshItem((rnd.nextDouble() * maxOrder).toLong, randomFlag()))
    val df = frame(rows)
    ctx.spans("lake.op") {
      ctx.spans("stream.batch") {
        ctx.spans("stream.append")(src.append(df))
        ctx.spans("stream.drain")(query.processAllAvailable())
      }
      val out = ctx.spans("lake.read_plan")(dst.read())
      ctx.spans("lake.read_exec")(
        out.write.format("noop").mode("overwrite").save())
    }
    streamRows += rows.size
    if (measure && ctx.trace) {
      val progress = query.recentProgress.filter(_.batchId > lastBatch)
      ctx.metrics.add("triggers", progress.length)
      ctx.metrics.add("empty_triggers", progress.count(_.numInputRows == 0))
      progress.foreach(pr => pr.durationMs.asScala.foreach { case (k, v) =>
        ctx.metrics.add(s"trigger.$k", v.toDouble) })
    }
    query.recentProgress.lastOption.foreach(p => lastBatch = p.batchId)
    require(fingerprint(src.read()) == fingerprint(dst.read()),
      "stream sink rows differ from the source's")
  }

  // ---- set-up, loop, checks ----

  private def setup(): Unit = {
    val li = spark.read.parquet(s"${ctx.args.data}/lineitem.parquet")
    val base = li.select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
      col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"),
      col("l_quantity").cast("int").as("qty"),
      col("l_extendedprice").cast("decimal(12,2)").as("price"),
      col("l_returnflag").as("flag"))
    val items = base.collect().map(Item.of)
    maxOrder = items.map(_.orderkey).max + 1
    tab.create(base, Seq("flag"), enableChangeDataFeed = true)
    versions += items.map(i => i.id -> i).toMap
    src.create(frame(Nil))
    dst.create(frame(Nil))
    query = spark.readStream.format("txlog")
      .option("path", ctx.path("stream_src"))
      .load().writeStream.format("txlog").option("path", ctx.path("stream_dst"))
      .option("checkpointLocation", ctx.path("stream_ckpt"))
      .outputMode("append").start()
    ctx.sizes("source_rows") = items.length
    ctx.sizes("source_bytes") = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"${ctx.args.data}/lineitem.parquet")).toDouble
  }

  def run(): Unit = {
    setup()
    try {
      round(measure = false, listen = false)
      // a traced run alternates rounds with the listeners off and on
      val loop = new Loop(ctx, NominalRoundSeconds, if (ctx.trace) 2 else 1)
      (0 until loop.rounds).foreach { r =>
        val listen = ctx.trace && r % 2 == 1
        if (listen) ctx.listeners.start()
        round(measure = true, listen)
        if (listen) ctx.listeners.stop()
      }
      loop.finish()
      ctx.sizes("rounds") = loop.rounds
    } finally query.stop()
    checks()
    if (ctx.trace) layers()
    ctx.sizes("lake_bytes") =
      Files2.treeBytes(java.nio.file.Paths.get(root)).toDouble
    ctx.sizes("lake_commits") = (tab.version + 1).toDouble
    ctx.sizes("checkpoints_crossed") =
      (tab.version / TxLog.checkpointInterval).toDouble
  }

  private def collectItems(df: DataFrame): Map[Long, Item] =
    df.collect().map(r => Item.of(r)).map(i => i.id -> i).toMap

  private def checks(): Unit = {
    val latest = versions.size - 1
    ctx.check("final read")(collectItems(tab.read()) == model)
    Seq.fill(2)(rnd.nextInt(latest)).distinct.foreach(v =>
      ctx.check(s"read(asOf = $v)")(collectItems(tab.read(Some(v.toLong))) ==
        versions(v)))
    Seq.fill(3)(1 + rnd.nextInt(latest)).distinct.foreach { v =>
      ctx.check(s"readChanges($v, $v)")(feedApplies(v))
    }
    ctx.check("stream sink")(fingerprint(src.read()) ==
      fingerprint(dst.read()) && src.read().count() == streamRows)
  }

  /** The change feed of commit v, applied to the model at v − 1, gives
    * the model at v; every deleted or pre-image row existed before. */
  private def feedApplies(v: Int): Boolean = {
    val rows = tab.readChanges(v, v).collect()
    val byType = rows.groupBy(_.getAs[String]("_change_type"))
      .map { case (t, rs) => t -> rs.map(Item.of).toSeq }
    val gone = byType.getOrElse("delete", Nil) ++
      byType.getOrElse("update_preimage", Nil)
    val added = byType.getOrElse("insert", Nil) ++
      byType.getOrElse("update_postimage", Nil)
    val before = versions(v - 1)
    gone.forall(i => before.get(i.id).contains(i)) &&
      (before -- gone.map(_.id) ++ added.map(i => i.id -> i)) == versions(v)
  }

  private def layers(): Unit = {
    val l = ctx.listeners
    l.settle()
    val L = ctx.layers
    val m = ctx.metrics
    Verbs.foreach(vb => L(s"lake.op_ms.$vb") =
      Stat.median(ctx.measured(
        if (vb == "stream") "stream.batch" else s"lake.commit.$vb")
        .map(_.ms)))
    val commitSpans = ctx.spans.all.filter(s =>
      s.name.startsWith("lake.commit.") && s.startMs >= ctx.firstOpEpochMs)
    val commits = commitSpans.map(_.ms)
    L("lake.commit_ms_p50") = Stat.median(commits)
    L("lake.commit_ms_tail") = Stat.quantile(commits, Tail.q)
    val plans = ctx.measured("lake.read_plan")
    val execs = ctx.measured("lake.read_exec")
    val reads = plans.zip(execs).map { case (a, b) => a.ms + b.ms }
    L("lake.read_ms_p50") = Stat.median(reads)
    L("lake.read_ms_tail") = Stat.quantile(reads, Tail.q)
    L("lake.read_plan_ms") = Stat.median(plans.map(_.ms))
    L("lake.read_exec_ms") = Stat.median(execs.map(_.ms))
    L("lake.files_scanned_per_read") = Stat.mean(m.get("files_scanned"))
    L("lake.snapshot_ms") = Stat.median(
      ctx.measured("lake.snapshot").map(_.ms))
    L("lake.checkpoint_commit_ms") = Stat.median(commitLog.collect {
      case (_, v, ms, _) if v % TxLog.checkpointInterval == 0 => ms })
    L("lake.files_added_per_commit") = Stat.mean(m.get("files_added"))
    L("lake.files_removed_per_commit") = Stat.mean(m.get("files_removed"))
    L("lake.bytes_written_per_commit") = Stat.mean(m.get("bytes_written"))
    val cow = Set("update", "delete", "merge", "replace_where")
    val rewritten = commitLog.collect { case (vb, _, _, rows) if cow(vb) =>
      rows }.sum
    val changed = cow.toSeq.flatMap(vb => m.get(s"changed.$vb")).sum
    L("lake.rewrite_amp") = rewritten / math.max(1.0, changed)
    val live = TxLog.snapshot(fs, rootPath).adds.map(_.bytes.getOrElse(0L)).sum
    L("lake.space_amp") = Files2.treeBytes(java.nio.file.Paths.get(root))
      .toDouble / math.max(1L, live)
    // listener-on rounds: engine and filesystem observations per op
    val perOp = traced.map { case (vb, span, counters) =>
      val win = l.window(span.startMs, span.endMs)
      val commitJobs = commitSpans.find(c => c.startMs >= span.startMs &&
        c.endMs <= span.endMs).map(c => l.window(c.startMs, c.endMs)("jobs"))
      (vb, win ++ counters, commitJobs)
    }
    L("lake.jobs_per_commit") = Stat.mean(perOp.flatMap(_._3))
    Seq("jobs", "job_busy_ms", "driver_gap_ms", "analysis_ms",
      "optimization_ms", "planning_ms", "shuffle_bytes").foreach(k =>
      L(s"spark.$k") = Stat.mean(perOp.map(_._2(k))))
    Counters.read().keys.foreach(k => L(k) = Stat.mean(perOp.map(_._2(k))))
    // stream
    val batches = ctx.measured("stream.batch").map(_.ms)
    L("stream.batch_ms_p50") = Stat.median(batches)
    L("stream.batch_ms_tail") = Stat.quantile(batches, Tail.q)
    L("stream.append_ms") = Stat.median(
      ctx.measured("stream.append").map(_.ms))
    L("stream.rows_per_s") = StreamRows * batches.size /
      math.max(1e-9, batches.sum / 1000.0)
    val triggers = m.get("triggers").sum
    L("stream.triggers_per_drain") = Stat.mean(m.get("triggers"))
    L("stream.empty_trigger_ratio") =
      m.get("empty_triggers").sum / math.max(1.0, triggers)
    Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "planning_ms",
      "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms").foreach { case (k, n) =>
      L(s"stream.$n") = Stat.mean(m.get(s"trigger.$k")) }
    // overhead: per verb, listener-on vs listener-off median op latency
    val on = traced.map(t => t._1 -> t._2.ms).groupMap(_._1)(_._2)
    val ratios = Verbs.flatMap { vb =>
      val all = m.get(s"op_ms.$vb")
      val onMs = on.getOrElse(vb, Nil)
      val offMs = all.diff(onMs)
      if (onMs.isEmpty || offMs.isEmpty) None
      else Some(Stat.median(onMs.toSeq) / Stat.median(offMs))
    }
    L("trace.overhead_pct") = (Stat.median(ratios) - 1.0) * 100.0
  }
}

object LakeDml {
  val Verbs: Seq[String] = Seq("append", "update", "delete", "delete_dv",
    "merge", "replace_where", "optimize", "stream")
  val Flags: Seq[String] = Seq("A", "N", "R")
  /** Follow-up reads of one round: 0 = current snapshot, 1 = an earlier
    * version, 2 = the change feed of the commit just made. */
  val ReadKinds: Seq[Int] = Seq(0, 0, 0, 1, 1, 2, 2)
  val RangeWidth = 40L
  val AppendRows = 200
  val MergeInserts = 50
  val ReplaceInserts = 20
  val StreamRows = 300
  /** Rough wall of one round on a 4-core host; sets the round count. */
  val NominalRoundSeconds = 6.0
}
