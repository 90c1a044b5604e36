package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.TxLog.{Add, LogEntry, Stat}

/** Conflict-checked commit retry ([[TxTable.commitRebasing]], the
  * WriteSerializable slice of Delta's ConflictChecker): a staged
  * predicate mutation that loses the version race to a DISJOINT blind
  * append re-commits the same staged entries one version forward —
  * metadata-only — instead of redoing the scan+rewrite; any winner it
  * cannot PROVE harmless (overlapping stats, stats-less add, a remove,
  * a metadata change, an unminable predicate) falls back to the full
  * recompute. In-package because the rebase path is deterministic only
  * when the winner is planted between snapshot and commit.
  */
class ConflictRebaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): (TxTable, Path,
      org.apache.hadoop.fs.FileSystem) = {
    val root = new Path(Files.createTempDirectory(s"rebase_$tag")
      .resolve("tbl").toString)
    val tab = new TxTable(spark, root.toString)
    // range layout: tight per-file id stats, so disjointness is provable
    tab.create(spark.range(0L, 1000L).toDF("id")
      .repartitionByRange(4, $"id"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (tab, root, fs)
  }

  private def plantedAppend(lo: Long, hi: Long): Seq[LogEntry] = Seq(
    LogEntry(add = Some(Add(s"fake/app_${lo}_$hi.parquet", hi - lo + 1,
      Map.empty, Map("id" -> Stat("l", lo.toString, hi.toString)),
      bytes = Some(1L)))),
    LogEntry(info = Some(TxLog.Info("APPEND", -1L))))

  private def stagedDelete(tab: TxTable, snap: TxLog.Snapshot)
      : Seq[LogEntry] = {
    // a real staged rewrite of the file(s) holding id <= 50, prepared
    // BEFORE the winner lands (the racing-writer timeline)
    val doomed = snap.adds.filter(_.stats.get("id")
      .exists(_.min.toLong <= 50L))
    assert(doomed.nonEmpty)
    doomed.map(a => LogEntry(remove = Some(TxLog.Remove(a.path)))) :+
      LogEntry(info = Some(TxLog.Info("DELETE", snap.version)))
  }

  test("a staged delete rebases past a disjoint blind append — same " +
      "entries, one version forward, no recompute") {
    val (tab, root, fs) = freshTable("disjoint")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    // the race: a blind append to a FAR id range wins snap.version + 1
    // after this writer resolved its snapshot
    assert(TxLog.tryCommit(fs, root, snap.version + 1,
      plantedAppend(100000L, 100099L)))
    val v = tab.commitRebasing(snap, entries, col("id") <= 50L)
    assert(v === Some(snap.version + 2),
      "the staged commit must land one version past the disjoint winner")
    val committed = TxLog.commitEntries(fs, root, snap.version + 2)
    assert(committed.flatMap(_.remove) === entries.flatMap(_.remove),
      "the REBASED commit carries the staged entries verbatim")
    // serializability: both the winner's rows and the delete applied
    val head = TxLog.snapshot(fs, root)
    assert(head.adds.exists(_.path.startsWith("fake/app_")))
    assert(!head.adds.exists(a => entries.flatMap(_.remove)
      .map(_.path).contains(a.path)))
  }

  test("consecutive disjoint winners rebase repeatedly") {
    val (tab, root, fs) = freshTable("multi")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    assert(TxLog.tryCommit(fs, root, snap.version + 1,
      plantedAppend(200000L, 200099L)))
    assert(TxLog.tryCommit(fs, root, snap.version + 2,
      plantedAppend(300000L, 300099L)))
    assert(tab.commitRebasing(snap, entries, col("id") <= 50L) ===
      Some(snap.version + 3))
  }

  test("an OVERLAPPING append refuses the rebase — the mutation must " +
      "reprocess the winner's rows") {
    val (tab, root, fs) = freshTable("overlap")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    // winner's stats overlap id <= 50: those rows may match the
    // predicate and the staged work never saw them
    assert(TxLog.tryCommit(fs, root, snap.version + 1,
      plantedAppend(40L, 60L)))
    assert(tab.commitRebasing(snap, entries, col("id") <= 50L).isEmpty)
  }

  test("a remove-carrying or meta-carrying winner refuses the rebase") {
    val (tab, root, fs) = freshTable("unsafe")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    // winner deletes a file (e.g. another writer's compaction)
    assert(TxLog.tryCommit(fs, root, snap.version + 1, Seq(
      LogEntry(remove = Some(TxLog.Remove(snap.adds.last.path))),
      LogEntry(info = Some(TxLog.Info("DELETE", snap.version))))))
    assert(tab.commitRebasing(snap, entries, col("id") <= 50L).isEmpty)

    val (tab2, root2, fs2) = freshTable("meta")
    val snap2 = TxLog.snapshot(fs2, root2)
    val entries2 = stagedDelete(tab2, snap2)
    assert(TxLog.tryCommit(fs2, root2, snap2.version + 1, Seq(
      LogEntry(meta = Some(snap2.meta.copy(
        constraints = Some(List("id >= 0"))))),
      LogEntry(info = Some(TxLog.Info("ADD_CONSTRAINT", snap2.version))))))
    assert(tab2.commitRebasing(snap2, entries2, col("id") <= 50L).isEmpty)
  }

  test("a stats-less winner add or an unminable predicate refuses " +
      "(disjointness must be PROVEN, not assumed)") {
    val (tab, root, fs) = freshTable("noproof")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    assert(TxLog.tryCommit(fs, root, snap.version + 1, Seq(
      LogEntry(add = Some(Add("fake/nostats.parquet", 10L,
        Map.empty, Map.empty, bytes = Some(1L)))),
      LogEntry(info = Some(TxLog.Info("APPEND", -1L))))))
    assert(tab.commitRebasing(snap, entries, col("id") <= 50L).isEmpty,
      "an add with no stats could hold matching rows")

    val (tab2, root2, fs2) = freshTable("unmin")
    val snap2 = TxLog.snapshot(fs2, root2)
    val entries2 = stagedDelete(tab2, snap2)
    assert(TxLog.tryCommit(fs2, root2, snap2.version + 1,
      plantedAppend(400000L, 400099L)))
    // id % 7 === 0 mines no range constraint: nothing to prove with
    assert(tab2.commitRebasing(snap2, entries2,
      col("id") % 7 === 0L).isEmpty)
  }

  test("keyed constraints rebase too (merge/applyChanges's entry): " +
      "source-key range vs winner stats") {
    val (tab, root, fs) = freshTable("keyed")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    assert(TxLog.tryCommit(fs, root, snap.version + 1,
      plantedAppend(500000L, 500099L)))
    // the keyed form: the source-key range as a predicate, as merge
    // derives it from its source-key range aggregation
    assert(tab.commitRebasing(snap, entries,
      col("id").between(0L, 50L)) === Some(snap.version + 2))
    // overlap through the keyed form refuses
    val (tab2, root2, fs2) = freshTable("keyedover")
    val snap2 = TxLog.snapshot(fs2, root2)
    val entries2 = stagedDelete(tab2, snap2)
    assert(TxLog.tryCommit(fs2, root2, snap2.version + 1,
      plantedAppend(40L, 60L)))
    assert(tab2.commitRebasing(snap2, entries2,
      col("id").between(0L, 50L)).isEmpty)
    // no key range (null-safe keys with nulls, unprunable types) is the
    // always-true predicate, which refuses — nothing provable
    val (tab3, root3, fs3) = freshTable("keyedempty")
    val snap3 = TxLog.snapshot(fs3, root3)
    val entries3 = stagedDelete(tab3, snap3)
    assert(TxLog.tryCommit(fs3, root3, snap3.version + 1,
      plantedAppend(600000L, 600099L)))
    assert(tab3.commitRebasing(snap3, entries3, lit(true)).isEmpty)
  }

  test("a winner advancing OUR app's txn watermark refuses the rebase — " +
      "a streaming retry racing itself must not double-apply its batch") {
    val (tab, root, fs) = freshTable("txnclash")
    val snap = TxLog.snapshot(fs, root)
    // our staged commit carries the idempotence watermark (app, 7) —
    // an appendIdempotent/merge-shaped commit
    val entries = Seq(
      LogEntry(add = Some(Add("fake/ours.parquet", 10L, Map.empty,
        Map("id" -> Stat("l", "900000", "900009")), bytes = Some(1L)))),
      LogEntry(txn = Some(TxLog.Txn("app", 7L))),
      LogEntry(info = Some(TxLog.Info("APPEND", snap.version))))
    // the winner is OUR OWN batch's duplicate: same watermark, add-only,
    // stats disjoint from anything — it would pass every other check
    assert(TxLog.tryCommit(fs, root, snap.version + 1, Seq(
      LogEntry(add = Some(Add("fake/dup.parquet", 10L, Map.empty,
        Map("id" -> Stat("l", "900000", "900009")), bytes = Some(1L)))),
      LogEntry(txn = Some(TxLog.Txn("app", 7L))),
      LogEntry(info = Some(TxLog.Info("APPEND", snap.version))))))
    assert(tab.commitRebasingWhere(snap, entries, _ => true).isEmpty,
      "rebasing past our own duplicate would apply the batch twice")
    // a DIFFERENT app's watermark is someone else's stream — safe
    val (tab2, root2, fs2) = freshTable("otherapp")
    val snap2 = TxLog.snapshot(fs2, root2)
    assert(TxLog.tryCommit(fs2, root2, snap2.version + 1, Seq(
      LogEntry(add = Some(Add("fake/other.parquet", 10L, Map.empty,
        Map("id" -> Stat("l", "800000", "800009")), bytes = Some(1L)))),
      LogEntry(txn = Some(TxLog.Txn("otherapp", 3L))),
      LogEntry(info = Some(TxLog.Info("APPEND", snap2.version))))))
    val entries2 = Seq(
      LogEntry(add = Some(Add("fake/ours2.parquet", 10L, Map.empty,
        Map("id" -> Stat("l", "900000", "900009")), bytes = Some(1L)))),
      LogEntry(txn = Some(TxLog.Txn("app", 7L))),
      LogEntry(info = Some(TxLog.Info("APPEND", snap2.version))))
    assert(tab2.commitRebasingWhere(snap2, entries2, _ => true) ===
      Some(snap2.version + 2))
  }

  test("pure rewrites rebase past ANY blind append, overlap included — " +
      "content preservation needs no disjointness proof") {
    val (tab, root, fs) = freshTable("pure")
    val snap = TxLog.snapshot(fs, root)
    val entries = stagedDelete(tab, snap)
    // stats overlap would refuse a predicate mutation; a pure rewrite
    // (optimize/repartitionRewrite/bloom backfill) takes it
    assert(TxLog.tryCommit(fs, root, snap.version + 1,
      plantedAppend(0L, 999L)))
    assert(tab.commitRebasingWhere(snap, entries, _ => true) ===
      Some(snap.version + 2))
    // a remove-carrying winner still refuses even for pure rewrites
    val (tab2, root2, fs2) = freshTable("pureunsafe")
    val snap2 = TxLog.snapshot(fs2, root2)
    val entries2 = stagedDelete(tab2, snap2)
    assert(TxLog.tryCommit(fs2, root2, snap2.version + 1, Seq(
      LogEntry(remove = Some(TxLog.Remove(snap2.adds.last.path))),
      LogEntry(info = Some(TxLog.Info("DELETE", snap2.version))))))
    assert(tab2.commitRebasingWhere(snap2, entries2, _ => true).isEmpty)
  }

  test("end-to-end: optimize races a live blind append and both land") {
    val (tab, root, fs) = freshTable("e2eopt")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val opt = scala.concurrent.Future(tab.optimize())
      val app = scala.concurrent.Future(
        tab.append(spark.range(8000L, 8100L).toDF("id")))
      scala.concurrent.Await.result(opt, scala.concurrent.duration
        .Duration(120, "s"))
      scala.concurrent.Await.result(app, scala.concurrent.duration
        .Duration(120, "s"))
      val ids = tab.read().as[Long].collect().toSet
      assert(ids === ((0L until 1000L) ++ (8000L until 8100L)).toSet)
    } finally pool.shutdown()
  }

  test("end-to-end: merge races a live blind append and both land") {
    val (tab, root, fs) = freshTable("e2emerge")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val mrg = scala.concurrent.Future(tab.merge(
        spark.range(0L, 50L).toDF("id"), Seq("id")))
      val app = scala.concurrent.Future(
        tab.append(spark.range(7000L, 7100L).toDF("id")))
      scala.concurrent.Await.result(mrg, scala.concurrent.duration
        .Duration(120, "s"))
      scala.concurrent.Await.result(app, scala.concurrent.duration
        .Duration(120, "s"))
      val ids = tab.read().as[Long].collect().sorted
      assert(ids === ((0L until 1000L) ++ (7000L until 7100L)).sorted,
        "merge dedups keys 0..49 into one copy; appends all kept")
    } finally pool.shutdown()
  }

  test("end-to-end: deleteWhere races a live blind append and both land") {
    val (tab, root, fs) = freshTable("e2e")
    // run them truly concurrently a few times — whatever the interleave,
    // the final state must be serializable (delete applied, appends kept)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val del = scala.concurrent.Future(tab.deleteWhere(col("id") < 100L))
      val app = scala.concurrent.Future(
        tab.append(spark.range(5000L, 5100L).toDF("id")))
      scala.concurrent.Await.result(del, scala.concurrent.duration
        .Duration(120, "s"))
      scala.concurrent.Await.result(app, scala.concurrent.duration
        .Duration(120, "s"))
      val ids = tab.read().as[Long].collect().toSet
      assert(ids === ((100L until 1000L) ++ (5000L until 5100L)).toSet)
    } finally pool.shutdown()
  }

  /** Runs `op` against a live blind append of `appended` ids and returns
    * the table's ids and commit operations once both have landed. */
  private def raceAppend(tab: TxTable, appended: (Long, Long))(
      op: => Long): (Seq[Long], Seq[String]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val mut = scala.concurrent.Future(op)
      val app = scala.concurrent.Future(
        tab.append(spark.range(appended._1, appended._2).toDF("id")))
      val wait = scala.concurrent.duration.Duration(120, "s")
      scala.concurrent.Await.result(mut, wait)
      scala.concurrent.Await.result(app, wait)
      (tab.read().as[Long].collect().sorted.toSeq,
        tab.history().select("op").as[String].collect().toSeq)
    } finally pool.shutdown()
  }

  test("end-to-end: applyChanges races a live blind append and both land") {
    val (tab, _, _) = freshTable("e2eapply")
    // deletes retract 0..9, inserts re-land 10..19 and add 3000..3009
    val slice = spark.range(0L, 20L).union(spark.range(3000L, 3010L))
      .select(col("id"), when(col("id") < 10L, lit("delete"))
        .otherwise(lit("insert")).as("_change_type"))
    val (ids, ops) = raceAppend(tab, (6000L, 6100L))(
      tab.applyChanges(slice, Seq("id")))
    assert(ids === ((10L until 1000L) ++ (3000L until 3010L) ++
      (6000L until 6100L)))
    assert(ops.contains("APPLY_CHANGES") && ops.contains("APPEND"), ops)
  }

  test("end-to-end: a keyed mergeInto races a live blind append and " +
      "both land") {
    val (tab, _, _) = freshTable("e2emergeinto")
    val src = spark.range(0L, 50L).union(spark.range(1000L, 1010L))
      .toDF("id")
    val (ids, ops) = raceAppend(tab, (8000L, 8100L))(
      tab.mergeInto(src, Seq("id")).whenMatchedDelete()
        .whenNotMatchedInsert().execute())
    assert(ids === ((50L until 1010L) ++ (8000L until 8100L)))
    assert(ops.contains("MERGE_INTO") && ops.contains("APPEND"), ops)
  }
}
