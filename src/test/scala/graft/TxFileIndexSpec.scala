package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.lake.{TxFileIndex, TxLog, TxTable}

/** The native-FileIndex read path ([[graft.lake.TxFileIndex]] — the
  * log serving Spark's planner directly, Delta's TahoeFileIndex
  * design): plan shape (ONE FileSourceScanExec over the log's files,
  * partition pruning inside the planner), log-stats file skipping
  * through the planner's own listFiles callback, plan-time costing
  * from logged file sizes (no filesystem RPCs), and that every read —
  * time travel, schema evolution, merge-on-read files, mutation scans
  * and mixed partition layouts — plans natively.
  */
class TxFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"txfidx_$tag").resolve("tbl").toString

  private def docs(n: Int): DataFrame =
    spark.range(n.toLong).select(
      $"id",
      concat(lit("doc-"), $"id").as("text"),
      ($"id" % 3).cast("string").as("lang"),
      ($"id" * 10).as("score"))

  /** The single native scan node of a txlog-read plan. */
  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.length === 1,
      s"expected ONE native scan, got ${scans.length}")
    scans.head
  }

  test("snapshot read plans as ONE FileSourceScanExec over a TxFileIndex") {
    val tab = new TxTable(spark, freshRoot("one"))
    tab.create(docs(60), partitionCols = Seq("lang"))
    tab.append(docs(60).withColumn("id", $"id" + 100))
    val df = tab.read()
    val scan = scanOf(df)
    assert(scan.relation.location.isInstanceOf[TxFileIndex])
    // content parity: both commits' rows, partition values from the log
    assert(df.count() === 120)
    assert(df.where($"lang" === "2").count() === 40)
  }

  test("partition filters prune inside the planner, not after the scan") {
    val tab = new TxTable(spark, freshRoot("pp"))
    tab.create(docs(90), partitionCols = Seq("lang"))
    val pruned = tab.read().where($"lang" === "1")
    val scan = scanOf(pruned)
    // the partition predicate must land in the scan's partitionFilters
    assert(scan.partitionFilters.nonEmpty,
      "partition filter was not pushed into the scan")
    // and the scan must list strictly fewer files than the full table
    val fullFiles = scanOf(tab.read()).relation.location
      .listFiles(Nil, Nil).map(_.files.size).sum
    val scanned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).map(_.files.size).sum
    assert(scanned < fullFiles)
    assert(pruned.count() === 30)
  }

  test("log-stats skipping: a range predicate drops files at plan time") {
    val tab = new TxTable(spark, freshRoot("skip"))
    // 4 appends with disjoint id ranges → 4+ files with disjoint stats
    tab.create(docs(25))
    tab.append(docs(25).withColumn("id", $"id" + 1000))
    tab.append(docs(25).withColumn("id", $"id" + 2000))
    tab.append(docs(25).withColumn("id", $"id" + 3000))
    val df = tab.read().where($"id" >= 2000L && $"id" < 2025L)
    val scan = scanOf(df)
    val kept = scan.relation.location
      .listFiles(Nil, scan.dataFilters).map(_.files.size).sum
    val all = scan.relation.location.listFiles(Nil, Nil).map(_.files.size).sum
    assert(kept < all, s"stats skipping kept $kept of $all files")
    assert(df.count() === 25)
  }

  test("plan-time sizing comes from the log's recorded bytes (no RPC)") {
    val root = freshRoot("bytes")
    val tab = new TxTable(spark, root)
    tab.create(docs(50))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(root))
    // every add written by this code records its size
    assert(snap.adds.forall(_.bytes.isDefined))
    val idx = new TxFileIndex(spark, new Path(root), snap, snap.adds)
    val fromLog = idx.sizeInBytes
    val fromFs = snap.adds.map(a =>
      fs.getFileStatus(new Path(new Path(root), a.path)).getLen).sum
    assert(fromLog === fromFs)
  }

  test("native path parity with the legacy union path (time travel + evolution)") {
    val tab = new TxTable(spark, freshRoot("par"))
    tab.create(docs(40), partitionCols = Seq("lang"))
    tab.append(docs(40).withColumn("id", $"id" + 100)
      .withColumn("extra", lit(7L))) // additive evolution
    tab.deleteWhere($"score" > 300 && $"id" < 100)
    // head: evolved schema, nulls backfilled, delete applied
    val head = tab.read().orderBy("id")
    assert(head.columns.toSeq === Seq("id", "text", "lang", "score", "extra"))
    assert(head.where($"extra".isNull).count() === 31) // 40 - 9 deleted
    // v0 time travel still serves the pre-evolution schema natively
    val v0 = tab.read(asOf = Some(0L))
    assert(scanOf(v0).relation.location.isInstanceOf[TxFileIndex])
    assert(v0.count() === 40)
  }

  /** Every file-source scan of `df`'s pre-AQE plan (a broadcast join
    * wraps the executed plan in AdaptiveSparkPlanExec, which hides the
    * scans from a plain collect). */
  private def nativeScans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  test("merge-on-read files read through the ONE native scan") {
    val tab = new TxTable(spark, freshRoot("dv"))
    tab.create(docs(100))
    tab.deleteWhereMergeOnRead($"id" === 7L)
    val df = tab.read()
    // content first: the DV row is gone
    assert(df.count() === 99)
    assert(df.where($"id" === 7L).count() === 0)
    // the DV'd file reads through the same scan as every plain file
    val scans = nativeScans(df)
    assert(scans.length === 1, s"expected ONE native scan, got ${scans.length}")
    assert(scans.head.relation.location.isInstanceOf[TxFileIndex])
  }

  test("a withFileCol mutation scan reads through ONE native scan") {
    val tab = new TxTable(spark, freshRoot("mut"))
    tab.create(docs(90).repartition(3), partitionCols = Seq("lang"))
    // a file scan RDD per stage the delete runs: its match probe and its
    // rewrite each read the three partition tuples' files as ONE scan
    val scansPerStage =
      new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        scansPerStage.add(
          e.stageInfo.rddInfos.count(_.name == "FileScanRDD")): Unit
    }
    spark.sparkContext.addSparkListener(l)
    val jobs = try jobsOf(tab.deleteWhere($"id" % 10 === 3L))
      finally spark.sparkContext.removeSparkListener(l)
    assert(jobs > 0)
    val perStage = scansPerStage.asScala.toSeq.map(_.intValue)
    assert(perStage.exists(_ == 1) && perStage.forall(_ <= 1),
      s"file scans per stage: $perStage")
    val left = tab.read()
    assert(left.count() === 81)
    assert(left.where($"id" % 10 === 3L).count() === 0)
  }

  test("a two-layout read after repartitionBy plans one native scan per layout") {
    val tab = new TxTable(spark, freshRoot("evo"))
    tab.create(docs(60), partitionCols = Seq("lang"))
    tab.repartitionBy(Seq("score"))
    tab.append(docs(30).withColumn("id", $"id" + 100))
    val df = tab.read()
    val scans = nativeScans(df)
    assert(scans.length === 2, s"expected two native scans, got ${scans.length}")
    assert(scans.forall(_.relation.location.isInstanceOf[TxFileIndex]))
    assert(scans.map(_.relation.partitionSchema.fieldNames.toSeq).toSet ===
      Set(Seq("lang"), Seq("score")))
    // partition values from the log in one layout, bytes in the other
    val byLang = df.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang === Map("0" -> 30L, "1" -> 30L, "2" -> 30L))
    // a data filter in the old layout, a partition filter in the new one
    assert(df.where($"score" === 50L).select("id").as[Long].collect()
      .toSet === Set(5L, 105L))
  }

  test("a query WHERE composes with skipping — no readBetween routing needed") {
    val tab = new TxTable(spark, freshRoot("comp"))
    tab.create(docs(25))
    tab.append(docs(25).withColumn("id", $"id" + 1000))
    tab.append(docs(25).withColumn("id", $"id" + 2000))
    // an ordinary .where on the snapshot read — the planner's
    // listFiles callback applies the same skipping readBetween does
    val q = tab.read().where($"id".between(1000L, 1024L))
      .agg(count(lit(1)).as("n"), sum($"score").as("s"))
    val viaBetween = tab.readBetween("id", 1000L, 1024L)
      .agg(count(lit(1)).as("n"), sum($"score").as("s"))
    assert(q.collect().toSeq === viaBetween.collect().toSeq)
  }
}
