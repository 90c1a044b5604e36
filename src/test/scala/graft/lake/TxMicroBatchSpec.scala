package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** [[TxMicroBatchStream]] — the DSv2 streaming read (round-12 verdict
  * item 2): append-mode micro-batches planned as native FilePartitions
  * straight from the log through the PUBLIC connector API (no
  * `private[sql]` bridge on this path), admission control from log
  * metadata, Trigger.AvailableNow, streaming BY TABLE NAME, and
  * checkpoints written under the `txlog-stream` alias resuming.
  */
class TxMicroBatchSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"txmb_$tag").resolve("tbl").toString

  private def docs(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id", concat(lit("doc-"), $"id").as("text"))

  test("DSv2 append stream by path: separate micro-batches, " +
      "exactly once") {
    val root = freshRoot("mb")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_mb").start()
    try {
      q.processAllAvailable()
      tab.append(docs(5, from = 100L))
      q.processAllAvailable()
      tab.append(docs(5, from = 200L))
      q.processAllAvailable()
      val got = spark.table("txmb_mb").select($"id").as[Long]
        .collect().sorted
      assert(got.length === 20)
      assert(got.count(_ >= 200L) === 5)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("streaming BY NAME: readStream.table over a catalog lake table") {
    spark.conf.set("spark.sql.catalog.mbcat",
      "graft.lake.catalog.TxCatalog")
    val wh = Files.createTempDirectory("txmb_wh").toString
    spark.conf.set("spark.sql.catalog.mbcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mbcat.str")
    spark.sql("CREATE TABLE mbcat.str.events (k BIGINT, v STRING) " +
      "USING txlog")
    spark.sql("INSERT INTO mbcat.str.events VALUES (1, 'a'), (2, 'b')")
    val q = spark.readStream.table("mbcat.str.events")
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_byname").start()
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO mbcat.str.events VALUES (3, 'c')")
      q.processAllAvailable()
      assert(spark.table("txmb_byname").select($"k").as[Long]
        .collect().sorted.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("admission control: maxVersionsPerTrigger paces a backlog " +
      "into multiple batches") {
    val root = freshRoot("pace")
    val tab = new TxTable(spark, root)
    tab.create(docs(2))
    (1 to 4).foreach(i => tab.append(docs(2, from = i * 100L)))
    // 5 versions of backlog, 2 per trigger → >= 3 non-empty batches
    val q = spark.readStream.format("txlog")
      .option("path", root).option("maxVersionsPerTrigger", "2").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_pace").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txmb_pace").count() === 10)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("admission control: maxFilesPerTrigger budgets whole versions " +
      "from log metadata") {
    val root = freshRoot("files")
    val tab = new TxTable(spark, root)
    tab.create(docs(2).coalesce(1))
    (1 to 3).foreach(i =>
      tab.append(docs(2, from = i * 100L).coalesce(1)))
    val q = spark.readStream.format("txlog")
      .option("path", root).option("maxFilesPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_files").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txmb_files").count() === 8)
      // one single-file version per batch → 4 non-empty batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the pinned backlog under the " +
      "per-batch cap, then stops") {
    val root = freshRoot("avnow")
    val tab = new TxTable(spark, root)
    tab.create(docs(3))
    tab.append(docs(3, from = 100L))
    tab.append(docs(3, from = 200L))
    val q = spark.readStream.format("txlog")
      .option("path", root).option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("txmb_avnow").start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate")
    assert(spark.table("txmb_avnow").count() === 9)
  }

  test("non-append commit refuses; ignoreChanges re-emits surviving " +
      "rows") {
    val root = freshRoot("refuse")
    val tab = new TxTable(spark, root)
    // ONE file, so the delete's copy-on-write rewrite holds surviving
    // rows to re-emit (multi-file layouts can drop whole files instead)
    tab.create(docs(10).coalesce(1))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_refuse").start()
    try {
      q.processAllAvailable()
      tab.deleteWhere($"id" >= 5L)
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(e.getMessage.contains("ignoreChanges") ||
        Option(e.getCause).exists(_.getMessage.contains("ignoreChanges")))
    } finally q.stop()
    // ignoreChanges over the same history: rewritten files re-emit
    // their surviving rows (documented at-least-once for touched files)
    val q2 = spark.readStream.format("txlog")
      .option("path", root).option("ignoreChanges", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_ignore").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("txmb_ignore").select($"id").as[Long]
        .collect().sorted
      // 10 from the create +, from the delete's rewrite, the <5 rows
      assert(got.count(_ < 5L) === 10)   // 5 original + 5 re-emitted
      assert(got.count(_ >= 5L) === 5)   // deleted rows from v0 only
    } finally q2.stop()
  }

  test("pure rewrites (OPTIMIZE) stream nothing") {
    val root = freshRoot("opt")
    val tab = new TxTable(spark, root)
    tab.create(docs(4).repartition(4))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_opt").start()
    try {
      q.processAllAvailable()
      tab.optimize()
      tab.append(docs(2, from = 500L))
      q.processAllAvailable()
      assert(spark.table("txmb_opt").count() === 6)
    } finally q.stop()
  }

  test("column pruning + pushed filters + partitioned order: the " +
      "projection restores the pinned column order") {
    val root = freshRoot("prune")
    val tab = new TxTable(spark, root)
    // partition column in the MIDDLE of the declared schema: the
    // reader's data-then-partition output order must be restored
    val df = spark.range(6).select(
      $"id".as("k"), (($"id" % 2) === 0).cast("string").as("bucket"),
      ($"id" * 1.5).as("score"))
    tab.create(df, partitionCols = Seq("bucket"))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .where($"bucket" === "true").select($"k", $"bucket", $"score")
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_prune").start()
    try {
      q.processAllAvailable()
      tab.append(spark.range(10, 14).select(
        $"id".as("k"), (($"id" % 2) === 0).cast("string").as("bucket"),
        ($"id" * 1.5).as("score")))
      q.processAllAvailable()
      val rows = spark.table("txmb_prune")
        .select($"k", $"bucket", $"score").collect()
      assert(rows.forall(_.getString(1) == "true"))
      assert(rows.map(_.getLong(0)).sorted.toSeq ===
        Seq(0L, 2L, 4L, 10L, 12L))
      assert(rows.forall(r => r.getDouble(2) === r.getLong(0) * 1.5))
    } finally q.stop()
  }

  test("V1 checkpoint resumes under the DSv2 source: offsets are " +
      "byte-compatible") {
    val root = freshRoot("compat")
    val out = Files.createTempDirectory("txmb_out").toString
    val ckpt = Files.createTempDirectory("txmb_ckpt").toString
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    // written under the `txlog-stream` alias, the name V1 streams used
    val q1 = spark.readStream.format("txlog-stream")
      .option("path", root).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()
    tab.append(docs(5, from = 100L))
    // SAME checkpoint, DSv2 source: resumes at the next version
    val q2 = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select($"id").as[Long]
      .collect().sorted
    assert(got.length === 15,
      s"exactly-once across the V1→DSv2 handover, got ${got.length}")
  }

  test("rename mid-stream: physical-name addressing keeps the pinned " +
      "columns coherent") {
    val root = freshRoot("rename")
    val tab = new TxTable(spark, root)
    tab.create(docs(3))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_rename").start()
    try {
      q.processAllAvailable()
      tab.renameColumn("text", "body")
      tab.append(spark.range(100, 103).select(
        $"id", concat(lit("doc-"), $"id").as("body")))
      q.processAllAvailable()
      // pinned schema says (id, text): post-rename rows still arrive
      // under the pinned spelling, values intact
      val rows = spark.table("txmb_rename")
        .select($"id", $"text").collect()
      assert(rows.length === 6)
      assert(rows.forall(r => r.getString(1) == s"doc-${r.getLong(0)}"))
    } finally q.stop()
  }

  test("CDF streaming through the DSv2 source: captured change data " +
      "plans as FilePartitions, insert commits constant-fill, the " +
      "feed matches readChanges") {
    val root = freshRoot("cdf")
    val tab = new TxTable(spark, root)
    tab.create(docs(4)) // v0: pre-enablement insert (plannable)
    tab.enableChangeDataFeed()
    tab.append(docs(2, from = 10L)) // insert commit
    tab.deleteWhere($"id" === 1L) // captured delete
    val q = spark.readStream.format("txlog")
      .option("path", root)
      .option("readChangeFeed", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_cdf").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("txmb_cdf")
      .select($"id", $"_change_type", $"_commit_version")
      .as[(Long, String, Long)].collect().toSet
    val want = tab.readChanges(0L, tab.version)
      .select($"id", $"_change_type", $"_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(got === want,
      s"the DSv2 feed must equal readChanges;\n got  $got\n want $want")
    assert(got.exists(_._2 == "delete"), "captured deletes must arrive")
    assert(got.count(_._2 == "insert") === 6)
    // a NEW append continues the stream incrementally
    val q2 = spark.readStream.format("txlog")
      .option("path", root)
      .option("readChangeFeed", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_cdf2").start()
    try {
      q2.processAllAvailable()
      tab.append(docs(1, from = 50L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table("txmb_cdf2").where($"id" === 50L).count() === 1)
  }

  test("CDF streaming refusals: a non-CDF table refuses at start; a " +
      "pre-enablement row-CHANGING commit refuses toward the V1 diff") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val plain = freshRoot("cdfplain")
    new TxTable(spark, plain).create(docs(2))
    val e = intercept[Exception] {
      val q = spark.readStream.format("txlog")
        .option("path", plain)
        .option("readChangeFeed", "true").load()
        .writeStream.outputMode("append")
        .format("memory").queryName("txmb_cdf_plain").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e).exists(_.contains("change data feed")),
      s"a non-CDF table must refuse at start: ${msgs(e).mkString(" | ")}")
    // delete BEFORE enablement: nothing was captured for that commit
    val root = freshRoot("cdfpre")
    val tab = new TxTable(spark, root)
    tab.create(docs(4))
    tab.deleteWhere($"id" === 0L) // uncaptured row change
    tab.enableChangeDataFeed()
    val enableV = tab.version
    val e2 = intercept[Exception] {
      val q = spark.readStream.format("txlog")
        .option("path", root)
        .option("readChangeFeed", "true").load()
        .writeStream.outputMode("append")
        .format("memory").queryName("txmb_cdf_pre").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(msgs(e2).exists(_.contains("before the feed was enabled")),
      s"uncaptured change must refuse: ${msgs(e2).mkString(" | ")}")
    // startingVersion AT the enablement skips the uncaptured history
    tab.append(docs(2, from = 20L))
    val q3 = spark.readStream.format("txlog")
      .option("path", root)
      .option("readChangeFeed", "true")
      .option("startingVersion", enableV.toString).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_cdf_from").start()
    try q3.processAllAvailable() finally q3.stop()
    val got = spark.table("txmb_cdf_from")
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(got === Set((20L, "insert"), (21L, "insert")))
  }

  test("non-identity layouts read COLUMNAR: a renamed column and a " +
      "mid-schema partition column go through the vectorized reader " +
      "(pointer-permuted batch), not the row fallback") {
    val root = freshRoot("colnar")
    val tab = new TxTable(spark, root)
    // partition column in the MIDDLE: reader output (data, partition)
    // order differs from the pinned order → the permuting wrapper
    tab.create(spark.range(4).select(
      $"id".as("k"), ($"id" % 2).cast("string").as("bucket"),
      concat(lit("w-"), $"id").as("w")),
      partitionCols = Seq("bucket"))
    tab.renameColumn("w", "word") // physical name now differs too
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txmb_colnar").start()
    try {
      q.processAllAvailable()
      tab.append(spark.range(10, 12).select(
        $"id".as("k"), ($"id" % 2).cast("string").as("bucket"),
        concat(lit("w-"), $"id").as("word")))
      q.processAllAvailable()
      val rows = spark.table("txmb_colnar")
        .select($"k", $"bucket", $"word").collect()
      assert(rows.length === 6)
      assert(rows.forall(r => r.getString(2) == s"w-${r.getLong(0)}"))
      assert(rows.forall(r =>
        r.getString(1) == (r.getLong(0) % 2).toString))
      // the LAST micro-batch's physical plan consumed a COLUMNAR scan
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
        .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val columnar = exec.collect {
        case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
      }
      assert(columnar.nonEmpty,
        s"renamed + mid-schema-partition layout must read columnar, " +
          s"plan was:\n$exec")
    } finally q.stop()
  }

  test("micro-batch split size is scale-adaptive (FileSourceScanExec's " +
      "law), not a flat maxPartitionBytes") {
    // A commit of k files must plan k tasks when the batch is small
    // relative to openCost x parallelism — split = max(openCost,
    // total/parallelism) makes each file its own partition, exactly
    // what FileSourceScanExec plans for the same files. The pre-fix
    // flat-128MB split packed the whole batch into ONE task — at sf10
    // that read a 100+ MB micro-batch on one core while the V1 source
    // used every core (the 1.8x dsv2-vs-V1 gap, BASELINE.md round 14).
    val root = freshRoot("split")
    val tab = new TxTable(spark, root)
    tab.create(docs(50000).repartition(4)) // one commit, 4 data files
    val nFiles = new TxTable(spark, root).read().inputFiles.length
    assert(nFiles === 4)
    val stream = new TxMicroBatchStream(spark, root,
      required = tab.read().schema,
      pushed = Array.empty,
      startingVersion = 0L,
      ignoreChanges = false,
      maxVersionsPerTrigger = None,
      defaultLimit = org.apache.spark.sql.connector.read.streaming
        .ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(
      TxVersionOffset(-1L), TxVersionOffset(0L))
    // openCost (4 MB) dominates these small files, so the packing
    // charges one openCost per file against a ~(file+openCost) split:
    // one partition per file — parallelism tracks the file count
    // instead of collapsing to 1
    assert(parts.length === nFiles,
      s"expected $nFiles scale-adaptive partitions, got ${parts.length}")
  }
}
