package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.lake.TxTable

/** `readStream.format("txlog")` ([[graft.lake.TxMicroBatchStream]]) —
  * the txlog table as a Structured Streaming source: version-offset
  * batching, exactly-once across a checkpoint restart, refusal of
  * non-append history, and the ignoreChanges opt-in; plus the
  * `writeStream.format("txlog")` sink ([[graft.lake.TxStreamingWrite]]). Content parity with the oracle is
  * ext_stream_lake_source's job; this suite pins the offset and
  * recovery behavior the oracle cannot see.
  */
class TxStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"txsrc_$tag").resolve("tbl").toString

  private def docs(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id", concat(lit("doc-"), $"id").as("text"))

  test("append commits arrive as separate micro-batches, exactly once") {
    val root = freshRoot("mb")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_mb").start()
    try {
      q.processAllAvailable()
      tab.append(docs(5, from = 100L))
      q.processAllAvailable()
      tab.append(docs(5, from = 200L))
      q.processAllAvailable()
      val got = spark.table("txsrc_mb").select($"id").as[Long]
        .collect().sorted
      assert(got.length === 20) // no dup, no drop
      assert(got.count(_ >= 200L) === 5)
      // the drains really produced MULTIPLE batches (offsets advanced
      // per append), not one catch-all
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("restart from checkpoint re-emits nothing, resumes at the next version") {
    val root = freshRoot("rs")
    val out = Files.createTempDirectory("txsrc_out").toString
    val ckpt = Files.createTempDirectory("txsrc_ckpt").toString
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    def launch() = spark.readStream
      .format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()
    tab.append(docs(5, from = 100L))
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select($"id").as[Long].collect().sorted
    assert(got.length === 15,
      s"restart must deliver each version exactly once, got ${got.length}")
    assert(got.count(_ >= 100L) === 5)
  }

  test("a rewriting commit refuses the stream; ignoreChanges re-emits survivors") {
    val root = freshRoot("rw")
    val tab = new TxTable(spark, root)
    // ONE data file, so the rewrite's re-emission set is exactly the
    // 9 survivors (ignoreChanges re-emits only TOUCHED files' rows)
    tab.create(docs(10).coalesce(1))
    tab.deleteWhere($"id" === 3L) // copy-on-write rewrite
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_rw").start()
    val err = intercept[StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    q.stop()
    assert(err.getMessage.contains("rewrites") ||
      Option(err.getCause).exists(_.getMessage.contains("rewrites")))
    // ignoreChanges: the rewrite's surviving rows re-emit (documented
    // at-least-once for touched files — Delta's relaxed mode)
    val q2 = spark.readStream.format("txlog")
      .option("path", root).option("ignoreChanges", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_rw2").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("txsrc_rw2").select($"id").as[Long].collect()
      // create's 10 rows + the rewrite's 9 survivors; id=3 exactly once
      assert(got.length === 19)
      assert(got.count(_ == 3L) === 1)
    } finally q2.stop()
  }

  test("OPTIMIZE mid-stream neither refuses nor re-emits (dataChange=false)") {
    val root = freshRoot("opt")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_opt").start()
    try {
      q.processAllAvailable()
      // compaction moves every row into new files — no logical change
      tab.optimize(minRows = 1L << 20)
      q.processAllAvailable() // must NOT throw, must emit nothing
      tab.append(docs(5, from = 100L))
      q.processAllAvailable() // and the stream keeps flowing after it
      val got = spark.table("txsrc_opt").select($"id").as[Long]
        .collect().sorted
      assert(got.length === 15, s"optimize re-emitted rows: ${got.length}")
    } finally q.stop()
  }

  test("readChangeFeed streams mutating commits as tagged change pairs") {
    val root = freshRoot("cdf")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))             // v0: uncaptured — fallback inserts
    tab.enableChangeDataFeed()       // v1: no rows
    val q = spark.readStream.format("txlog")
      .option("path", root).option("readChangeFeed", "true").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_cdf").start()
    try {
      q.processAllAvailable()
      tab.deleteWhere($"id" === 3L)                       // v2
      tab.update($"id" === 7L, Map("text" -> lit("X")))   // v3
      q.processAllAvailable() // must NOT refuse — CDF mode's whole point
      val got = spark.table("txsrc_cdf")
        .select($"id", $"text", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Long)].collect()
      assert(got.count(_._3 == "insert") === 10) // the create's rows
      assert(got.filter(_._4 == 0L).forall(_._3 == "insert"))
      assert(got.filter(_._1 == 3L).map(r => (r._3, r._4)).toSet ===
        Set(("insert", 0L), ("delete", 2L)))
      // the update streams as its four-type pre/postimage pair
      assert(got.filter(r => r._1 == 7L && r._4 == 3L).map(r => (r._2, r._3))
        .toSet === Set(("doc-7", "update_preimage"),
          ("X", "update_postimage")))
    } finally q.stop()
  }

  test("readChangeFeed restart resumes at the next version, re-emitting nothing") {
    val root = freshRoot("cdfrs")
    val out = Files.createTempDirectory("txsrc_cdf_out").toString
    val ckpt = Files.createTempDirectory("txsrc_cdf_ckpt").toString
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    tab.enableChangeDataFeed()
    def launch() = spark.readStream
      .format("txlog")
      .option("path", root).option("readChangeFeed", "true").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()
    tab.deleteWhere($"id" < 2L) // a mutating commit lands while down
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .select($"id", $"_change_type").as[(Long, String)].collect()
    assert(got.length === 12, // 10 inserts once + 2 deletes once
      s"CDF restart must deliver each version exactly once, got ${got.length}")
    assert(got.count(_._2 == "delete") === 2)
  }

  test("maxVersionsPerTrigger paces a backlog into bounded micro-batches") {
    val root = freshRoot("rate")
    val tab = new TxTable(spark, root)
    tab.create(docs(4))                       // v0
    tab.append(docs(4, from = 100L))          // v1
    tab.append(docs(4, from = 200L))          // v2
    tab.append(docs(4, from = 300L))          // v3: backlog of 4 versions
    val q = spark.readStream.format("txlog")
      .option("path", root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_rate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("txsrc_rate").select($"id").as[Long]
        .collect().sorted
      assert(got.length === 16, "pacing must not drop or duplicate rows")
      // the backlog arrived as one batch PER VERSION, not one catch-all
      assert(q.recentProgress.count(_.numInputRows > 0) === 4,
        s"expected 4 paced batches, saw " +
          q.recentProgress.filter(_.numInputRows > 0).length)
    } finally q.stop()
  }

  test("rate-limited restart paces from the checkpoint, exactly once") {
    val root = freshRoot("raters")
    val out = Files.createTempDirectory("txsrc_rate_out").toString
    val ckpt = Files.createTempDirectory("txsrc_rate_ckpt").toString
    val tab = new TxTable(spark, root)
    tab.create(docs(6))
    def launch() = spark.readStream
      .format("txlog")
      .option("path", root).option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()
    tab.append(docs(3, from = 100L)) // two versions land while down
    tab.append(docs(3, from = 200L))
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select($"id").as[Long].collect().sorted
    assert(got.length === 12,
      s"rate-limited restart must deliver exactly once, got ${got.length}")
    assert(got.count(_ >= 100L) === 6)
  }

  test("startingTimestamp resolves the first commit at or after the " +
      "instant; future and behind-horizon instants refuse") {
    val root = freshRoot("ts")
    val tab = new TxTable(spark, root)
    tab.create(docs(5))                       // v0
    tab.append(docs(5, from = 100L))          // v1
    tab.append(docs(5, from = 200L))          // v2
    val ts1 = tab.commitTimestamp(1L).get
    val q = spark.readStream.format("txlog")
      .option("path", root)
      .option("startingTimestamp", ts1.toString).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_ts").start()
    try {
      q.processAllAvailable()
      val got = spark.table("txsrc_ts").select($"id").as[Long]
        .collect().sorted
      // v0's rows predate the instant and must not stream
      assert(got.length === 10)
      assert(got.forall(_ >= 100L))
    } finally q.stop()
    // pre-v0 instant on a FULL log starts at 0 (nothing cleaned)
    assert(tab.versionAtOrAfterTimestamp(
      tab.commitTimestamp(0L).get - 10000L) === 0L)
    // a FUTURE instant refuses loudly instead of silently idling
    intercept[IllegalArgumentException](
      tab.versionAtOrAfterTimestamp(
        tab.commitTimestamp(2L).get + 3600L * 1000))
    // both start options at once refuse
    val both = intercept[Exception] {
      spark.readStream.format("txlog")
        .option("path", root)
        .option("startingVersion", "1")
        .option("startingTimestamp", ts1.toString).load()
        .writeStream.format("memory").queryName("txsrc_ts_both").start()
        .processAllAvailable()
    }
    assert(both.toString.contains("not both") ||
      Option(both.getCause).exists(_.toString.contains("not both")))
    // behind-horizon: clean the log past v0, then ask for its instant
    (1 to 10).foreach(i => tab.append(docs(1, from = 1000L + i)))
    tab.vacuumLog(keepVersions = 2)
    val horizon = intercept[IllegalArgumentException](
      tab.versionAtOrAfterTimestamp(ts1 - 1L))
    assert(horizon.getMessage.contains("retention horizon"))
  }

  test("txlog SINK: format-to-format lake copy — atomic commit per " +
      "batch, exactly-once across restart, Append only") {
    val src = freshRoot("sinksrc")
    val dst = freshRoot("sinkdst")
    val ckpt = Files.createTempDirectory("sink_ckpt").toString
    val tabS = new TxTable(spark, src)
    tabS.create(docs(10))
    def start() = spark.readStream
      .format("txlog").option("path", src).load()
      .writeStream.format("txlog")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    val tabD = new TxTable(spark, dst)
    assert(tabD.read().count() === 10)
    // restart from the checkpoint: the replayed batch is a log-enforced
    // no-op (txn watermark), new source commits flow through
    tabS.append(docs(5, from = 100L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(tabD.read().select($"id").as[Long].collect().sorted.toSeq ===
      ((0L until 10L) ++ (100L until 105L)))
    // the sink's ledger: one CREATE (empty) + one APPEND per delivered
    // batch — a duplicate APPEND would mean the watermark failed
    val ops = tabD.history().select($"op").as[String].collect()
    assert(ops.count(_ == "CREATE") === 1)
    // complete mode refuses loudly
    val err = intercept[Exception] {
      spark.readStream.format("txlog")
        .option("path", src).load()
        .groupBy($"id" % 2).count()
        .writeStream.format("txlog")
        .option("path", freshRoot("sinkbad"))
        .option("checkpointLocation",
          Files.createTempDirectory("sink_ckpt_bad").toString)
        .outputMode("complete").start()
        .processAllAvailable()
    }
    assert(err.toString.contains("Append output only") ||
      Option(err.getCause).exists(_.toString.contains("Append output only")))
  }

  test("txlog SINK: partitionBy lands partition columns in the created " +
      "table's log") {
    val src = freshRoot("sinkpsrc")
    val dst = freshRoot("sinkpdst")
    val tabS = new TxTable(spark, src)
    tabS.create(docs(30))
    // a stream sink creates a missing table unpartitioned: the
    // partitioned destination is created first
    new TxTable(spark, dst).create(
      docs(0).withColumn("bucket", lit("")), partitionCols = Seq("bucket"))
    val q = spark.readStream
      .format("txlog").option("path", src).load()
      .withColumn("bucket", ($"id" % 3L).cast("string"))
      .writeStream.format("txlog")
      .option("path", dst)
      .option("checkpointLocation",
        Files.createTempDirectory("sinkp_ckpt").toString)
      .partitionBy("bucket")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val tabD = new TxTable(spark, dst)
    assert(tabD.read().count() === 30)
    // partition-pinned read resolves from log partitionValues
    assert(tabD.read().where($"bucket" === "1").count() === 10)
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = graft.lake.TxLog.snapshot(fs,
      new org.apache.hadoop.fs.Path(dst))
    assert(snap.meta.partitionCols === List("bucket"))
    assert(snap.adds.forall(_.partitionValues.contains("bucket")))
  }

  test("lost-race orphan data files are invisible to the stream") {
    val root = freshRoot("orph")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    // plant an orphan parquet under data/ that no commit references —
    // the staging debris a lost race leaves behind
    docs(99, from = 900L).coalesce(1).write.mode("overwrite")
      .parquet(root + "/data/orphan_stage")
    val q = spark.readStream.format("txlog")
      .option("path", root).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("txsrc_orph").start()
    try {
      q.processAllAvailable()
      val got = spark.table("txsrc_orph").select($"id").as[Long].collect()
      assert(got.length === 10)
      assert(got.forall(_ < 900L), "orphan rows leaked into the stream")
    } finally q.stop()
  }
}
