package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Post-commit auto-compaction (round-12 verdict item 5, Delta's
  * autoOptimize.autoCompact): streaming-sink-style tiny-batch churn
  * converges file counts WITHOUT a manual OPTIMIZE, cube stamps stay
  * intact on clustered tables, and the machinery is strictly opt-in
  * (the default append path pays nothing).
  */
class TxAutoCompactSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"txauto_$tag").resolve("t").toString

  private def liveFiles(root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root)
    TxLog.snapshot(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).adds.size
  }

  test("N tiny sink batches converge to a bounded file count with " +
      "content intact") {
    val root = fresh("sink")
    spark.conf.set(TxTable.autoCompactKey, "true")
    spark.conf.set(TxTable.autoCompactMinFilesKey, "4")
    try {
      // 12 real sink triggers: one source commit per micro-batch
      val srcRoot = fresh("sinksrc")
      val src = new TxTable(spark, srcRoot)
      def batch(b: Int) =
        spark.range(b * 10L, b * 10L + 10L).selectExpr("id AS k").coalesce(1)
      src.create(batch(0))
      val q = spark.readStream.format("txlog").option("path", srcRoot)
        .load().writeStream.format("txlog").option("path", root)
        .option("checkpointLocation",
          Files.createTempDirectory("txauto_ckpt").toString)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        (1 until 12).foreach { b =>
          src.append(batch(b))
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(liveFiles(root) < 12,
        s"12 tiny batches must converge below 12 files, " +
          s"got ${liveFiles(root)}")
      val tab = new TxTable(spark, root)
      assert(tab.read().as[Long].collect().sorted.toSeq ===
        (0L until 120L))
      val ops = tab.history().select("op").as[String].collect()
      assert(ops.count(_ == "OPTIMIZE") >= 1,
        "auto-compaction lands as ordinary OPTIMIZE commits")
    } finally {
      spark.conf.unset(TxTable.autoCompactKey)
      spark.conf.unset(TxTable.autoCompactMinFilesKey)
    }
  }

  test("clustered tables keep cube stamps through auto-compaction") {
    val root = fresh("cube")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(100).selectExpr("id AS a", "id * 7 % 100 AS b")
      .toDF(), clusterBy = Seq("a", "b"))
    spark.conf.set(TxTable.autoCompactKey, "true")
    spark.conf.set(TxTable.autoCompactMinFilesKey, "4")
    try {
      (1 to 6).foreach(i => tab.append(
        spark.range(i * 100L, i * 100L + 10L)
          .selectExpr("id AS a", "id * 7 % 100 AS b").toDF()))
      val p = new org.apache.hadoop.fs.Path(root)
      val snap = TxLog.snapshot(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      // the clustered pass rewrites into its cube layout (a fixed
      // small file-count target), so convergence shows as "no loose
      // unstamped append files left", not a specific count
      assert(snap.adds.count(_.zcube.isEmpty) < 6,
        s"unstamped append churn must be absorbed into cubes, " +
          s"got ${snap.adds.count(_.zcube.isEmpty)} loose files")
      assert(snap.adds.exists(_.zcube.isDefined),
        "auto-compaction must mint cube stamps (it IS optimize)")
      assert(new TxTable(spark, root).history().select("op")
        .as[String].collect().contains("OPTIMIZE"))
      assert(tab.read().count() === 160)
    } finally {
      spark.conf.unset(TxTable.autoCompactKey)
      spark.conf.unset(TxTable.autoCompactMinFilesKey)
    }
  }

  test("opt-in only: the default append path never compacts") {
    val root = fresh("off")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(1).selectExpr("id AS k").toDF())
    (1 to 9).foreach(i => tab.append(
      spark.range(i.toLong, i + 1L).selectExpr("id AS k").toDF()))
    assert(liveFiles(root) === 10,
      "no conf, no compaction — every tiny append keeps its file")
    assert(!new TxTable(spark, root).history().select("op").as[String]
      .collect().contains("OPTIMIZE"))
  }

  test("a malformed autoCompact conf value degrades to no-compaction " +
      "— the durable append must never report failure") {
    val root = fresh("badconf")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(1).selectExpr("id AS k").toDF())
    spark.conf.set("spark.graft.lake.autoCompact", "yes") // not a boolean
    try {
      // the commit lands and the call returns normally (a thrown parse
      // error AFTER the durable commit would push callers to retry a
      // non-idempotent append — duplicating every row)
      val v = tab.append(spark.range(1, 2).selectExpr("id AS k").toDF())
      assert(v === 1L)
      assert(tab.read().count() === 2)
    } finally spark.conf.unset("spark.graft.lake.autoCompact")
  }
}
