package graft.lake

import java.nio.file.Files

import graft.SparkSpec

/** The `writeStream.format("txlog")` sink's ([[TxStreamingWrite]])
  * first-contact and idempotence-key semantics:
  *
  *   - two queries racing first contact on the same NEW table root can
  *     never wipe each other — create-if-absent claims v0 atomically,
  *     the loser attaches;
  *   - the idempotence key is the query id Spark keeps in the
  *     checkpoint: a replayed epoch no-ops, and a wiped checkpoint (a
  *     user reprocessing from scratch) gets a fresh key, so its
  *     restarted batch 0 LANDS instead of silently no-oping against the
  *     dead incarnation's watermark;
  *   - a restarted stream over an additively-evolved source appends
  *     through the ordinary schema evolution (old rows null-filled).
  */
class TxStreamSinkSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"txsink_$tag").resolve("t").toString

  /** Drain `src` (from `startingVersion`) into the lake table at `dst`
    * under checkpoint `ckpt`, then stop. */
  private def drain(src: String, dst: String, ckpt: String,
      startingVersion: Long = 0L): Unit = {
    val q = spark.readStream.format("txlog")
      .option("path", src)
      .option("startingVersion", startingVersion.toString).load()
      .writeStream.format("txlog").option("path", dst)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Make the restarted query run its last batch again: Spark replays
    * an offset range whose commit marker is missing. */
  private def forgetCommit(ckpt: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$ckpt/commits/$batch")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false), s"no commit marker for batch $batch in $ckpt")
  }

  private def source(tag: String, from: Long, until: Long): String = {
    val root = fresh(tag)
    new TxTable(spark, root).create(
      spark.range(from, until).toDF("k").coalesce(1))
    root
  }

  test("two sinks racing first contact: the loser attaches, the " +
      "winner's batch survives") {
    val root = fresh("race")
    val srcA = source("racea", 0L, 3L)
    val srcB = source("raceb", 10L, 12L)
    val ckptA = Files.createTempDirectory("txsink_cka").toString
    val ckptB = Files.createTempDirectory("txsink_ckb").toString
    drain(srcA, root, ckptA)
    // B's first contact sees an existing table: an attach, never a
    // create()-wipe
    drain(srcB, root, ckptB)
    val tab = new TxTable(spark, root)
    assert(tab.read().as[Long].collect().sorted.toSeq ===
      Seq(0L, 1L, 2L, 10L, 11L))
    // each query idempotent under its OWN key: replays are no-ops
    forgetCommit(ckptA, 0L)
    drain(srcA, root, ckptA)
    forgetCommit(ckptB, 0L)
    drain(srcB, root, ckptB)
    assert(tab.read().count() === 5)
  }

  test("wiped checkpoint = fresh idempotence key: restarted batch 0 " +
      "lands instead of silently dropping") {
    val root = fresh("wipe")
    val src = source("wipesrc", 0L, 2L)
    val ckpt = Files.createTempDirectory("txsink_ckpt").toString
    drain(src, root, ckpt)
    // same checkpoint, query restart replaying batch 0: a no-op
    forgetCommit(ckpt, 0L)
    drain(src, root, ckpt)
    assert(new TxTable(spark, root).read().count() === 2)
    // user wipes the checkpoint to reprocess: batchIds restart at 0 —
    // the new query id means the batch LANDS
    val p = new org.apache.hadoop.fs.Path(ckpt)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    new TxTable(spark, src).append(spark.range(100, 102).toDF("k"))
    drain(src, root, ckpt, startingVersion = 1L)
    assert(new TxTable(spark, root).read().count() === 4)
  }

  test("restart with an additively-evolved schema appends through " +
      "ordinary evolution") {
    val root = fresh("evolve")
    val src = source("evsrc", 0L, 2L)
    val ckpt = Files.createTempDirectory("txsink_evck").toString
    drain(src, root, ckpt)
    new TxTable(spark, src).append(
      spark.range(5, 6).selectExpr("id AS k", "'w' AS v").toDF())
    drain(src, root, ckpt)
    val rows = new TxTable(spark, root).read()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((0L, null), (1L, null), (5L, "w")))
  }
}
