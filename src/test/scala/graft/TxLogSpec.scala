package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{TxLog, TxTable}

/** The ACID-lake internals DuckDB cannot see: atomic version claims,
  * conflict retry correctness under real concurrency, checkpointed
  * snapshot resolution, time travel after vacuum, additive schema
  * evolution, and stats-based file skipping counts. Content parity with
  * the oracle is LakeQueries' job; this suite pins the file-layout and
  * log behavior.
  */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"txlog_$tag").resolve("tbl").toString

  private def docs(n: Int): DataFrame =
    spark.range(n.toLong).select(
      $"id",
      concat(lit("doc-"), $"id").as("text"),
      (($"id" % 3).cast("string")).as("lang"))

  test("create/append/read round-trip with partition columns recovered") {
    val tab = new TxTable(spark, freshRoot("rt"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    tab.append(docs(30).where($"id" < 10).withColumn("id", $"id" + 100))
    val got = tab.read().orderBy("id").collect()
    assert(got.length === 40)
    // partition column values come back from the log, Delta-style
    assert(got.map(_.getAs[String]("lang")).forall(l => Set("0", "1", "2")(l)))
    assert(tab.version === 1L)
  }

  test("exactly one writer wins a version; a loser's retry lands next") {
    val root = freshRoot("race")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Claim version 1 out from under an appender, twice: both forced
    // claims must win exactly once, and the append still lands.
    assert(TxLog.tryCommit(fs, new Path(root), 1L,
      Seq(TxLog.LogEntry(info = Some(TxLog.Info("NOOP", 0L))))))
    assert(!TxLog.tryCommit(fs, new Path(root), 1L,
      Seq(TxLog.LogEntry(info = Some(TxLog.Info("NOOP", 0L))))))
    val v = tab.append(docs(5).withColumn("id", $"id" + 500))
    assert(v === 2L)
    assert(tab.read().count() === 15)
  }

  test("concurrent delete vs append linearizes — no lost appended rows") {
    val tab = new TxTable(spark, freshRoot("dva"))
    tab.create(docs(100))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val del = scala.concurrent.Future(tab.deleteWhere($"id" % 2 === 0))
      val app = scala.concurrent.Future(
        tab.append(docs(10).withColumn("id", $"id" + 1000)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(del, app)),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    val ids = tab.read().select("id").as[Long].collect().toSet
    // Both legal serializations (delete-then-append, append-then-delete)
    // agree on: original odds survive, original evens don't, appended
    // odds survive. Appended evens depend on the order — not asserted.
    assert((0L until 100L).filter(_ % 2 == 1).forall(ids.contains))
    assert((0L until 100L).filter(_ % 2 == 0).forall(!ids.contains(_)))
    assert((1000L until 1010L).filter(_ % 2 == 1).forall(ids.contains))
  }

  test("NULL-predicate rows survive a delete") {
    val tab = new TxTable(spark, freshRoot("np"))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a"),
        org.apache.spark.sql.Row(null, "b"),
        org.apache.spark.sql.Row(3L, "c")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType, nullable = true))))
    tab.create(df)
    tab.deleteWhere($"k" > 2L) // NULL > 2 is NULL, not a match
    assert(tab.read().select("v").as[String].collect().toSet === Set("a", "b"))
  }

  test("snapshot resolution uses the checkpoint, and matches full replay") {
    val root = freshRoot("ckpt")
    val tab = new TxTable(spark, root)
    tab.create(docs(5))
    (1 to 12).foreach(i => tab.append(docs(2).withColumn("id", $"id" + i * 10)))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(root, "_txlog")).map(_.getPath.getName)
    // format-by-size: a toy live set checkpoints as single-string JSON
    // (no Spark job on the commit path); parquet is the large-table form
    assert(names.exists(_.endsWith(".checkpoint.json")),
      "interval-10 JSON checkpoint must exist after 12 commits " +
        "(live set below the parquet threshold)")
    assert(!names.exists(_.endsWith(".checkpoint.parquet")),
      "a toy live set must NOT pay a distributed parquet checkpoint")
    assert(names.contains("_last_checkpoint"))
    // replay-from-zero (time travel to head version explicitly) equals
    // the checkpointed fast path
    val viaCkpt = tab.read().orderBy("id").collect().toSeq
    val full = tab.read(asOf = Some(tab.version)).orderBy("id").collect().toSeq
    assert(viaCkpt === full)
    assert(tab.read().count() === 5 + 24)
  }

  test("checkpoint-vs-replay equality over BOTH formats (parquet and legacy JSON)") {
    val root = freshRoot("ckfmt")
    val tab = new TxTable(spark, root)
    // force the parquet form (normally reserved for 10k+-file live sets)
    spark.conf.set(TxLog.checkpointParquetMinEntriesKey, "1")
    try {
      tab.create(docs(20))
      (1 to 7).foreach(i => tab.append(docs(2).withColumn("id", $"id" + i * 100)))
      tab.deleteWhereMergeOnRead($"id" === 1L) // a dvFile-carrying Add
      tab.appendIdempotent(docs(1).withColumn("id", $"id" + 900), "appA", 3L)
      tab.append(docs(1).withColumn("id", $"id" + 950)) // v10 -> checkpoint
    } finally spark.conf.unset(TxLog.checkpointParquetMinEntriesKey)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    val ckptPq = new Path(rootP, f"_txlog/${10L}%020d.checkpoint.parquet")
    val lastCkpt = new Path(rootP, "_txlog/_last_checkpoint")
    assert(fs.exists(ckptPq), "v10 parquet checkpoint expected")
    assert(fs.exists(new Path(ckptPq, "_SUCCESS")),
      "parquet checkpoint must carry its publish marker")

    def snapKey(s: TxLog.Snapshot) =
      (s.version, s.meta, s.adds.toSet, s.txns)
    val viaParquet = TxLog.snapshot(fs, rootP)
    assert(TxLog.lastReplay.get()._2, "parquet path must seed from the checkpoint")

    // full replay: hide the checkpoint entirely
    val hidden = new Path(rootP, "ckpt_hidden")
    fs.rename(ckptPq, hidden)
    fs.delete(lastCkpt, false)
    val viaReplay = TxLog.snapshot(fs, rootP)
    assert(!TxLog.lastReplay.get()._2, "hidden checkpoint must force full replay")
    assert(snapKey(viaParquet) === snapKey(viaReplay),
      "parquet checkpoint and full replay must resolve the same state")

    // legacy JSON checkpoint: same entries, single-string format
    fs.rename(hidden, ckptPq)
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    val enc = org.apache.spark.sql.Encoders.product[TxLog.LogEntry]
    val entries = spark.read.schema(enc.schema)
      .parquet(ckptPq.toString).as(enc).collect().toSeq
    val json = entries.map(org.json4s.jackson.Serialization.write(_)).mkString("\n")
    fs.delete(ckptPq, true)
    val ckptJson = new Path(rootP, f"_txlog/${10L}%020d.checkpoint.json")
    val out = fs.create(ckptJson, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val outLc = fs.create(lastCkpt, true)
    try outLc.write("10".getBytes("UTF-8")) finally outLc.close()
    val viaJson = TxLog.snapshot(fs, rootP)
    assert(TxLog.lastReplay.get()._2, "JSON path must seed from the checkpoint")
    assert(snapKey(viaParquet) === snapKey(viaJson),
      "legacy JSON checkpoint must resolve the same state")
    assert(viaJson.txns.get("appA") === Some(3L),
      "txn watermark rides both checkpoint formats")
  }

  test("checkpoint WRITE composes distributed past the first parquet " +
      "checkpoint — zero Adds materialized on the driver") {
    val root = freshRoot("ckdist")
    val tab = new TxTable(spark, root)
    spark.conf.set(TxLog.checkpointParquetMinEntriesKey, "1")
    // v20 must be a FULL checkpoint for this test (the default cadence
    // writes a compacted range there instead — TxCompactionSpec's job)
    spark.conf.set(TxLog.fullCheckpointMultipleKey, "2")
    // pin the CLASSIC self-contained distributed checkpoint: the V2
    // sidecar shape (now the default) is TxCheckpointV2Spec's job
    spark.conf.set(TxLog.checkpointV2Key, "false")
    try {
      tab.create(docs(20)) // v0
      (1 to 10).foreach(i => tab.append(docs(2).withColumn("id", $"id" + i * 100)))
      // v10: the table's FIRST parquet checkpoint — no prior frame to
      // compose from, so the one-time driver fold is the correct path
      assert(TxLog.lastCheckpointWrite.get()._1 === "driver-fold",
        "first parquet checkpoint has no prior frame: driver fold expected")
      // overlay content for the next checkpoint: removes (merge-on-read
      // DV), a txn watermark, plain adds
      tab.deleteWhereMergeOnRead($"id" === 2L) // v11
      tab.appendIdempotent(docs(1).withColumn("id", $"id" + 900), "appB", 7L) // v12
      (1 to 8).foreach(i => tab.append(docs(2).withColumn("id", $"id" + 2000 + i * 100)))
      // v20: composed from the v10 checkpoint frame + tail overlay
      assert(TxLog.lastCheckpointWrite.get() === ("distributed", 0L),
        "second parquet checkpoint must compose distributed with zero " +
          s"driver-side Adds, got ${TxLog.lastCheckpointWrite.get()}")
    } finally {
      spark.conf.unset(TxLog.checkpointParquetMinEntriesKey)
      spark.conf.unset(TxLog.fullCheckpointMultipleKey)
      spark.conf.unset(TxLog.checkpointV2Key)
    }
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    val ckptPq = new Path(rootP, f"_txlog/${20L}%020d.checkpoint.parquet")
    assert(fs.exists(new Path(ckptPq, "_SUCCESS")),
      "distributed checkpoint must carry its publish marker")

    // the distributed compose resolves the SAME state as a full replay
    def snapKey(s: TxLog.Snapshot) =
      (s.version, s.meta, s.adds.toSet, s.txns)
    val viaCkpt = TxLog.snapshot(fs, rootP)
    assert(TxLog.lastReplay.get()._2, "v20 checkpoint must seed the snapshot")
    assert(viaCkpt.txns.get("appB") === Some(7L),
      "txn watermark rides the distributed compose")
    assert(viaCkpt.adds.exists(_.hasDv),
      "the merge-on-read DV add survives the distributed compose")
    // pointer count + re-seeded checksum came from the columnar
    // aggregate — they must match the authoritative live set exactly
    val ptr = TxLog.readLastCheckpointPublic(fs, rootP)
    val hidden = new Path(rootP, "ckpt_hidden")
    fs.rename(ckptPq, hidden)
    fs.delete(new Path(rootP, "_txlog/_last_checkpoint"), false)
    // resolution now seeds from the v10 checkpoint + commits 11..20 —
    // an independent replay path the distributed compose must agree with
    val viaReplay = TxLog.snapshot(fs, rootP)
    assert(snapKey(viaCkpt) === snapKey(viaReplay),
      "distributed checkpoint and replay-from-v10 must resolve the same state")
    fs.rename(hidden, ckptPq)
    assert(ptr.map(_.version) === Some(20L))
    assert(ptr.flatMap(_.entries) ===
      Some(1L + viaReplay.adds.size.toLong + viaReplay.txns.size.toLong))
    assert(TxLog.readCrc(fs, rootP, 20L) === Some(TxLog.crcOf(viaReplay)))
    // Add.rows is LIVE rows (post-DV) — the read must total exactly it
    assert(tab.read().count() === viaReplay.adds.map(_.rows).sum)
  }

  test("a parquet checkpoint without _SUCCESS is invisible — partial " +
      "writes never seed a snapshot") {
    val root = freshRoot("cksucc")
    val tab = new TxTable(spark, root)
    spark.conf.set(TxLog.checkpointParquetMinEntriesKey, "1")
    try {
      tab.create(docs(5))
      (1 to 10).foreach(i => tab.append(docs(1).withColumn("id", $"id" + i * 10)))
    } finally spark.conf.unset(TxLog.checkpointParquetMinEntriesKey)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    val ckptPq = new Path(rootP, f"_txlog/${10L}%020d.checkpoint.parquet")
    val withMarker = tab.read().orderBy("id").collect().toSeq
    assert(TxLog.lastReplay.get()._2, "marker present: checkpoint seeds")
    // simulate the partial write Spark's committer leaves mid-job: the
    // directory exists, the marker does not
    fs.delete(new Path(ckptPq, "_SUCCESS"), false)
    val withoutMarker = tab.read().orderBy("id").collect().toSeq
    assert(!TxLog.lastReplay.get()._2,
      "no marker: the checkpoint must be treated as absent (full replay)")
    assert(withMarker === withoutMarker, "content stays exact either way")
  }

  test("latestVersionFrom probes forward from a committed floor; stale floors fall back") {
    val root = freshRoot("lvf")
    val tab = new TxTable(spark, root)
    tab.create(docs(3))
    (1 to 4).foreach(i => tab.append(docs(1).withColumn("id", $"id" + i)))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    assert(TxLog.latestVersionFrom(fs, rootP, 4L) === 4L)
    assert(TxLog.latestVersionFrom(fs, rootP, 2L) === 4L)
    assert(TxLog.latestVersionFrom(fs, rootP, -1L) === 4L, "unknown floor falls back")
    assert(TxLog.latestVersionFrom(fs, rootP, 99L) === 4L, "stale floor falls back")
  }

  test("time travel reads an old version; vacuum kills it cleanly") {
    val tab = new TxTable(spark, freshRoot("tt"))
    tab.create(docs(20))
    tab.deleteWhere($"id" >= 10)
    assert(tab.read().count() === 10)
    assert(tab.read(asOf = Some(0L)).count() === 20, "v0 still resolvable")
    val removed = tab.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(removed.nonEmpty, "the rewritten v0 files must be reclaimed")
    assert(tab.read().count() === 10, "head unaffected by vacuum")
    val err = intercept[Exception](tab.read(asOf = Some(0L)).count())
    assert(err.getMessage != null)
  }

  test("vacuum reclaims expired _change_data with its commits' files; " +
      "kept feed slices stay readable; detail reports the footprint") {
    val root = freshRoot("vaccdf")
    val tab = new TxTable(spark, root)
    tab.create(docs(20).coalesce(1), enableChangeDataFeed = true)  // v0
    tab.update($"id" < 5L, Map("text" -> lit("A")))                // v1
    tab.deleteWhere($"id" === 7L)                                  // v2
    tab.append(docs(3).withColumn("id", $"id" + 100L).coalesce(1)) // v3
    tab.update($"id" === 101L, Map("text" -> lit("B")))            // v4
    val before = tab.detail().select("cdf_feed_files", "cdf_feed_bytes")
      .as[(Long, Long)].collect().head
    assert(before._1 >= 3 && before._2 > 0,
      "v1/v2/v4 must each have staged change data")
    // keep the last two versions: v1/v2's feed (and data) expire
    val removed = tab.vacuum(keepVersions = 2, minAgeMs = 0L)
    assert(removed.exists(_.startsWith("_change_data/")),
      "expired _change_data must be reclaimed together with data files")
    // expired slices refuse loudly — the feed horizon IS the vacuum
    // horizon (Delta's rule)
    val err = intercept[Exception](tab.readChanges(1L, 1L).count())
    assert(err.getMessage.contains("vacuum"))
    // kept slices read exactly as before
    assert(tab.readChanges(4L, 4L)
      .where($"_change_type" === "update_postimage").count() === 1L)
    val after = tab.detail().select("cdf_feed_files", "cdf_feed_bytes")
      .as[(Long, Long)].collect().head
    assert(after._1 < before._1 && after._2 < before._2,
      "detail must reflect the reclaimed feed footprint")
  }

  test("keyed mutations scan only stats-overlapping files (merge/" +
      "applyChanges match scan is range-pruned)") {
    val root = freshRoot("keyscan")
    val tab = new TxTable(spark, root)
    // 20 files (above the prune's engage threshold), disjoint id ranges
    tab.create(spark.range(200L).select($"id",
      concat(lit("d-"), $"id").as("text"))
      .repartitionByRange(20, $"id"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // physically remove the file(s) covering the TOP of the id range:
    // a scan that still plans them fails loudly, so success below IS
    // the proof the match scan pruned them out
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(snap.adds.size >= 16, "enough files to engage the prune")
    val doomed = snap.adds.filter(
      _.stats.get("id").exists(_.min.toLong >= 150L))
    assert(doomed.nonEmpty, "range layout must isolate the top files")
    doomed.foreach(a => fs.delete(new Path(new Path(root), a.path), false))
    // keys far below the missing range: merge + applyChanges succeed
    tab.merge(Seq((3L, "M")).toDF("id", "text"), Seq("id"))
    tab.applyChanges(Seq((5L, "A", "insert")).toDF("id", "text",
      "_change_type"), Seq("id"))
    assert(tab.readBetween("id", 0L, 10L).where($"id".isin(3L, 5L))
      .select($"text").as[String].collect().toSet === Set("M", "A"))
    // keys in the missing range force the scan there — loud failure,
    // never a silent skip
    intercept[Exception](
      tab.merge(Seq((190L, "X")).toDF("id", "text"), Seq("id")))
    // a null key under null-safe matching disables the prune (stats say
    // nothing about nulls) — the full scan hits the hole and fails
    intercept[Exception](
      tab.applyChanges(Seq((Option.empty[java.lang.Long], "N", "insert"))
        .toDF("id", "text", "_change_type"), Seq("id")))
  }

  test("predicate mutations scan only stats-overlapping files (update/" +
      "deleteWhere data skipping on the WHERE clause)") {
    val root = freshRoot("predscan")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(200L).select($"id",
      $"id".cast("int").as("si"),
      concat(lit("d-"), $"id").as("text"))
      .repartitionByRange(20, $"id"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(snap.adds.size >= 16, "enough files to engage the prune")
    // physically remove the files covering the TOP of the id range: a
    // scan that still plans them fails loudly, so success IS the proof
    // the predicate pruned them out of the match scan
    val doomed = snap.adds.filter(
      _.stats.get("id").exists(_.min.toLong >= 150L))
    assert(doomed.nonEmpty)
    doomed.foreach(a => fs.delete(new Path(new Path(root), a.path), false))
    // conjunct shapes far below the hole all prune past it
    tab.update($"id" === 3L, Map("text" -> lit("U")))
    tab.update($"id" >= 2L && $"id" < 10L && $"text".isNotNull,
      Map("text" -> concat($"text", lit("!"))))
    tab.deleteWhere($"id".isin(5L, 7L))
    tab.deleteWhereMergeOnRead(lit(8L) === $"id")
    assert(tab.readBetween("id", 0L, 10L).where($"id" === 3L)
      .select($"text").as[String].collect().toSet === Set("U!"))
    assert(tab.readBetween("id", 0L, 10L)
      .where($"id".isin(5L, 7L, 8L)).count() === 0L)
    // a WIDENING coercion cast (int column vs long literal) is seen
    // through — value-preserving, so the prune is sound and engages
    tab.update($"si" === 4L, Map("text" -> lit("W")))
    assert(tab.readBetween("id", 4L, 4L).select($"text")
      .as[String].collect().toSeq === Seq("W"))
    // a predicate reaching into the hole plans the missing file — loud
    // failure, never a silent skip
    intercept[Exception](tab.update($"id" === 190L, Map("text" -> lit("X"))))
    // an unprunable predicate (no recognizable conjunct) scans the full
    // table — conservative, so it too hits the hole
    intercept[Exception](tab.deleteWhere(length($"text") < lit(0)))
    // a NARROWING cast must NOT be seen through: mining it would prune
    // files containing genuinely matching rows — so it full-scans (and
    // here hits the hole) instead of silently skipping
    intercept[Exception](tab.deleteWhere($"id".cast("int") === lit(3)))
  }

  test("CLUSTER BY: stored at create, OPTIMIZE re-clusters, both " +
      "dimensions skip") {
    val root = freshRoot("cluster")
    val tab = new TxTable(spark, root)
    val df = spark.range(0L, 1024L).select($"id",
      ($"id" * 7 % 1024).as("score"), concat(lit("d"), $"id").as("text"))
    // refusals: unknown / unrankable-type / partition-overlapping
    // columns (strings/dates/timestamps now CLUSTER via their sortable
    // rank — see ext_lake_cluster_by_string — so the type refusal is
    // pinned on a genuinely curve-less ARRAY column)
    intercept[IllegalArgumentException](
      tab.create(df, clusterBy = Seq("nope")))
    intercept[IllegalArgumentException](
      tab.create(df.withColumn("arr", array(lit(1L))),
        clusterBy = Seq("arr")))
    intercept[IllegalArgumentException](
      tab.create(df, partitionCols = Seq("id"), clusterBy = Seq("id")))
    tab.create(df, clusterBy = Seq("id", "score"))
    tab.append(df.select(($"id" + 1024L).as("id"),
      ($"id" * 7 % 1024).as("score"), $"text"))
    tab.optimize() // no args: re-clusters along the STORED columns
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(snap.meta.clusterCols === List("id", "score"))
    assert(snap.adds.size > 2, "re-cluster must produce several files")
    // a narrow box on EITHER dimension excludes files
    assert(tab.candidateFiles(snap, "id", 0L, 100L).size < snap.adds.size)
    assert(tab.candidateFiles(snap, "score", 0L, 100L).size < snap.adds.size)
    // and the rows are exactly the ones written
    assert(tab.read().count() === 2048L)
    assert(tab.readBetween("score", 0L, 6L).select($"id")
      .as[Long].collect().toSet ===
      (0L until 2048L).filter(i => (i % 1024) * 7 % 1024 <= 6).toSet)
    // INCREMENTAL (ZCube): a further append + optimize clusters only
    // the new data — FULL cubes' files survive untouched (threshold 0:
    // every stamped cube counts as full, pinning pure incrementality)
    val before = snap.adds.map(_.path).toSet
    assert(snap.adds.forall(_.zcube.isDefined),
      "clustering passes must stamp their outputs")
    tab.append(df.select(($"id" + 2048L).as("id"), $"score", $"text"))
    tab.optimize(minCubeRows = 0L)
    val after = TxLog.snapshot(fs, new Path(root))
    assert(before.subsetOf(after.adds.map(_.path).toSet),
      "routine OPTIMIZE must not rewrite full cubes")
    assert(after.adds.count(a => !before(a.path)) > 0)
    assert(after.adds.forall(_.zcube.isDefined))
    assert(tab.read().count() === 3072L)
    // a second no-op maintenance pass commits nothing
    val v = tab.version
    assert(tab.optimize(minCubeRows = 0L) === v,
      "nothing unclustered -> no commit")
  }

  test("ZCube merging: undersized cubes coalesce with new data, a cube " +
      "at target size goes stable, a lone small cube converges") {
    val root = freshRoot("cubemerge")
    val tab = new TxTable(spark, root)
    def batch(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 1024L).select($"id",
        ($"id" * 7 % 1024).as("score"), concat(lit("d"), $"id").as("text"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def cubes(): Map[String, Long] =
      TxLog.snapshot(fs, new Path(root)).adds.groupBy(_.zcube.get)
        .view.mapValues(_.map(_.rows).sum).toMap
    tab.create(batch(0L), clusterBy = Seq("id", "score")) // cube A: 1024
    assert(cubes().size === 1)
    // an undersized cube MERGES with the next pass's new data instead
    // of leaving a second tiny cube behind
    tab.append(batch(1024L))
    tab.optimize(minCubeRows = 3000L)
    val afterMerge = cubes()
    assert(afterMerge.size === 1,
      s"small cube A must merge with the new data, got $afterMerge")
    assert(afterMerge.values.sum === 2048L)
    // convergence: ONE undersized cube, nothing to merge into it — a
    // further pass must be a no-op, not an eternal self-rewrite
    val v = tab.version
    assert(tab.optimize(minCubeRows = 3000L) === v,
      "a lone undersized cube with no new data must not rewrite itself")
    // crossing the target makes the cube STABLE
    tab.append(batch(2048L))
    tab.optimize(minCubeRows = 3000L) // merged cube: 3072 >= 3000
    val stable = cubes()
    assert(stable.size === 1 && stable.values.sum === 3072L)
    val stablePaths = TxLog.snapshot(fs, new Path(root))
      .adds.map(_.path).toSet
    tab.append(batch(3072L))
    tab.optimize(minCubeRows = 3000L)
    val finalCubes = cubes()
    assert(finalCubes.size === 2,
      s"a full cube stays; new data forms its own cube: $finalCubes")
    assert(stablePaths.subsetOf(TxLog.snapshot(fs, new Path(root))
      .adds.map(_.path).toSet),
      "a cube at target size must never be rewritten by maintenance")
    assert(tab.read().count() === 4096L)
    // the merged layout still prunes on either clustered dimension
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(tab.candidateFiles(snap, "id", 0L, 100L).size < snap.adds.size)
    assert(tab.candidateFiles(snap, "score", 0L, 100L).size < snap.adds.size)
  }

  test("log retention: cleanLog reclaims commits and checkpoints behind " +
      "the replay-floor checkpoint; every surface adapts") {
    val root = freshRoot("logclean")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))                                 // v0
    (1 to 24).foreach(i =>
      tab.append(docs(1).withColumn("id", $"id" + i * 100L))) // v1..v24
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    // checkpoints exist at v10 and v20; keep 4 versions -> floor v21 ->
    // replay floor = checkpoint v20
    val removed = TxLog.cleanLog(fs, rootP, keepVersions = 4)
    assert(removed.contains(f"${0L}%020d.json"))
    assert(removed.contains(f"${19L}%020d.json"))
    assert(removed.exists(_.startsWith(f"${10L}%020d.checkpoint")),
      s"the superseded checkpoint must go, removed=$removed")
    assert(!removed.exists(_.startsWith(f"${20L}%020d")),
      "the replay-floor checkpoint and its commit must stay")
    assert(!removed.contains(f"${21L}%020d.json"))
    // head and kept versions still resolve; behind the floor refuses
    // loudly
    assert(tab.read().count() === 34L)
    assert(tab.read(asOf = Some(21L)).count() === 31L)
    val err = intercept[IllegalArgumentException](tab.read(asOf = Some(5L)))
    assert(err.getMessage.contains("missing commit"))
    // the ledger starts at the earliest retained commit
    assert(TxLog.earliestVersion(fs, rootP) === 20L)
    val hv = tab.history().orderBy("version")
      .select("version").as[Long].collect()
    assert(hv.head === 20L && hv.last === 24L)
    // timestamp travel works over the retained range, refuses before it
    val ts24 = tab.commitTimestamp(24L).get
    assert(tab.versionAtTimestamp(ts24 + 3600000L) === 24L)
    val ts20 = tab.commitTimestamp(20L).get
    assert(tab.versionAtTimestamp(ts20) === 20L)
    intercept[IllegalArgumentException](tab.versionAtTimestamp(ts20 - 1))
    // the table keeps working: append, checkpoint, clean again
    tab.append(docs(1).withColumn("id", $"id" + 9999L))  // v25
    assert(tab.read().count() === 35L)
    // no checkpoint at-or-before the floor -> nothing reclaimable
    val none = TxLog.cleanLog(fs, rootP, keepVersions = 25)
    assert(none.isEmpty)
    // DATA vacuum with a keep window WIDER than the retained log clamps
    // to the earliest retained commit instead of failing on a version
    // cleanLog reclaimed — and still only reclaims unreferenced files
    val reclaimed = TxLog.vacuum(fs, rootP, keepVersions = 100, minAgeMs = 0L)
    assert(tab.read().count() === 35L, "live data survives the clamped vacuum")
    assert(tab.read(asOf = Some(21L)).count() === 31L,
      "kept versions stay readable")
    assert(reclaimed.forall(_.endsWith(".parquet")))
  }

  test("vacuum's age guard protects young (possibly in-flight) files") {
    val tab = new TxTable(spark, freshRoot("age"))
    tab.create(docs(20))
    tab.deleteWhere($"id" >= 10) // leaves v0's rewritten files unreferenced
    assert(tab.vacuum(keepVersions = 1, minAgeMs = 3600L * 1000).isEmpty,
      "files younger than the retention window must survive")
    assert(tab.read(asOf = Some(0L)).count() === 20, "v0 untouched")
    assert(tab.vacuum(keepVersions = 1, minAgeMs = 0L).nonEmpty, "age 0 reclaims them")
  }

  test("retention guard: sub-floor minAgeMs refuses without the explicit " +
      "opt-out (Delta's retentionDurationCheck)") {
    val root = freshRoot("guard")
    val tab = new TxTable(spark, root)
    tab.create(docs(10))
    tab.deleteWhere($"id" >= 5)
    spark.conf.set(TxLog.retentionDurationCheckKey, "true")
    try {
      val e = intercept[IllegalArgumentException](
        tab.vacuum(keepVersions = 1, minAgeMs = 0L))
      assert(e.getMessage.contains("retention floor"))
      // the default window passes the check — and shields young files
      assert(tab.vacuum(keepVersions = 1).isEmpty,
        "168h default must reclaim nothing this young")
      // SQL RETAIN 0 HOURS goes through the same guard
      intercept[IllegalArgumentException](graft.lake.LakeSql.run(spark,
        s"VACUUM '$root' RETAIN 1 VERSIONS RETAIN 0 HOURS"))
    } finally
      spark.conf.set(TxLog.retentionDurationCheckKey, "false")
    // with the opt-out back on, instant reclaim works
    assert(tab.vacuum(keepVersions = 1, minAgeMs = 0L).nonEmpty)
  }

  test("type widening: int→long / float→double evolve METADATA-ONLY; " +
      "blooms survive via width-normalized hashing; narrowing refuses") {
    val root = freshRoot("widen")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(0L, 100L)
      .select($"id".cast("int").as("k"), ($"id" * 1.5f).cast("float").as("x"))
      .repartition(4))
    tab.addBloomIndex("k")
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    // the widening append: long keys past int range, double x
    tab.append(spark.range(3000000000L, 3000000010L)
      .select($"id".as("k"), ($"id" / 2.0).as("x")))
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(before.subsetOf(snap.adds.map(_.path).toSet),
      "widening must rewrite NOTHING — metadata-only evolution")
    assert(snap.meta.schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(snap.meta.schema("x").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(snap.meta.features.contains("typeWidening") &&
      snap.meta.writerFeats.contains("typeWidening"),
      "both protocol halves must stamp — version-skewed clients refuse")
    // old narrow files upcast natively under the wide schema
    assert(tab.read().count() === 110L)
    assert(tab.read().where($"k" === 42L).select($"x").as[Double]
      .head() === 63.0)
    // bloom sidecars built PRE-widening still answer: the hash is
    // width-normalized, so int-era sidecars match long-era probes
    assert(tab.readEquals("k", 42L).count() === 1L)
    assert(tab.readEquals("k", 3000000005L).count() === 1L)
    assert(tab.readEquals("k", 555L).count() === 0L)
    // stats prune across the mixed widths (shared stat kind "l")
    assert(tab.readBetween("k", 0L, 50L).count() === 51L)
    // a NARROWING (or unrelated) type change still refuses
    intercept[IllegalArgumentException](tab.append(
      spark.range(0L, 5L).select($"id".cast("int").as("k"),
        lit(1.0d).as("x"))))
    intercept[IllegalArgumentException](tab.append(
      spark.range(0L, 5L).select(concat(lit("s"), $"id").as("k"),
        lit(1.0d).as("x"))))
  }

  test("type widening, extended lattice: int→double, int→decimal, " +
      "decimal→wider-decimal, date→timestamp_ntz — all metadata-only; " +
      "insufficient decimal room and cross-family bloom widening refuse") {
    val root = freshRoot("widen2")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(0L, 50L).select(
      $"id".cast("int").as("a"),
      $"id".cast("int").as("b"),
      $"id".cast("decimal(5,2)").as("d"),
      to_date(lit("2026-01-01")).as("dt")).repartition(2))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    tab.append(spark.range(50L, 60L).select(
      $"id".cast("double").as("a"),
      $"id".cast("decimal(12,0)").as("b"),
      $"id".cast("decimal(12,4)").as("d"),
      lit("2026-02-01 12:00:00").cast("timestamp_ntz").as("dt")))
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(before.subsetOf(snap.adds.map(_.path).toSet),
      "every widening must be metadata-only")
    import org.apache.spark.sql.types._
    assert(snap.meta.schema("a").dataType === DoubleType)
    assert(snap.meta.schema("b").dataType === DecimalType(12, 0))
    assert(snap.meta.schema("d").dataType === DecimalType(12, 4))
    assert(snap.meta.schema("dt").dataType === TimestampNTZType)
    assert(snap.meta.features.contains("typeWidening"))
    // old narrow files upcast natively under the wide schema
    assert(tab.read().count() === 60L)
    val r42 = tab.read().where($"b" === 42).select($"a", $"d", $"dt")
      .head()
    assert(r42.getDouble(0) === 42.0)
    assert(r42.getDecimal(1) === new java.math.BigDecimal("42.0000"))
    assert(r42.getAs[java.time.LocalDateTime](2) ===
      java.time.LocalDate.parse("2026-01-01").atStartOfDay())
    // stats still prune conservatively across the l→d kind mix
    assert(tab.readBetween("a", 0L, 10L).count() === 11L)
    // a decimal without room for every int digit refuses
    intercept[IllegalArgumentException](tab.append(
      spark.range(0L, 3L).select($"id".cast("double").as("a"),
        $"id".cast("decimal(9,0)").as("b"),
        $"id".cast("decimal(12,4)").as("d"),
        lit("2026-02-01 12:00:00").cast("timestamp_ntz").as("dt"))))
    // a bloom-indexed column refuses a widening that crosses the hash
    // family (the sidecars would become false-negative machines)
    val t2 = new TxTable(spark, freshRoot("widenbloom"))
    t2.create(spark.range(0L, 50L)
      .select($"id".cast("int").as("k")).repartition(2))
    t2.addBloomIndex("k")
    val ex = intercept[IllegalArgumentException](t2.append(
      spark.range(0L, 3L).select($"id".cast("double").as("k"))))
    assert(ex.getMessage.contains("bloom hash family"))
    // ...while the SAME-family widening int→long sails through
    t2.append(spark.range(60L, 63L).select($"id".as("k")))
    assert(t2.readEquals("k", 42L).count() === 1L)
  }

  test("additive schema evolution: old files read back with nulls") {
    val tab = new TxTable(spark, freshRoot("evo"))
    tab.create(docs(5))
    tab.append(docs(3).withColumn("id", $"id" + 50)
      .withColumn("score", $"id".cast("double") / 10.0))
    val got = tab.read()
    assert(got.schema.fieldNames.contains("score"))
    assert(got.where($"id" < 50 && $"score".isNull).count() === 5)
    assert(got.where($"id" >= 50 && $"score".isNotNull).count() === 3)
    // incompatible type change is refused
    val bad = docs(1).withColumn("score", lit("not-a-double"))
    intercept[IllegalArgumentException](tab.append(bad))
  }

  test("stats skipping prunes files and loses nothing") {
    val rootStr = freshRoot("skip")
    val tab = new TxTable(spark, rootStr)
    tab.create(spark.range(1000).select($"id",
      ($"id" * 2).as("even")).repartitionByRange(10, $"id"))
    val fs = new Path(rootStr).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(rootStr))
    val cand = tab.candidateFiles(snap, "id", 100L, 199L)
    assert(snap.adds.size === 10)
    assert(cand.size <= 2, s"10 range-disjoint files, window spans ≤2, got ${cand.size}")
    val got = tab.readBetween("id", 100L, 199L).select("id").as[Long].collect().sorted
    assert(got === (100L to 199L).toArray)
  }

  test("merge rewrites only files holding a matched key") {
    val rootStr = freshRoot("mrg")
    val tab = new TxTable(spark, rootStr)
    // 10 range-disjoint files over ids 0..999
    tab.create(spark.range(1000).select($"id",
      lit("old").as("tag")).repartitionByRange(10, $"id"))
    val fs = new Path(rootStr).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs, new Path(rootStr)).adds.map(_.path).toSet
    // updates land in ONE file's range; inserts are new keys
    val src = spark.range(100, 110).select($"id", lit("upd").as("tag"))
      .unionAll(spark.range(2000, 2005).select($"id", lit("ins").as("tag")))
    tab.merge(src, Seq("id"))
    val after = TxLog.snapshot(fs, new Path(rootStr)).adds.map(_.path).toSet
    // range boundaries are sampled, so the 10-key window may straddle a
    // file edge — but it can never touch more than 2 of the 10 files
    val rewritten = (before -- after).size
    assert(rewritten >= 1 && rewritten <= 2,
      s"only matched files are rewritten, got $rewritten of ${before.size}")
    val got = tab.read()
    assert(got.count() === 1005)
    assert(got.where($"tag" === "upd").count() === 10)
    assert(got.where($"tag" === "ins").count() === 5)
    assert(got.where($"id" >= 100 && $"id" < 110 && $"tag" === "old").count() === 0)
    // ambiguous source is refused
    intercept[IllegalArgumentException](
      tab.merge(src.unionAll(src.limit(1)), Seq("id")))
  }

  test("CHECK constraints gate every write path atomically") {
    val tab = new TxTable(spark, freshRoot("chk"))
    tab.create(docs(10))
    tab.addConstraint("id >= 0")
    val v = tab.version
    intercept[IllegalArgumentException](
      tab.append(docs(5).withColumn("id", $"id" - 100L)))
    assert(tab.version === v, "a refused append must commit nothing")
    assert(tab.read().count() === 10)
    tab.append(docs(3).withColumn("id", $"id" + 50L)) // satisfying rows pass
    assert(tab.read().count() === 13)
    // a constraint the existing data already violates is refused
    intercept[IllegalArgumentException](tab.addConstraint("id < 20"))
    // merge enforces too
    intercept[IllegalArgumentException](
      tab.merge(docs(2).withColumn("id", $"id" - 7L), Seq("id")))
  }

  test("optimize bin-packs small files atomically; old versions still travel") {
    val tab = new TxTable(spark, freshRoot("opt"))
    tab.create(docs(10))
    (1 to 4).foreach(i => tab.append(docs(5).withColumn("id", $"id" + i * 100)))
    val beforeFiles = tab.read().inputFiles.length
    val beforeRows = tab.read().count()
    val v = tab.optimize()
    assert(tab.read().inputFiles.length < beforeFiles,
      s"optimize must shrink the file count (was $beforeFiles)")
    assert(tab.read().count() === beforeRows, "content is lossless")
    assert(tab.read(asOf = Some(v - 1)).count() === beforeRows,
      "the pre-optimize snapshot still resolves")
    assert(tab.optimize() === v, "an already-compact table is a no-op")
  }

  test("concurrent merges on disjoint keys both land") {
    val tab = new TxTable(spark, freshRoot("mm"))
    tab.create(docs(100))
    val a = docs(100).where($"id" < 10).withColumn("text", lit("A"))
    val b = docs(100).where($"id" >= 50 && $"id" < 60).withColumn("text", lit("B"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = Seq(a, b).map(src =>
        scala.concurrent.Future(tab.merge(src, Seq("id"))))
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    val got = tab.read()
    assert(got.count() === 100, "no row lost or duplicated")
    assert(got.where($"text" === "A").count() === 10)
    assert(got.where($"text" === "B").count() === 10)
  }

  test("shallow clone reads the source zero-copy and diverges on write") {
    val tab = new TxTable(spark, freshRoot("clsrc"))
    tab.create(docs(30))
    val cloneRoot = freshRoot("cldst")
    val clone = tab.cloneTo(cloneRoot)
    assert(clone.read().count() === 30)
    // zero copy: no data file lives under the clone root
    val dfs = new Path(cloneRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = dfs.listFiles(new Path(cloneRoot), true)
    var dataFiles = 0
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) dataFiles += 1
    assert(dataFiles === 0, s"clone staged $dataFiles data files")
    assert(clone.history().collect().head.getString(1) === "CLONE")
    // divergence both ways: a clone rewrite never touches the source...
    clone.deleteWhere($"id" < 10)
    assert(clone.read().count() === 20)
    assert(tab.read().count() === 30, "source unaffected by clone delete")
    // ...and a source append never reaches the clone
    tab.append(docs(5).withColumn("id", $"id" + 500))
    assert(tab.read().count() === 35)
    assert(clone.read().count() === 20, "clone unaffected by source append")
    // CLONE ... VERSION AS OF: branch a table off an OLDER state
    val old = tab.cloneTo(freshRoot("cldold"), asOf = Some(0L))
    assert(old.read().count() === 30, "the v0 state, pre-append")
    assert(old.read().where($"id" >= 500).count() === 0)
  }

  test("restore rewinds the live set as a new commit; vacuumed targets refuse") {
    val tab = new TxTable(spark, freshRoot("rst"))
    tab.create(docs(20))
    tab.deleteWhere($"id" >= 10)
    assert(tab.read().count() === 10)
    val v = tab.restore(0L)
    assert(tab.read().count() === 20, "the delete is undone")
    assert(tab.read(asOf = Some(v - 1)).count() === 10,
      "the deleted state is still in history")
    val h = tab.history().collect().map(_.getString(1))
    assert(h.last === "RESTORE")
    tab.deleteWhere($"id" >= 10)
    tab.vacuum(keepVersions = 1, minAgeMs = 0L)
    intercept[IllegalArgumentException](tab.restore(0L))
  }

  test("restore to a pre-DV version drops the newer deletion vector") {
    // Regression: deleteWhereMergeOnRead re-adds the SAME path with a dv
    // payload, so a path-only restore diff would emit nothing for that
    // file and the restored table would silently keep the delete.
    val tab = new TxTable(spark, freshRoot("rdv"))
    tab.create(docs(100))
    tab.deleteWhereMergeOnRead($"id" % 10 === 0)
    assert(tab.read().count() === 90)
    tab.restore(0L)
    assert(tab.read().count() === 100,
      "restore must re-point the file to its pre-vector Add payload")
    // and the other direction: restoring BACK onto the vectored version
    tab.restore(1L)
    assert(tab.read().count() === 90,
      "restore must also re-attach a target version's deletion vector")
  }

  test("candidateFiles prunes partition columns from partitionValues") {
    val rootStr = freshRoot("ppv")
    val tab = new TxTable(spark, rootStr)
    tab.create(docs(30), partitionCols = Seq("lang"))
    val fs = new Path(rootStr).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(rootStr))
    val cand = tab.candidateFiles(snap, "lang", "1", "1")
    assert(cand.nonEmpty && cand.size < snap.adds.size,
      s"partition pruning kept ${cand.size} of ${snap.adds.size}")
    assert(cand.forall(_.partitionValues.get("lang").contains("1")))
    val got = tab.readBetween("lang", "1", "1").count()
    assert(got === 10)
  }

  test("OPTIMIZE ZORDER tightens per-file stats on BOTH dimensions") {
    val rootStr = freshRoot("zopt")
    val tab = new TxTable(spark, rootStr)
    val grid = spark.range(1024)
      .select(($"id" % 32).as("u"), ($"id" / 32).as("d"))
    tab.create(grid.repartition(8)) // round-robin: every file spans both ranges
    val fs = new Path(rootStr).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs, new Path(rootStr))
    assert(tab.candidateFiles(before, "u", 0L, 3L).size === before.adds.size,
      "pre-zorder, a narrow slice cannot skip anything")
    tab.optimize(zorderBy = Some(("u", "d")), zPartitions = 16)
    val after = TxLog.snapshot(fs, new Path(rootStr))
    val total = after.adds.size
    assert(total > 2, s"z-rewrite should land several files, got $total")
    val uHit = tab.candidateFiles(after, "u", 0L, 3L).size
    val dHit = tab.candidateFiles(after, "d", 0L, 3L).size
    assert(uHit <= total / 2, s"u-slice touches $uHit of $total")
    assert(dHit <= total / 2, s"d-slice touches $dHit of $total")
    // and the pruned read is still exact
    val got = tab.readBetween("u", 0L, 3L).count()
    assert(got === 1024 / 32 * 4)
  }

  test("history records the operation sequence with base versions") {
    val tab = new TxTable(spark, freshRoot("hist"))
    tab.create(docs(10))
    tab.append(docs(5).withColumn("id", $"id" + 100))
    tab.deleteWhere($"id" < 3)
    val h = tab.history().orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(h === Array((0L, "CREATE", -1L), (1L, "APPEND", 0L),
      (2L, "DELETE", 1L)))
    // operation metrics ride every commit: row sums are layout-invariant
    val m = tab.history().orderBy("version").collect()
      .map(_.getAs[Map[String, Long]]("operation_metrics"))
    assert(m.forall(_ != null))
    assert(m(0)("numOutputRows") === 10L && m(0)("numRemovedFiles") === 0L)
    assert(m(1)("numOutputRows") === 5L)
    assert(m(2)("numRemovedFiles") > 0L, "the delete rewrote files")
    assert(m.forall(_("numAddedBytes") >= 0L))
  }

  /** The files a plan will actually read: each native scan's FileIndex
    * listing under the scan's own partition + data filters (the
    * planner-side pruning [[graft.lake.TxFileIndex]] serves). */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten

  test("partition-literal filter prunes other partitions' files from the plan") {
    val tab = new TxTable(spark, freshRoot("prune"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    val one = tab.read().where(col("lang").cast("string") === "1")
    // the predicate lands in the scan's partitionFilters and the
    // FileIndex lists only that partition's files — the lake's
    // partition pruning, now inside the planner
    val files = scannedFiles(one)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("lang=1")),
      s"non-matching partition files survived: $files")
    assert(one.count() === 10)
  }

  test("overwritePartition replaces exactly one partition") {
    val tab = new TxTable(spark, freshRoot("op"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    val repl = docs(30).where($"lang" === "1")
      .withColumn("text", lit("REPLACED"))
    tab.overwritePartition("lang", "1", repl)
    val got = tab.read()
    assert(got.where($"lang" === "1" && $"text" =!= "REPLACED").count() === 0)
    assert(got.where($"lang" =!= "1" && $"text" === "REPLACED").count() === 0)
    assert(got.count() === 30)
    // rows outside the named partition are refused
    intercept[IllegalArgumentException](
      tab.overwritePartition("lang", "1", docs(3)))
  }

  test("overwritePartition refuses a row whose partition value is null") {
    val tab = new TxTable(spark, freshRoot("opnull"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    val v = tab.version
    val rows = docs(6).where($"lang" === "1")
      .union(docs(1).withColumn("lang", lit(null).cast("string")))
    val err = intercept[IllegalArgumentException](
      tab.overwritePartition("lang", "1", rows))
    assert(err.getMessage.contains("got rows outside the partition"))
    assert(tab.version === v)
    assert(tab.read().count() === 30)
  }

  test("value-free overwritePartition replaces the partition the rows " +
      "land in; zero rows and two stamps are refused") {
    val tab = new TxTable(spark, freshRoot("opdyn"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    assert(tab.overwritePartition("lang",
      docs(30).where($"lang" === "2").withColumn("text", lit("NEW"))) === 1L)
    val got = tab.read()
    assert(got.where($"lang" === "2" && $"text" =!= "NEW").count() === 0)
    assert(got.where($"text" === "NEW").count() === 10)
    assert(got.count() === 30)
    val none = intercept[IllegalArgumentException](
      tab.overwritePartition("lang", docs(30).where($"id" < 0L)))
    assert(none.getMessage.contains(
      "one load = one lang stamp; got 0 distinct values"))
    val two = intercept[IllegalArgumentException](
      tab.overwritePartition("lang", docs(2)))
    assert(two.getMessage.contains(
      "one load = one lang stamp; got 2 distinct values"))
    assert(tab.version === 1L)
    assert(tab.read().count() === 30)
  }

  test("value-free overwritePartition on a change-feed table: the " +
      "commit's feed is the version diff") {
    val tab = new TxTable(spark, freshRoot("opcdf"))
    tab.create(docs(30), partitionCols = Seq("lang"),
      enableChangeDataFeed = true)
    val v = tab.overwritePartition("lang", docs(40)
      .where($"lang" === "0" && $"id" >= 15L).withColumn("text", lit("NEW")))
    val before = tab.read(asOf = Some(v - 1))
    val after = tab.read(asOf = Some(v))
    val feed = tab.readChanges(v, v)
    def rows(d: DataFrame) =
      d.select("id", "text", "lang").as[(Long, String, String)]
        .collect().toSeq.sorted
    assert(rows(feed.where($"_change_type" === "delete")) ===
      rows(before.exceptAll(after)))
    assert(rows(feed.where($"_change_type" === "insert")) ===
      rows(after.exceptAll(before)))
    assert(feed.count() === 10 + 9)
    // a second stamp is caught after the probe, before the commit
    intercept[IllegalArgumentException](
      tab.overwritePartition("lang", docs(3)))
    assert(tab.version === v)
  }

  test("a refused overwritePartition deletes what it staged: every " +
      "parquet file under the table is one the log references") {
    def unreferenced(root: String): Seq[String] = {
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val logged = (0L to TxLog.latestVersion(fs, p)).flatMap { v =>
        TxLog.commitEntries(fs, p, v).flatMap(e =>
          e.add.map(_.path) ++ e.remove.map(_.path) ++ e.cdf.map(_.path))
      }.toSet
      val onDisk = Files.walk(java.nio.file.Paths.get(root)).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
        .map(_.stripPrefix(root + "/")).filterNot(_.startsWith("_txlog/"))
      onDisk.filterNot(logged).toSeq
    }
    val plain = freshRoot("oporph")
    val tab = new TxTable(spark, plain)
    tab.create(docs(30), partitionCols = Seq("lang"))
    intercept[IllegalArgumentException](      // a stray row
      tab.overwritePartition("lang", "1", docs(3)))
    assert(unreferenced(plain) === Nil)
    intercept[IllegalArgumentException](      // zero stamps
      tab.overwritePartition("lang", docs(30).where($"id" < 0L)))
    intercept[IllegalArgumentException](      // two stamps
      tab.overwritePartition("lang", docs(2)))
    assert(unreferenced(plain) === Nil)
    assert(tab.version === 0L)
    // a change-feed table stages its feed in the same action: both go
    val feed = freshRoot("oporphcdf")
    val ftab = new TxTable(spark, feed)
    ftab.create(docs(30), partitionCols = Seq("lang"),
      enableChangeDataFeed = true)
    intercept[IllegalArgumentException](
      ftab.overwritePartition("lang", docs(3)))
    intercept[IllegalArgumentException](
      ftab.overwritePartition("lang", "2", docs(3)))
    assert(unreferenced(feed) === Nil)
    assert(ftab.read().count() === 30)
  }

  test("value-free overwritePartition: two loads of one stamp race and " +
      "exactly one load's rows survive") {
    val tab = new TxTable(spark, freshRoot("oprace"))
    tab.create(docs(30), partitionCols = Seq("lang"))
    OverwriteRaceGate.reset()
    // load A's single staging task waits until load B has committed, so
    // A's first commit attempt loses the race and A restages
    val gated = udf { (id: Long) => OverwriteRaceGate.pass(); id }
    val a = docs(30).coalesce(1).where($"lang" === "1")
      .withColumn("id", gated($"id") + 1000L)
    val b = docs(30).where($"lang" === "1").withColumn("id", $"id" + 2000L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fa = scala.concurrent.Future(tab.overwritePartition("lang", a))
      assert(OverwriteRaceGate.started.await(60,
        java.util.concurrent.TimeUnit.SECONDS))
      assert(tab.overwritePartition("lang", b) === 1L)
      OverwriteRaceGate.committed.countDown()
      assert(scala.concurrent.Await.result(fa,
        scala.concurrent.duration.Duration(120, "s")) === 2L)
    } finally {
      OverwriteRaceGate.committed.countDown()
      pool.shutdown()
    }
    val ones = tab.readEquals("lang", "1").select($"id").as[Long]
      .collect().toSet
    assert(ones === (1L until 30L by 3L).map(_ + 1000L).toSet)
    assert(tab.read().count() === 30)
  }

  test("a commit file re-created at the same path with the same length " +
      "and mtime misses the parsed-log cache") {
    val root = freshRoot("pcache")
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new TxTable(spark, root).create(docs(3))
    assert(TxLog.tryCommit(fs, rootP, 1L,
      Seq(TxLog.LogEntry(info = Some(TxLog.Info("AAAA", 0L))))))
    def op() = TxLog.commitEntries(fs, rootP, 1L).flatMap(_.info).map(_.op)
    assert(op() === Seq("AAAA"))
    // a new file (so a new inode) with same-length content and the old
    // mtime, renamed over the commit
    val file = java.nio.file.Paths.get(root, "_txlog", f"${1L}%020d.json")
    val tmp = file.resolveSibling("rewrite.tmp")
    val text = new String(Files.readAllBytes(file), "UTF-8")
    Files.write(tmp, text.replace("AAAA", "BBBB").getBytes("UTF-8"))
    Files.setLastModifiedTime(tmp, Files.getLastModifiedTime(file))
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    assert(op() === Seq("BBBB"))
  }

  test("deletion vectors: small deletes rewrite NOTHING, reads stay exact, " +
    "vectors merge, the cap falls back to copy-on-write, optimize purges") {
    val root = freshRoot("dv")
    val tab = new TxTable(spark, root)
    tab.create(docs(1000))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    val before = dataFiles()
    val v1 = tab.deleteWhereMergeOnRead($"id" % 100L === 0L) // 10 rows
    assert(dataFiles() === before, "a DV delete must not stage a single file")
    assert(tab.read().count() === 990)
    assert(tab.read().where($"id" % 100L === 0L).count() === 0)
    val snap1 = TxLog.snapshot(fs, new Path(root))
    assert(snap1.adds.exists(_.hasDv))
    assert(snap1.adds.map(_.rows).sum === 990, "Add.rows must count LIVE rows")
    // change feed: the DV commit is exactly the 10 deletes, no inserts
    val feed = tab.readChanges(v1, v1)
    assert(feed.where($"_change_type" === "insert").count() === 0)
    assert(feed.where($"_change_type" === "delete")
      .select("id").as[Long].collect().sorted.toSeq
      === (0L until 1000L by 100L))
    // a second DV delete merges into the existing vectors
    tab.deleteWhereMergeOnRead($"id" === 1L)
    assert(tab.read().count() === 989)
    // time travel reads THROUGH the pre-delete snapshot untouched
    assert(tab.read(asOf = Some(0L)).count() === 1000)
    // a whole-file vector drops the file, and over-cap files fall back
    // to copy-on-write — both in one commit
    val beforeBig = dataFiles()
    tab.deleteWhereMergeOnRead($"id" >= 500L, maxPositionsPerFile = 100)
    assert(tab.read().count() === 494) // 0..499 minus {0,1,100,200,300,400}
    assert(dataFiles() !== beforeBig, "an over-cap delete must rewrite")
    // OPTIMIZE reads through the vectors and purges them
    tab.optimize()
    val snapO = TxLog.snapshot(fs, new Path(root))
    assert(snapO.adds.forall(!_.hasDv), "optimize must purge DVs")
    assert(tab.read().count() === 494)
    assert(tab.read().where($"id" % 100L === 0L || $"id" === 1L).count() === 0)
  }

  test("readChangesBetweenTimestamps slices the feed by in-commit stamps") {
    val tab = new TxTable(spark, freshRoot("cdfts"))
    tab.create(docs(5), enableChangeDataFeed = true)            // v0
    tab.append(docs(3).withColumn("id", $"id" + 10L))           // v1
    tab.append(docs(2).withColumn("id", $"id" + 20L))           // v2
    val t0 = tab.commitTimestamp(0L).get
    val t1 = tab.commitTimestamp(1L).get
    val t2 = tab.commitTimestamp(2L).get
    val mid = tab.readChangesBetweenTimestamps(t1, t1)
    assert(mid.select("id").as[Long].collect().sorted.toSeq ===
      Seq(10L, 11L, 12L), "the instant range picks exactly v1")
    assert(tab.readChangesBetweenTimestamps(t0, t2).count() === 10L)
    intercept[IllegalArgumentException](
      tab.readChangesBetweenTimestamps(t2 + 1000L, t2 + 2000L))
  }

  test("NOT NULL constraint: nulls refuse on every ingest shape, an " +
    "omitting frame refuses, the constraint follows a rename and " +
    "lifts on drop; a pre-existing null refuses the ALTER") {
    val nnRoot = freshRoot("notnull")
    val tab = new TxTable(spark, nnRoot)
    tab.create(docs(20))
    // a column currently holding nulls refuses the constraint
    tab.append(docs(3).withColumn("id", $"id" + 100)
      .withColumn("extra", lit(null).cast("string")))
    intercept[IllegalArgumentException](tab.addNotNull("extra"))
    val v = graft.lake.LakeSql.run(spark,
      s"ALTER '$nnRoot' ALTER COLUMN text SET NOT NULL")
      .collect().head.getLong(0)
    assert(v === 2L)
    assert(tab.addNotNull("text") === 2L, "idempotent — no new commit")
    // a null value refuses; a frame OMITTING the column refuses
    intercept[IllegalArgumentException](tab.append(docs(2)
      .withColumn("id", $"id" + 200)
      .withColumn("text", lit(null).cast("string"))))
    intercept[IllegalArgumentException](tab.append(docs(2)
      .withColumn("id", $"id" + 200).drop("text")))
    // an UPDATE landing null refuses too (the rewrite path enforces)
    intercept[IllegalArgumentException](tab.update($"id" === 5L,
      Map("text" -> lit(null).cast("string"))))
    // valid writes pass
    tab.append(docs(2).withColumn("id", $"id" + 300))
    // the constraint follows its column through a rename
    tab.renameColumn("text", "body")
    val fs = new Path(nnRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(nnRoot))
    assert(snap.meta.requiredCols === List("body"))
    assert(snap.meta.writerFeats.contains("notNullConstraints"),
      "a version-skewed writer must refuse, not land nulls")
    intercept[IllegalArgumentException](tab.append(docs(1)
      .withColumn("id", $"id" + 400)
      .withColumnRenamed("text", "body")
      .withColumn("body", lit(null).cast("string"))))
    // DROP lifts it
    graft.lake.LakeSql.run(spark,
      s"ALTER '$nnRoot' ALTER COLUMN body DROP NOT NULL")
    tab.append(docs(1).withColumn("id", $"id" + 500)
      .withColumnRenamed("text", "body")
      .withColumn("body", lit(null).cast("string")))
    assert(tab.read().where($"body".isNull && $"id" >= 500).count() === 1L)
  }

  test("DEEP CLONE copies every referenced byte — the clone survives " +
    "source vacuum AND deletion; stats/vectors carry verbatim; a " +
    "shallow clone deep-clones into a materialized table") {
    val srcRoot = freshRoot("deepsrc")
    val src = new TxTable(spark, srcRoot)
    src.create(docs(200).repartitionByRange(2, $"id"))           // v0
    src.deleteWhereMergeOnRead($"id" % 50L === 0L)               // v1: DVs
    src.addBloomIndex("id")                                      // v2
    val fs = new Path(srcRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // shallow references, deep copies
    val shRoot = freshRoot("deepsh"); val dpRoot = freshRoot("deepdst")
    src.cloneTo(shRoot)
    val dp = graft.lake.LakeSql
      .run(spark, s"CLONE '$srcRoot' TO '$dpRoot' DEEP")
    assert(dp.collect().head.getLong(0) === 2L)
    val dpTab = new TxTable(spark, dpRoot)
    val dpSnap = TxLog.snapshot(fs, new Path(dpRoot))
    assert(dpSnap.adds.forall(a => !a.path.startsWith("/")),
      "deep clone must reference its OWN directory, not the source")
    assert(dpSnap.adds.exists(_.hasDv) &&
      dpSnap.adds.forall(_.stats.nonEmpty),
      "vectors and stats carry verbatim — zero recompute")
    assert(dpTab.read().count() === 196L)
    // a deep clone OF the shallow clone materializes its absolute refs
    val dp2Root = freshRoot("deepofsh")
    new TxTable(spark, shRoot).cloneTo(dp2Root, deep = true)
    assert(TxLog.snapshot(fs, new Path(dp2Root)).adds
      .forall(a => !a.path.startsWith("/")))
    // kill the source wholesale: deep clones keep answering, the
    // shallow one is now broken (Delta's documented caveat)
    fs.delete(new Path(srcRoot), true)
    assert(dpTab.read().count() === 196L)
    assert(new TxTable(spark, dp2Root).read().count() === 196L)
    assert(dpTab.readEquals("id", 42L).count() === 1L,
      "bloom sidecars answer from the copied location")
    intercept[Exception](
      new TxTable(spark, shRoot).read().count())
  }

  test("CONVERT adopts a plain parquet directory in place: no data file " +
    "rewritten, hive partitions become partition columns, stats power " +
    "pruning, and mutations work from the first commit on") {
    val root = freshRoot("convert")
    val rootP = new Path(root)
    // a foreign writer laid the data down — plain hive-partitioned
    // parquet, no log anywhere
    docs(300).write.partitionBy("lang").parquet(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(rootP, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.toString.contains("_txlog"))
          out += f.getPath.toString -> f.getModificationTime
      }
      out.result()
    }
    val before = dataFiles()
    val tab = new TxTable(spark, root)
    val v = graft.lake.LakeSql
      .run(spark, s"CONVERT '$root' PARTITIONED BY (lang)")
      .as[Long].head()
    assert(v === 0L)
    assert(dataFiles() === before, "CONVERT must not rewrite a byte")
    assert(tab.read().count() === 300)
    val snap = TxLog.snapshot(fs, rootP)
    assert(snap.meta.partitionCols === List("lang"))
    assert(snap.adds.forall(a => a.partitionValues.contains("lang") &&
      a.bytes.isDefined && a.stats.contains("id")),
      "adopted files must carry partition values, sizes and stats")
    assert(tab.verifyChecksum(), "convert seeds the checksum chain")
    // partition pruning works off the adopted log
    val one = tab.read().where($"lang" === 1)
    assert(scannedFiles(one).forall(_.contains("lang=1")))
    // the adopted table mutates like any other
    tab.deleteWhere($"id" < 50L)
    assert(tab.read().count() === 250)
    assert(tab.verifyChecksum())
    // converting a directory that already has a log refuses
    intercept[IllegalArgumentException](tab.convertInPlace(Seq("lang")))
  }

  test("per-commit checksums: the chain tracks every mutation shape and " +
    "verifies at every version; a gap heals at the checkpoint; a " +
    "tampered checksum fails loudly") {
    val root = freshRoot("crc")
    val rootP = new Path(root)
    val tab = new TxTable(spark, root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tab.create(docs(100).repartitionByRange(2, $"id"))          // v0
    assert(tab.verifyChecksum(), "create seeds the chain")
    tab.append(docs(50).withColumn("id", $"id" + 100L))          // v1
    tab.deleteWhere($"id" < 10L)                                 // v2 CoW
    tab.deleteWhereMergeOnRead($"id" === 20L)                    // v3 DV
    tab.restore(1L)                                              // v4
    (0L to 4L).foreach { v =>
      assert(tab.verifyChecksum(Some(v)),
        s"v$v must carry a checksum that matches its snapshot")
    }
    // a chain gap: kill the head's crc — the NEXT commits can't extend
    // the chain (verify=false, not a lie), until a checkpoint re-seeds
    // from the authoritative live set
    assert(fs.delete(TxLog.crcFile(rootP, 4L), false))
    var v = 4L
    while (v < TxLog.checkpointInterval) {
      v = tab.append(docs(1).withColumn("id", $"id" + 1000L + v))
      if (v < TxLog.checkpointInterval)
        assert(!tab.verifyChecksum(Some(v)),
          s"v$v is inside the gap — no checksum may exist")
    }
    assert(v === TxLog.checkpointInterval)
    assert(tab.verifyChecksum(), "the checkpoint re-seeded the chain")
    v = tab.append(docs(1).withColumn("id", $"id" + 5000L))
    assert(tab.verifyChecksum(Some(v)),
      "incremental writing resumes after the re-seed")
    // tamper: a stored checksum that disagrees with the snapshot throws
    val bad = TxLog.Crc(v, 999L, 999L, 999L)
    val out = fs.create(TxLog.crcFile(rootP, v), true)
    out.write(
      s"""{"version":$v,"numFiles":999,"totalRows":999,"totalBytes":999}"""
        .getBytes("UTF-8"))
    out.close()
    val ex = intercept[IllegalStateException](tab.verifyChecksum(Some(v)))
    assert(ex.getMessage.contains("checksum mismatch") &&
      ex.getMessage.contains(bad.numFiles.toString))
  }

  test("REORG APPLY (PURGE) rewrites exactly the vector-carrying files " +
    "and leaves clean files untouched; a vector-free table no-ops") {
    val root = freshRoot("reorg")
    val tab = new TxTable(spark, root)
    tab.create(docs(400).repartitionByRange(4, $"id"))        // v0
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snap() = TxLog.snapshot(fs, new Path(root))
    tab.deleteWhereMergeOnRead($"id" < 10L)                   // v1: DVs
    val s1 = snap()
    val dvPaths = s1.adds.filter(_.hasDv).map(_.path).toSet
    val cleanPaths = s1.adds.filterNot(_.hasDv).map(_.path).toSet
    assert(dvPaths.nonEmpty && cleanPaths.nonEmpty,
      "range layout must leave both shadowed and clean files")
    val v = graft.lake.LakeSql
      .run(spark, s"REORG TABLE '$root' APPLY (PURGE)")
      .as[Long].head()
    assert(v === 2L)
    val s2 = snap()
    assert(s2.adds.forall(!_.hasDv), "no vectors may remain")
    assert(cleanPaths.subsetOf(s2.adds.map(_.path).toSet),
      "PURGE must not touch a clean file")
    assert(s2.adds.map(_.path).toSet.intersect(dvPaths).isEmpty,
      "every shadowed file must be replaced")
    assert(tab.read().count() === 390)
    assert(tab.read().where($"id" < 10L).count() === 0)
    assert(tab.reorgPurge() === 2L,
      "a vector-free table no-ops without a commit")
  }

  test("readLatestPartition scans only the newest load's files, " +
    "one log resolution") {
    val tab = new TxTable(spark, freshRoot("rlp"))
    tab.create(docs(30).withColumn("load", lit("2026-01-01")),
      partitionCols = Seq("load"))
    tab.overwritePartition("load", "2026-01-02",
      docs(5).withColumn("id", $"id" + 100).withColumn("load", lit("2026-01-02")))
    val latest = tab.readLatestPartition("load")
    assert(latest.count() === 5)
    assert(latest.select("load").distinct().as[String].collect()
      === Array("2026-01-02"))
    // the older load's files are pruned by the planner's FileIndex
    // listing — same pruning contract as the explicit
    // partition-literal read
    val files = scannedFiles(latest)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("load=2026-01-02")),
      s"older load's files survived: $files")
  }

  test("concurrent DV-delete vs append linearizes — no lost rows either way") {
    val tab = new TxTable(spark, freshRoot("dvrace"))
    tab.create(docs(200))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val del = scala.concurrent.Future(
        tab.deleteWhereMergeOnRead($"id" % 50L === 0L)) // 4 sparse rows
      val app = scala.concurrent.Future(
        tab.append(docs(10).withColumn("id", $"id" + 5000L)))
      scala.concurrent.Await.result(del.zip(app),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    val ids = tab.read().select("id").as[Long].collect().toSet
    // both serializations agree: original non-multiples survive, the 4
    // multiples die (appended 5000..5009 contains no multiple-of-50 hit
    // only 5000 — appended rows existed in neither pre-image, so the DV
    // writer may or may not have seen them; assert only the invariants
    // both orders share)
    assert((0L until 200L).filterNot(_ % 50 == 0).forall(ids.contains))
    assert((0L until 200L).filter(_ % 50 == 0).forall(!ids.contains(_)))
    assert((5001L until 5010L).forall(ids.contains), "no appended row lost")
  }

  test("change feed: pure rewrites emit nothing, updates emit pairs, " +
    "vacuumed ranges refuse") {
    val tab = new TxTable(spark, freshRoot("cdf"))
    tab.create(docs(10))                                  // v0
    (0 until 3).foreach(i =>                              // v1..v3
      tab.append(docs(2).withColumn("id", $"id" + 100L * (i + 1))))
    tab.optimize()                                        // v4: pure rewrite
    tab.update($"id" === 3L, Map("text" -> lit("EDITED"))) // v5
    // v4 (OPTIMIZE) rewrites every row verbatim: the multiset diff must
    // cancel to exactly zero change rows
    assert(tab.readChanges(4L, 4L).count() === 0)
    // v5: one update = one delete+insert pair, nothing else
    val pair = tab.readChanges(5L, 5L)
      .select($"id", $"text", $"_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(pair === Set((3L, "doc-3", "delete"), (3L, "EDITED", "insert")))
    // full range = create + appends + the pair, survivors all cancelled
    val feed = tab.readChanges(0L, 5L)
    assert(feed.where($"_change_type" === "insert").count() === 10 + 6 + 1)
    assert(feed.where($"_change_type" === "delete").count() === 1)
    // metadata-only commits emit nothing
    tab.addConstraint("id IS NOT NULL")                   // v6
    assert(tab.readChanges(6L, 6L).count() === 0)
    // vacuum kills the old files the early range needs → loud refusal
    tab.vacuum(keepVersions = 1, minAgeMs = 0L)
    intercept[Exception](tab.readChanges(0L, 5L).count())
  }

  test("deletion vectors live in compact binary sidecars: O(1) log entry " +
    "per vectored file, DV-aware optimize, vacuumed sidecars") {
    val root = freshRoot("dvsc")
    val tab = new TxTable(spark, root)
    tab.create(docs(10000).coalesce(1))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a WIDE sparse delete: 5000 positions in one file, inside the cap
    val v1 = tab.deleteWhereMergeOnRead($"id" % 2 === 1L,
      maxPositionsPerFile = 10000)
    val commit = new Path(rootPath, f"_txlog/$v1%020d.json")
    val txt = {
      val in = fs.open(commit)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(!txt.contains("\"dv\":"),
      "positions must NOT serialize inline in the log")
    assert(txt.contains("dvFile") && txt.contains("\"dvCount\":5000"))
    assert(fs.getFileStatus(commit).getLen < 2000,
      s"5000-position DV commit must stay O(1): ${fs.getFileStatus(commit).getLen} bytes")
    val add = TxLog.snapshot(fs, rootPath).adds.find(_.hasDv).get
    assert(fs.exists(new Path(rootPath, add.dvFile.get)), "sidecar on disk")
    // the sidecar itself is compact: ~1 byte per gap-2 position
    assert(fs.getFileStatus(new Path(rootPath, add.dvFile.get)).getLen
      < 5000 * 3)
    assert(tab.read().count() === 5000)
    assert(tab.read().where($"id" % 2 === 1L).count() === 0)
    // a second delete merges into a NEW sidecar (files are immutable)
    tab.deleteWhereMergeOnRead($"id" === 0L)
    assert(tab.read().count() === 4999)

    // DV-aware OPTIMIZE: the 30%-shadowed partition file is rewritten
    // clean, the 0.3%-shadowed one keeps its vector untouched
    val t2root = freshRoot("dvaw")
    val tab2 = new TxTable(spark, t2root)
    tab2.create(docs(999).coalesce(1), partitionCols = Seq("lang"))
    tab2.deleteWhereMergeOnRead($"id" < 300 && $"id" % 3 === 0) // lang=0: 100/333
    tab2.deleteWhereMergeOnRead($"id" === 1L)                   // lang=1: 1/333
    val fs2 = new Path(t2root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs2, new Path(t2root)).adds
      .map(a => a.path -> a).toMap
    tab2.optimize(minRows = 0) // disable the small-file branch: DV-only pass
    val after = TxLog.snapshot(fs2, new Path(t2root)).adds
    val heavy = after.filter(_.partitionValues.get("lang").contains("0"))
    assert(heavy.nonEmpty && heavy.forall(!_.hasDv),
      "over-threshold DV file must be rewritten clean")
    val light = after.filter(_.partitionValues.get("lang").contains("1"))
    assert(light.nonEmpty && light.forall(a =>
      a.hasDv && before.get(a.path).contains(a)),
      "under-threshold DV file must be left untouched")
    assert(tab2.read().count() === 999 - 100 - 1)
    // after a full purge + vacuum, no sidecar survives
    tab2.optimize(minRows = 0, dvFraction = 0.0)
    tab2.vacuum(keepVersions = 1, minAgeMs = 0L)
    val leftover = {
      val it = fs2.listFiles(new Path(t2root), true)
      var found = List.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".bin")) found ::= p
      }
      found
    }
    assert(leftover.isEmpty, s"vacuum must reclaim dead sidecars: $leftover")
  }

  test("column-mapping rename: metadata-only, skipping stats survive, " +
    "guards refuse partition/constrained/colliding names") {
    val root = freshRoot("ren")
    val tab = new TxTable(spark, root)
    tab.create(docs(100), partitionCols = Seq("lang"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesBefore = TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    tab.renameColumn("id", "doc_id")
    assert(TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
      === filesBefore, "rename must be a pure metadata commit")
    // reads resolve the new logical name; the old one is gone
    assert(tab.read().columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(tab.read().select("doc_id").count() === 100)
    // stats-based skipping works through the mapping on the NEW name
    val pruned = tab.candidateFiles(
      TxLog.snapshot(fs, new Path(root)), "doc_id", 0L, 5L)
    assert(pruned.forall(_.stats.contains("id")),
      "stats stay keyed by the physical name")
    assert(tab.readBetween("doc_id", 0L, 5L).count() === 6)
    // a write under the new name lands in the old physical column
    tab.append(docs(5).withColumn("id", $"id" + 500L)
      .withColumnRenamed("id", "doc_id"))
    assert(tab.read().count() === 105)
    assert(tab.read().where($"doc_id" >= 500L).count() === 5)
    // time travel BEFORE the rename serves the old logical name
    assert(tab.read(asOf = Some(0L)).columns.toSeq
      === Seq("id", "text", "lang"))
    // rename-back round-trips
    tab.renameColumn("doc_id", "id")
    assert(tab.read().columns.toSeq === Seq("id", "text", "lang"))
    assert(tab.read().count() === 105)
    // guards
    intercept[IllegalArgumentException](tab.renameColumn("lang", "language"))
    intercept[IllegalArgumentException](tab.renameColumn("id", "text"))
    intercept[IllegalArgumentException](tab.renameColumn("nope", "x"))
    tab.addConstraint("id IS NOT NULL")
    intercept[IllegalArgumentException](tab.renameColumn("id", "doc_id"))
  }

  test("column-mapping drop: metadata-only, re-add gets a fresh physical " +
    "name, guards refuse partition/constrained/last columns") {
    val root = freshRoot("drop")
    val tab = new TxTable(spark, root)
    tab.create(docs(100), partitionCols = Seq("lang"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesBefore = TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    tab.dropColumn("text")
    assert(TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
      === filesBefore, "drop must be a pure metadata commit")
    assert(tab.read().columns.toSeq === Seq("id", "lang"))
    // the physical name is retired in the log
    assert(TxLog.snapshot(fs, new Path(root)).meta.retired === List("text"))
    // re-add via additive evolution: fresh physical name, old bytes
    // stay buried — pre-drop rows read NULL, new rows their value
    tab.append(docs(5).withColumn("id", $"id" + 500L)
      .withColumn("text", concat(lit("new-"), $"id")))
    val mapping = TxLog.snapshot(fs, new Path(root)).meta
      .columnMapping.getOrElse(Map.empty)
    assert(mapping.get("text").exists(_ != "text"),
      s"re-added column must map to a fresh physical name, got $mapping")
    assert(tab.read().where($"text".isNotNull).count() === 5)
    assert(tab.read().where($"id" < 500L && $"text".isNotNull).count() === 0)
    // time travel before the drop serves the original column + bytes
    assert(tab.read(asOf = Some(0L)).columns.toSeq === Seq("id", "text", "lang"))
    assert(tab.read(asOf = Some(0L)).where($"text".isNull).count() === 0)
    // guards
    intercept[IllegalArgumentException](tab.dropColumn("lang"))
    intercept[IllegalArgumentException](tab.dropColumn("nope"))
    tab.addConstraint("id IS NOT NULL")
    intercept[IllegalArgumentException](tab.dropColumn("id"))
    val one = new TxTable(spark, freshRoot("drop1"))
    one.create(docs(3).select($"id"))
    intercept[IllegalArgumentException](one.dropColumn("id"))
  }

  test("commit-time CDF: a feed slice reads ONLY _change_data — no table " +
    "data file — and mixed histories fall back per commit") {
    val root = freshRoot("cdfc")
    val tab = new TxTable(spark, root)
    tab.create(docs(100), enableChangeDataFeed = true)      // v0
    tab.append(docs(10).withColumn("id", $"id" + 1000L))    // v1 (adds-only)
    val vDel = tab.deleteWhere($"id" >= 1005L && $"id" < 1010L) // v2
    val vUpd = tab.update($"id" === 7L, Map("text" -> lit("EDITED"))) // v3
    // deletes: identical ledger to the diff fallback's
    val del = tab.readChanges(vDel, vDel)
    assert(del.where($"_change_type" === "delete")
      .select("id").as[Long].collect().sorted.toSeq === (1005L to 1009L))
    assert(del.where($"_change_type" =!= "delete").count() === 0)
    // the captured update carries the four-type pre/postimage pair the
    // file-diff fallback cannot know
    val pair = tab.readChanges(vUpd, vUpd)
      .select($"id", $"text", $"_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(pair === Set((7L, "doc-7", "update_preimage"),
      (7L, "EDITED", "update_postimage")))
    // THE capture contract: the mutating commits' feed slices plan zero
    // table data files — every input is staged change data
    val slice = tab.readChanges(vDel, vUpd)
    assert(slice.inputFiles.nonEmpty)
    assert(slice.inputFiles.forall(_.contains("_change_data")),
      s"feed slice re-read table data: ${slice.inputFiles.toSeq}")
    // DV deletes capture too
    val vDv = tab.deleteWhereMergeOnRead($"id" % 25L === 0L)
    val dvSlice = tab.readChanges(vDv, vDv)
    assert(dvSlice.inputFiles.forall(_.contains("_change_data")))
    // live multiples of 25: 0, 25, 50, 75 and the appended 1000
    assert(dvSlice.where($"_change_type" === "delete").count() === 5)
    // OPTIMIZE under capture: marked empty — nothing emitted, no diff run
    val vOpt = tab.optimize()
    assert(tab.readChanges(vOpt, vOpt).count() === 0)
    // mixed history: a table that enables CDF mid-life serves pre-enable
    // commits from the diff fallback and post-enable ones from capture
    val mixed = new TxTable(spark, freshRoot("cdfm"))
    mixed.create(docs(50))                                   // v0, no CDF
    val vOld = mixed.deleteWhere($"id" >= 45L)               // v1, fallback
    mixed.enableChangeDataFeed()                             // v2
    val vNew = mixed.update($"id" === 1L, Map("text" -> lit("X"))) // v3
    val feed = mixed.readChanges(vOld, vNew)
    assert(feed.where($"_change_type" === "delete" && $"id" >= 45L)
      .count() === 5, "pre-enable commit must still resolve via the diff")
    assert(mixed.readChanges(vNew, vNew).inputFiles
      .forall(_.contains("_change_data")))
    // vacuumed change data refuses loudly
    (1 to 3).foreach(_ => tab.append(docs(1).withColumn("id", $"id" + 9000)))
    tab.vacuum(keepVersions = 1, minAgeMs = 0L)
    intercept[Exception](tab.readChanges(vDel, vDel).count())
  }

  test("replay depth stays bounded by the checkpoint interval over a " +
    "113-commit history") {
    val root = freshRoot("deep")
    val tab = new TxTable(spark, root)
    tab.create(docs(25))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 113L).foreach { v =>
      assert(TxLog.tryCommit(fs, rootPath, v,
        Seq(TxLog.LogEntry(info = Some(TxLog.Info("NOOP", v - 1))))))
    }
    // every at-or-past-first-checkpoint resolution replays ≤ interval
    // tail commits and seeds from a checkpoint; content never degrades
    Seq(10L, 43L, 99L, 110L, 113L).foreach { v =>
      val snap = TxLog.snapshot(fs, rootPath, Some(v))
      val (replayed, usedCkpt) = TxLog.lastReplay.get()
      assert(usedCkpt, s"probe $v must seed from a checkpoint")
      assert(replayed <= TxLog.checkpointInterval,
        s"probe $v replayed $replayed commits — O(history), not O(interval)")
      assert(snap.version === v)
      assert(tab.read(asOf = Some(v)).count() === 25)
    }
    // pre-checkpoint era: full replay is the only option, and it is exact
    TxLog.snapshot(fs, rootPath, Some(7L))
    assert(TxLog.lastReplay.get() === ((8L, false)))
  }

  test("concurrent OVERLAPPING-key merges serialize: last committer wins " +
    "the overlap, no key duplicated, no update lost") {
    val tab = new TxTable(spark, freshRoot("mrace"))
    tab.create(docs(20)) // ids 0..19, text "doc-<id>"
    def src(tag: String, lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi + 1).select(
        $"id", concat(lit(s"$tag-"), $"id").as("text"),
        ($"id" % 3).cast("string").as("lang"))
    // A updates 5..14 (+inserts 100), B updates 10..19 (+inserts 200):
    // keys 10..14 overlap — the contract under a lost race is re-read the
    // FRESH snapshot and re-merge, so the later committer's rows must win
    // the overlap and the earlier committer's non-overlap updates survive
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (vA, vB) =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val fa = scala.concurrent.Future(
          tab.merge(src("A", 5, 14).unionAll(src("A", 100, 100)), Seq("id")))
        val fb = scala.concurrent.Future(
          tab.merge(src("B", 10, 19).unionAll(src("B", 200, 200)), Seq("id")))
        scala.concurrent.Await.result(
          fa.zip(fb), scala.concurrent.duration.Duration(180, "s"))
      } finally pool.shutdown()
    assert(Set(vA, vB) === Set(1L, 2L), "both merges must land, one per version")
    val winner = if (vA > vB) "A" else "B"
    val byId = tab.read().select($"id", $"text").as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byId.values.forall(_.size == 1), "a key must never be duplicated")
    val text = byId.view.mapValues(_.head).toMap
    assert(text.keySet === ((0L until 20L).toSet + 100L + 200L))
    (0L until 5L).foreach(i => assert(text(i) === s"doc-$i"))
    (5L until 10L).foreach(i => assert(text(i) === s"A-$i"))
    (10L until 15L).foreach(i => assert(text(i) === s"$winner-$i",
      s"overlap key $i must carry the LAST committer's row"))
    (15L until 20L).foreach(i => assert(text(i) === s"B-$i"))
    assert(text(100L) === "A-100" && text(200L) === "B-200")
    // and the retry still refuses an ambiguous (duplicate-key) source
    intercept[IllegalArgumentException](
      tab.merge(src("C", 1, 2).unionAll(src("C", 2, 3)), Seq("id")))
  }
}

/** Aggregate IVM delta-propagation edge cases the oracle query
  * (ext_lake_ivm_agg) cannot isolate: exact zero-count retraction
  * removing the group, a value-only update pair leaving count intact,
  * and the loud failure on a malformed change type.
  */
class IvmSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ivm_$tag")
      .resolve("tbl").toString

  private def slice(rows: (String, Long, String)*): DataFrame =
    rows.toDF("k", "v", "_change_type")

  test("retraction to zero deletes the group; update pair keeps count") {
    val state = new TxTable(spark, freshRoot("fold"))
    state.create(Seq(("a", 2L, 30L), ("b", 1L, 5L))
      .toDF("k", "n_rows", "sum_v"))
    // delete both of a's rows → group a must vanish entirely
    graft.ext.Ivm.foldCountSum(state,
      slice(("a", 10L, "delete"), ("a", 20L, "delete")),
      Seq("k"), "v", "n_rows", "sum_v")
    assert(state.read().select($"k").as[String].collect().toSeq === Seq("b"))
    // an update = delete+insert on b: count unchanged, sum moves 5→9
    graft.ext.Ivm.foldCountSum(state,
      slice(("b", 5L, "delete"), ("b", 9L, "insert")),
      Seq("k"), "v", "n_rows", "sum_v")
    val b = state.read().where($"k" === "b")
      .select($"n_rows", $"sum_v").as[(Long, Long)].collect().head
    assert(b === ((1L, 9L)))
    // a brand-new group arrives through the feed alone
    graft.ext.Ivm.foldCountSum(state,
      slice(("c", 7L, "insert")), Seq("k"), "v", "n_rows", "sum_v")
    val c = state.read().where($"k" === "c")
      .select($"n_rows", $"sum_v").as[(Long, Long)].collect().head
    assert(c === ((1L, 7L)))
  }

  test("update pre/postimage pairs fold as retraction + addition") {
    val state = new TxTable(spark, freshRoot("pp"))
    state.create(Seq(("a", 2L, 30L)).toDF("k", "n_rows", "sum_v"))
    // a value-only update: count stays, sum moves 30 → 37
    graft.ext.Ivm.foldCountSum(state,
      slice(("a", 10L, "update_preimage"), ("a", 17L, "update_postimage")),
      Seq("k"), "v", "n_rows", "sum_v")
    val a = state.read().where($"k" === "a")
      .select($"n_rows", $"sum_v").as[(Long, Long)].collect().head
    assert(a === ((2L, 37L)))
    // a group-moving update: the pair migrates a row a → b
    graft.ext.Ivm.foldCountSum(state,
      slice(("a", 17L, "update_preimage"), ("b", 17L, "update_postimage")),
      Seq("k"), "v", "n_rows", "sum_v")
    val got = state.read().select($"k", $"n_rows", $"sum_v")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("a", 1L, 20L), ("b", 1L, 17L)))
  }

  test("min/max retraction recomputes only on an extremum hit; duplicates survive") {
    // base: k=a holds values {5, 5, 9} — the min has multiplicity 2
    val base = new TxTable(spark, freshRoot("mmbase"))
    base.create(Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 9L))
      .toDF("k", "id", "v"), enableChangeDataFeed = true)
    val state = new TxTable(spark, freshRoot("mmstate"))
    state.create(base.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("mn"), max($"v").as("mx")))
    // delete ONE of the two min rows: the slice alone cannot know the
    // other 5 survives — the recompute must find mn still 5
    val v1 = base.deleteWhere($"id" === 1L)
    graft.ext.Ivm.foldCountSumMinMax(state, base, v1,
      base.readChanges(v1, v1).select($"k", $"v", $"_change_type"),
      Seq("k"), "v", "n", "s", "mn", "mx")
    val after = state.read().select($"n", $"s", $"mn", $"mx")
      .as[(Long, Long, Long, Long)].collect().head
    assert(after === ((2L, 14L, 5L, 9L)))
    // delete the max: recompute finds the next-highest
    val v2 = base.deleteWhere($"id" === 3L)
    graft.ext.Ivm.foldCountSumMinMax(state, base, v2,
      base.readChanges(v2, v2).select($"k", $"v", $"_change_type"),
      Seq("k"), "v", "n", "s", "mn", "mx")
    val after2 = state.read().select($"n", $"s", $"mn", $"mx")
      .as[(Long, Long, Long, Long)].collect().head
    assert(after2 === ((1L, 5L, 5L, 5L)))
    // empty the group: the state row vanishes, no recompute attempted
    val v3 = base.deleteWhere($"id" === 2L)
    graft.ext.Ivm.foldCountSumMinMax(state, base, v3,
      base.readChanges(v3, v3).select($"k", $"v", $"_change_type"),
      Seq("k"), "v", "n", "s", "mn", "mx")
    assert(state.read().count() === 0L)
  }

  test("NULL group keys fold like any group: state probe, upsert and " +
      "min/max retraction all match null-safely") {
    // GROUP BY keeps a null-keyed group; the state machinery must too
    val base = new TxTable(spark, freshRoot("nullbase"))
    base.create(Seq((Option.empty[String], 1L, 5L),
      (Option.empty[String], 2L, 9L), (Some("a"), 3L, 7L))
      .toDF("k", "id", "v"), enableChangeDataFeed = true)
    val state = new TxTable(spark, freshRoot("nullstate"))
    state.create(base.read().groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("mn"), max($"v").as("mx")))
    // retract the null group's MIN: the recompute must find 9 — with
    // plain equality the probe would miss and write mn/mx = null while
    // n stays 1 (a silent desync)
    val v1 = base.deleteWhere($"id" === 1L)
    graft.ext.Ivm.foldCountSumMinMax(state, base, v1,
      base.readChanges(v1, v1).select($"k", $"v", $"_change_type"),
      Seq("k"), "v", "n", "s", "mn", "mx")
    val got = state.read().select($"k", $"n", $"s", $"mn", $"mx")
      .as[(Option[String], Long, Long, Long, Long)].collect()
      .sortBy(_._1.getOrElse("")).toSeq
    assert(got === Seq((None, 1L, 9L, 9L, 9L), (Some("a"), 1L, 7L, 7L, 7L)))
    // and an insert-only fold onto the EXISTING null group updates it
    // in place (no recompute — inserts only tighten extrema) instead
    // of duplicating it
    graft.ext.Ivm.foldCountSumMinMax(state, base, v1,
      Seq((Option.empty[String], 2L, "insert")).toDF("k", "v", "_change_type"),
      Seq("k"), "v", "n", "s", "mn", "mx")
    val nullRows = state.read().where($"k".isNull)
      .select($"n", $"s", $"mn", $"mx")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(nullRows === Seq((2L, 11L, 2L, 9L)),
      "the null-keyed group must update, not duplicate")
  }

  test("a malformed change type fails loudly, never silently skips") {
    val state = new TxTable(spark, freshRoot("bad"))
    state.create(Seq(("a", 1L, 10L)).toDF("k", "n_rows", "sum_v"))
    val e = intercept[Exception] {
      graft.ext.Ivm.foldCountSum(state,
        slice(("a", 1L, "upsert")), // not a Delta change type
        Seq("k"), "v", "n_rows", "sum_v")
    }
    assert(e.getMessage != null)
  }
}

/** Per-file bloom index: the point-lookup skip path min/max stats
  * cannot serve when the key is uncorrelated with file layout.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"bloom_$tag")
      .resolve("tbl").toString

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id", concat(lit("u-"), $"id").as("tag"))

  test("backfill + write-time indexing skip files with no false negatives") {
    val root = freshRoot("skip")
    val tab = new TxTable(spark, root)
    // hash-random partitioning: every file spans ~the full id range, so
    // min/max stats keep ALL files for a point id — the bloom's job
    tab.create(rows(0, 4000).repartition(8))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap0 = TxLog.snapshot(fs, new Path(root))
    assert(tab.candidateFiles(snap0, "id", 123L, 123L).size === 8,
      "precondition: stats alone must not prune a shuffled key")
    tab.addBloomIndex("id", 0.01)
    val snap1 = TxLog.snapshot(fs, new Path(root))
    assert(snap1.adds.forall(_.bloom.exists(_.contains("id"))),
      "backfill must index every live file")
    val keep = tab.bloomCandidateFiles(snap1, "id", 123L)
    assert(keep.size < 8, s"bloom kept ${keep.size}/8 files — no skip")
    assert(tab.readEquals("id", 123L).select($"id").as[Long]
      .collect().toSeq === Seq(123L))
    // no false negatives across a key sample (false positives only)
    (0 until 40).foreach { i =>
      assert(tab.readEquals("id", i * 97L).count() === 1L) }
    // an Int probe against the BIGINT column hashes as long
    assert(tab.readEquals("id", 123).count() === 1L)
    // a miss returns empty, usually touching zero files
    assert(tab.readEquals("id", 999999L).count() === 0L)
    // new appends are indexed at write time, no re-backfill
    tab.append(rows(4000, 4200).repartition(2))
    val snap2 = TxLog.snapshot(fs, new Path(root))
    assert(snap2.adds.forall(_.bloom.exists(_.contains("id"))))
    assert(tab.readEquals("id", 4100L).count() === 1L)
    // a second index on the string column; probe casts through its type
    tab.addBloomIndex("tag")
    assert(tab.readEquals("tag", "u-123").count() === 1L)
    assert(tab.readEquals("tag", "nope").count() === 0L)
    // guards
    intercept[IllegalArgumentException](tab.addBloomIndex("nope"))
    intercept[IllegalArgumentException](tab.addBloomIndex("id", 2.0))
  }

  test("index maintenance is incremental: a same-spec re-run is a no-op, " +
      "a repair touches only unindexed files, a new fpp rebuilds") {
    val root = freshRoot("incr")
    val tab = new TxTable(spark, root)
    tab.create(rows(0, 1000).repartition(4))
    tab.addBloomIndex("id", 0.01)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new Path(root)
    // same spec, fully indexed: no commit at all
    val v1 = tab.version
    assert(tab.addBloomIndex("id", 0.01) === v1,
      "a fully-indexed table must not commit (let alone rebuild)")
    // strip ONE file's sidecar reference via a raw commit — the repair
    // must rewrite exactly that file's entry, keeping the others' bytes
    val snap = TxLog.snapshot(fs, rootP)
    val victim = snap.adds.head
    val others = snap.adds.tail.map(a => a.path -> a.bloom).toMap
    assert(TxLog.tryCommit(fs, rootP, v1 + 1, Seq(
      TxLog.LogEntry(remove = Some(TxLog.Remove(victim.path))),
      TxLog.LogEntry(add = Some(victim.copy(bloom = None))),
      TxLog.LogEntry(info = Some(TxLog.Info("STRIP", v1))))))
    val v2 = tab.addBloomIndex("id", 0.01)
    val repaired = TxLog.snapshot(fs, rootP)
    assert(repaired.adds.forall(_.bloom.exists(_.contains("id"))))
    repaired.adds.filter(a => others.contains(a.path)).foreach { a =>
      assert(a.bloom === others(a.path),
        s"repair must not rebuild already-indexed ${a.path}") }
    val committed = TxLog.commitEntries(fs, rootP, v2)
    assert(committed.flatMap(_.add).map(_.path) === Seq(victim.path),
      "the repair commit carries exactly the unindexed file")
    assert(tab.readEquals("id", 123L).count() === 1L)
    // a DIFFERENT fpp is a spec change: every sidecar is rebuilt
    val before = repaired.adds
      .map(a => a.path -> a.bloom.get("id")).toMap
    tab.addBloomIndex("id", 0.001)
    val rebuilt = TxLog.snapshot(fs, rootP)
    assert(rebuilt.adds.forall(a =>
      a.bloom.exists(_.contains("id")) &&
        !before.get(a.path).contains(a.bloom.get("id"))),
      "an fpp change must re-index every file")
    assert(tab.readEquals("id", 123L).count() === 1L)
  }

  test("partition columns refuse; optimize re-indexes; vacuum reclaims " +
    "orphaned sidecars and keeps referenced ones") {
    val root = freshRoot("vac")
    val tab = new TxTable(spark, root)
    tab.create(rows(0, 500).withColumn("lang", ($"id" % 2).cast("string")),
      partitionCols = Seq("lang"))
    intercept[IllegalArgumentException](tab.addBloomIndex("lang"))
    tab.addBloomIndex("id")
    // optimize rewrites small files; the rewritten files must carry
    // fresh sidecars (stageWrite indexes every load once the meta says so)
    tab.optimize(minRows = 1L << 20)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(snap.adds.forall(_.bloom.exists(_.contains("id"))))
    assert(tab.readEquals("id", 250L).count() === 1L)
    val removed = tab.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(removed.exists(_.startsWith("_bloom/")),
      s"vacuum must reclaim pre-optimize sidecars, removed=$removed")
    // referenced sidecars survive: lookups still skip and still answer
    assert(tab.readEquals("id", 250L).count() === 1L)
    assert(snap.adds.flatMap(_.bloom.map(_.values).getOrElse(Nil))
      .forall(rel => fs.exists(new Path(new Path(root), rel))))
  }
}

/** Conditional MERGE clause semantics the oracle query cannot isolate:
  * first-matching-clause-wins ordering, default keep/drop fates,
  * null-key non-matching, insert-only dedup, and the CDF capture.
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mi_$tag")
      .resolve("tbl").toString

  private def tbl(rows: (Long, String, Long)*) =
    rows.toDF("id", "status", "amt")

  test("clause order wins; unmatched-by-any-clause rows keep/drop by class") {
    val tab = new TxTable(spark, freshRoot("ord"))
    tab.create(tbl((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L)))
    val src = tbl((1L, "s", 99L), (2L, "s", 99L), (9L, "s", 5L),
      (10L, "s", 50L))
    tab.mergeInto(src, Seq("id"))
      // both clauses match id=1 (amt 10 < 15 AND < 25): FIRST wins → X
      .whenMatchedUpdate(Map("status" -> lit("X")),
        Some(col("t.amt") < 15L))
      .whenMatchedUpdate(Map("status" -> lit("Y")),
        Some(col("t.amt") < 25L))
      .whenNotMatchedInsert(Some(col("s.amt") > 10L))
      .execute()
    val got = tab.read().orderBy($"id")
      .select($"id", $"status", $"amt").as[(Long, String, Long)]
      .collect().toSeq
    // id=1 first clause (X); id=2 second (Y); id=3 matched by NO clause →
    // kept unchanged; id=9 insert cond false → dropped; id=10 inserted
    assert(got === Seq((1L, "X", 10L), (2L, "Y", 20L), (3L, "a", 30L),
      (10L, "s", 50L)))
  }

  test("null source keys never match; insert-only merge cannot duplicate") {
    val tab = new TxTable(spark, freshRoot("nk"))
    tab.create(tbl((1L, "a", 10L)))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "dup", 77L),
        org.apache.spark.sql.Row(null, "nullkey", 88L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("amt",
          org.apache.spark.sql.types.LongType, nullable = true))))
    tab.mergeInto(src, Seq("id")).whenNotMatchedInsert().execute()
    val got = tab.read().orderBy($"id").collect()
    // id=1 matched → NOT re-inserted (still "a"); the null-keyed row is
    // NOT MATCHED by definition → inserted
    assert(got.length === 2)
    assert(got.exists(r => r.isNullAt(0) && r.getString(1) === "nullkey"))
    assert(got.exists(r => !r.isNullAt(0) && r.getLong(0) === 1L
      && r.getString(1) === "a"))
  }

  test("by-source clauses rewrite unmatched target rows; CDF captures " +
    "exactly the touched rows") {
    val tab = new TxTable(spark, freshRoot("cdf"))
    tab.create(tbl((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "a", 40L)), enableChangeDataFeed = true)
    val v = tab.mergeInto(tbl((1L, "s", 11L), (9L, "s", 90L)), Seq("id"))
      .whenMatchedUpdate(Map("amt" -> col("s.amt")))
      .whenNotMatchedInsert()
      .whenNotMatchedBySourceDelete(Some(col("t.amt") >= 40L))
      .whenNotMatchedBySourceUpdate(Map("status" -> lit("stale")),
        Some(col("t.amt") >= 30L))
      .execute()
    val got = tab.read().orderBy($"id")
      .select($"id", $"status", $"amt").as[(Long, String, Long)]
      .collect().toSeq
    assert(got === Seq((1L, "a", 11L), (2L, "a", 20L),
      (3L, "stale", 30L), (9L, "s", 90L)))
    // feed, four-type fidelity: pre/post pair for each updated row (1
    // and 3), a plain delete for 4, a plain insert for 9 — and NOTHING
    // for the untouched row 2
    val feed = tab.readChanges(v, v)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSeq
    assert(!feed.exists(_._1 == 2L), s"untouched row leaked into feed: $feed")
    assert(feed.count(_ == ((1L, "update_preimage"))) === 1)
    assert(feed.count(_ == ((1L, "update_postimage"))) === 1)
    assert(feed.count(_ == ((4L, "delete"))) === 1)
    assert(feed.count(_._1 == 4L) === 1)
    assert(feed.count(_ == ((3L, "update_preimage"))) === 1)
    assert(feed.count(_ == ((3L, "update_postimage"))) === 1)
    assert(feed.count(_ == ((9L, "insert"))) === 1)
  }
}

/** Writer-transaction idempotence (the `txn` log action) and in-commit
  * timestamps — the exactly-once and wall-clock-travel primitives.
  */
class TxnIdempotenceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"txn_$tag")
      .resolve("tbl").toString

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id", concat(lit("r-"), $"id").as("v"))

  test("a replayed (appId, version) append is a log-level no-op") {
    val tab = new TxTable(spark, freshRoot("app"))
    tab.create(rows(0, 10))
    val v1 = tab.appendIdempotent(rows(10, 20), "job", 1L)
    assert(tab.read().count() === 20)
    // exact replay: no new commit, no new rows
    assert(tab.appendIdempotent(rows(10, 20), "job", 1L) === v1)
    assert(tab.version === v1)
    assert(tab.read().count() === 20)
    // a LOWER sequence number is also already absorbed
    assert(tab.appendIdempotent(rows(90, 95), "job", 0L) === v1)
    assert(tab.read().count() === 20)
    // the next sequence number lands; an unrelated app is independent
    val v2 = tab.appendIdempotent(rows(20, 25), "job", 2L)
    assert(v2 === v1 + 1 && tab.read().count() === 25)
    tab.appendIdempotent(rows(30, 32), "other", 1L)
    assert(tab.read().count() === 27)
    assert(tab.latestTxnVersion("job") === Some(2L))
    assert(tab.latestTxnVersion("other") === Some(1L))
    assert(tab.latestTxnVersion("nobody") === None)
  }

  test("the watermark survives checkpointed replay and merge honors it") {
    val tab = new TxTable(spark, freshRoot("ck"))
    tab.create(rows(0, 5))
    tab.appendIdempotent(rows(5, 10), "etl", 7L)
    // push past the checkpoint interval so the snapshot seeds from it
    (1 to 12).foreach(i => tab.append(rows(100L * i, 100L * i + 2)))
    assert(tab.latestTxnVersion("etl") === Some(7L),
      "txn watermark must ride the checkpoint, not only the tail")
    // a replayed merge under the same watermark is a no-op
    val before = tab.version
    tab.merge(rows(0, 3).withColumn("v", lit("CHANGED")),
      Seq("id"), txn = Some(("etl", 7L)))
    assert(tab.version === before)
    assert(tab.read().where($"v" === "CHANGED").count() === 0)
    // a fresh watermark merges for real
    tab.merge(rows(0, 3).withColumn("v", lit("CHANGED")),
      Seq("id"), txn = Some(("etl", 8L)))
    assert(tab.read().where($"v" === "CHANGED").count() === 3)
  }

  test("concurrent duplicate idempotent appends land exactly once") {
    val tab = new TxTable(spark, freshRoot("race"))
    tab.create(rows(0, 5))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val a = scala.concurrent.Future(
        tab.appendIdempotent(rows(5, 15), "dup", 1L))
      val b = scala.concurrent.Future(
        tab.appendIdempotent(rows(5, 15), "dup", 1L))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(a, b)),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    assert(tab.read().count() === 15, "the duplicate must not double-land")
    assert(tab.latestTxnVersion("dup") === Some(1L))
  }

  test("in-commit timestamps are monotonic and TIMESTAMP AS OF resolves") {
    val tab = new TxTable(spark, freshRoot("ts"))
    tab.create(rows(0, 5))         // v0
    tab.append(rows(5, 10))        // v1
    tab.deleteWhere($"id" < 3)     // v2
    val ts = (0L to 2L).map(v => tab.commitTimestamp(v).get)
    assert(ts(0) < ts(1) && ts(1) < ts(2),
      "strict monotonicity even for same-millisecond commits")
    assert(tab.versionAtTimestamp(ts(1)) === 1L)
    assert(tab.versionAtTimestamp(ts(2) - 1) === 1L)
    assert(tab.readAsOfTimestamp(ts(1)).count() === 10)
    assert(tab.readAsOfTimestamp(ts(2)).count() === 7)
    intercept[IllegalArgumentException](tab.versionAtTimestamp(ts(0) - 1))
    // history surfaces the stamps
    val h = tab.history().orderBy("version").collect()
    assert(h.map(_.getAs[Long]("timestamp_ms")).toSeq === ts)
  }
}

/** Partition evolution: spec changes are metadata-only, mixed layouts
  * read and prune correctly in BOTH directions, and the guarded
  * operations refuse until the layout is homogeneous.
  */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"pevo_$tag")
      .resolve("tbl").toString

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id",
      (($"id" % 3).cast("string")).as("lang"),
      concat(lit("d-"), $"id").as("text"))

  test("unpartitioned -> partitioned: metadata-only, mixed reads, " +
    "both layouts prune, rewrite homogenizes") {
    val root = freshRoot("up")
    val tab = new TxTable(spark, root)
    tab.create(rows(0, 90).repartitionByRange(3, $"id"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
    tab.repartitionBy(Seq("lang"))
    assert(TxLog.snapshot(fs, new Path(root)).adds.map(_.path).toSet
      === before, "evolution must not touch a data file")
    tab.append(rows(90, 180))
    val snap = TxLog.snapshot(fs, new Path(root))
    // new files carry the lang directory value, old files don't
    assert(snap.adds.exists(_.partitionValues.contains("lang")))
    assert(snap.adds.exists(!_.partitionValues.contains("lang")))
    // the mixed table reads whole and correct in every column
    val got = tab.read().orderBy($"id").collect()
    assert(got.length === 180)
    assert(got.forall(r => r.getAs[String]("lang")
      === (r.getAs[Long]("id") % 3).toString))
    // pruning: old-layout files by lang STATS, new-layout by VALUES —
    // lang='9' matches nothing on either side
    assert(tab.candidateFiles(snap, "lang", "9", "9").isEmpty)
    assert(tab.readBetween("lang", "1", "1").count() === 60)
    // overwritePartition refuses the mixed layout, works after rewrite
    intercept[IllegalArgumentException](
      tab.overwritePartition("lang", "1",
        rows(0, 1).withColumn("lang", lit("1"))))
    tab.repartitionRewrite()
    val homo = TxLog.snapshot(fs, new Path(root))
    assert(homo.adds.forall(_.partitionValues.keySet === Set("lang")))
    assert(tab.read().count() === 180, "rewrite preserves content")
    tab.overwritePartition("lang", "1",
      rows(300, 302).withColumn("lang", lit("1")))
    assert(tab.read().where($"lang" === "1").count() === 2)
    // rewrite on a homogeneous table is a no-op commit-wise
    val v = tab.version
    assert(tab.repartitionRewrite() === v)
  }

  test("partitioned -> unpartitioned: directory values become data " +
    "bytes; old files still serve the column from the log") {
    val root = freshRoot("down")
    val tab = new TxTable(spark, root)
    tab.create(rows(0, 30), partitionCols = Seq("lang"))
    tab.repartitionBy(Seq.empty)
    tab.append(rows(30, 60))
    // old files: lang attached from partitionValues; new: from bytes
    val got = tab.read().orderBy($"id").collect()
    assert(got.length === 60)
    assert(got.forall(r => r.getAs[String]("lang")
      === (r.getAs[Long]("id") % 3).toString))
    // time travel BEFORE the evolution still reads the old spec
    assert(tab.read(asOf = Some(0L)).count() === 30)
    // guards: unknown and renamed columns refuse
    intercept[IllegalArgumentException](tab.repartitionBy(Seq("nope")))
    tab.renameColumn("text", "body")
    intercept[IllegalArgumentException](tab.repartitionBy(Seq("body")))
  }
}

/** Bounded-driver snapshot resolution ([[graft.lake.TxLog
  * .prunedSnapshot]]): above the live-set threshold, planning filters
  * the checkpoint DISTRIBUTED and only matched Add entries ever reach
  * the driver; below it, the ordinary in-memory fold serves. The
  * checkpoint here is fabricated (5000 entries, no data files) — the
  * contract under test is metadata resolution, not data IO.
  */
class LazySnapshotSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, lit}
  import graft.lake.TxLog.{Add, LogEntry, Stat}

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"lazy_$tag")
      .resolve("tbl").toString

  private def idKeep(lo: Long, hi: Long): org.apache.spark.sql.Column = {
    val st = col("stats").getItem("id")
    st.isNull ||
      (st.getField("max").cast("long") >= lit(lo) &&
        st.getField("min").cast("long") <= lit(hi))
  }

  test("above the threshold planning prunes distributed — full Add list " +
      "never materializes on the driver; tail overlay applies") {
    import spark.implicits._
    val root = freshRoot("big")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(40L, 61L).toDF("id"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    // fabricate a v0 parquet checkpoint: the real state + 5000 fake
    // files, each covering id range [i*100, i*100+99]
    val fakes = (0 until 5000).map(i => Add(s"fake/f$i.parquet", 10L,
      Map.empty, Map("id" -> Stat("l", (i * 100).toString,
        (i * 100 + 99).toString)), bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    val ckptDir = new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(ckptDir.toString)
    assert(fs.exists(new Path(ckptDir, "_SUCCESS")))
    def put(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    put(new Path(rootP, "_txlog/_last_checkpoint"),
      s"""{"version":0,"entries":${entries.size}}""")
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    try {
      // [250, 310] overlaps fake f2 (200-299) and f3 (300-399) only
      val snap = TxLog.prunedSnapshot(fs, rootP, None, _ => idKeep(250L, 310L))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune",
        "a 5000-file live set must not fold on the driver")
      assert(TxLog.lastResolve.get()._2 === snap.adds.size.toLong)
      assert(snap.adds.size < 10, "only candidates may reach the driver")
      // exact agreement with the driver-side filter over the full fold
      val full = TxLog.snapshot(fs, rootP)
      assert(full.adds.size === real.adds.size + 5000)
      val driverMatched = full.adds.filter(a =>
        a.stats.get("id").exists(s =>
          s.max.toLong >= 250L && s.min.toLong <= 310L)).map(_.path).toSet
      assert(snap.adds.map(_.path).toSet === driverMatched)
      assert(snap.meta === real.meta, "meta resolves from the checkpoint")

      // tail overlay: commit v1 removes a matched file and adds another
      implicit val fmts: org.json4s.Formats =
        org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
      val v1 = Seq(
        LogEntry(remove = Some(TxLog.Remove("fake/f2.parquet"))),
        LogEntry(add = Some(Add("fake/g0.parquet", 5L, Map.empty,
          Map("id" -> Stat("l", "260", "270")), bytes = Some(1L)))),
        LogEntry(info = Some(TxLog.Info("FAKE", 0L))))
        .map(org.json4s.jackson.Serialization.write(_)).mkString("\n")
      put(new Path(rootP, f"_txlog/${1L}%020d.json"), v1)
      val snap2 = TxLog.prunedSnapshot(fs, rootP, None, _ => idKeep(250L, 310L))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      assert(snap2.version === 1L)
      val paths2 = snap2.adds.map(_.path).toSet
      assert(!paths2.contains("fake/f2.parquet"), "tail remove applies")
      assert(paths2.contains("fake/g0.parquet"), "tail add applies")
      assert(paths2.contains("fake/f3.parquet"))
    } finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  test("partition-value keeps prune distributed too (latest-partition " +
      "planning shape)") {
    import spark.implicits._
    val root = freshRoot("pv")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(0L, 5L).toDF("id"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    // 3000 fake files across 30 daily loads; 100 per day
    val fakes = (0 until 3000).map(i => Add(s"fake/p$i.parquet", 10L,
      Map("load" -> f"2026-03-${i % 30 + 1}%02d"), Map.empty,
      bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    val ckptDir = new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(ckptDir.toString)
    def put(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    put(new Path(rootP, "_txlog/_last_checkpoint"),
      s"""{"version":0,"entries":${entries.size}}""")
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    try {
      // the latest-partition planning shape: keep = no decoded value
      // (conservative — pre-evolution files) OR the pinned value
      val pv = col("partitionValues").getItem("load")
      val snap = TxLog.prunedSnapshot(fs, rootP, None,
        _ => pv.isNull || pv === lit("2026-03-30"))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      val paths = snap.adds.map(_.path).toSet
      assert(snap.adds.count(_.partitionValues.nonEmpty) === 100,
        "exactly the pinned day's 100 files survive the pv prune")
      assert(real.adds.map(_.path).forall(paths),
        "files without a decoded value are conservatively kept")
    } finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  test("predicate mutations plan distributed above the threshold — " +
      "UPDATE/DELETE never materialize the full Add list") {
    import spark.implicits._
    val root = freshRoot("mut")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(40L, 61L).toDF("id"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    // 5000 fake files, all FAR above the real id range: a mutation that
    // plans them would fail reading nonexistent parquet, so success IS
    // the proof only stats-candidates were planned
    val fakes = (0 until 5000).map(i => Add(s"fake/f$i.parquet", 10L,
      Map.empty, Map("id" -> Stat("l", (100000L + i * 100).toString,
        (100000L + i * 100 + 99).toString)), bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    val ckptDir = new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(ckptDir.toString)
    def put(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    put(new Path(rootP, "_txlog/_last_checkpoint"),
      s"""{"version":0,"entries":${entries.size}}""")
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    try {
      tab.update($"id" === 50L, Map("id" -> lit(-50L)))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune",
        "the mutation's planning snapshot must not fold on the driver")
      assert(TxLog.lastResolve.get()._2 < 100L,
        "only stats-candidate Adds may reach the driver")
      tab.deleteWhere($"id" >= 58L && $"id" <= 60L)
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      // keyed mutations plan distributed too: the key frame's range
      // agg feeds the checkpoint filter
      tab.merge(Seq(44L, 61L).toDF("id"), Seq("id"))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune",
        "merge must not fold the full Add list")
      assert(TxLog.lastResolve.get()._2 < 100L)
      tab.applyChanges(
        Seq((45L, "delete"), (62L, "insert")).toDF("id", "_change_type"),
        Seq("id"))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      // a blind append collects NO Add entries at all
      tab.append(Seq(63L).toDF("id"))
      assert(TxLog.lastResolve.get() === ("distributed-prune", 0L),
        "append must not collect any Add entry")
      // read back through the pruned range path (a full read would plan
      // the fake files): every mutation landed
      val got = tab.readBetween("id", -60L, 70L).as[Long].collect().toSet
      assert(got === ((40L to 57L).toSet - 50L + -50L - 45L + 61L + 62L + 63L))
    } finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  test("partition overwrite plans distributed — one partition's files " +
      "collected, never the table's") {
    import spark.implicits._
    val root = freshRoot("ow")
    val tab = new TxTable(spark, root)
    tab.create(Seq((1L, "a"), (2L, "b")).toDF("id", "load"),
      partitionCols = Seq("load"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    // 3000 fake files across OTHER partition values, correct layout —
    // an overwrite of load=a must never plan (or collect) them
    val fakes = (0 until 3000).map(i => Add(s"fake/p$i.parquet", 10L,
      Map("load" -> s"z$i"), Map.empty, bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
        .toString)
    val o = fs.create(new Path(rootP, "_txlog/_last_checkpoint"), true)
    try o.write(
      s"""{"version":0,"entries":${entries.size}}""".getBytes("UTF-8"))
    finally o.close()
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    try {
      tab.overwritePartition("load", "a",
        Seq((10L, "a"), (11L, "a")).toDF("id", "load"))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune",
        "the overwrite's planning snapshot must not fold on the driver")
      assert(TxLog.lastResolve.get()._2 < 100L,
        "only the target partition's files may reach the driver")
      assert(tab.readEquals("load", "a").select($"id").as[Long]
        .collect().toSet === Set(10L, 11L))
    } finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  test("value-free partition overwrite above the threshold stages, then " +
      "plans; a commit landing in between is a lost race") {
    import spark.implicits._
    val root = freshRoot("owdyn")
    val tab = new TxTable(spark, root)
    tab.create(Seq((1L, "a"), (2L, "b")).toDF("id", "load"),
      partitionCols = Seq("load"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    val fakes = (0 until 3000).map(i => Add(s"fake/p$i.parquet", 10L,
      Map("load" -> s"z$i"), Map.empty, bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
        .toString)
    val o = fs.create(new Path(rootP, "_txlog/_last_checkpoint"), true)
    try o.write(
      s"""{"version":0,"entries":${entries.size}}""".getBytes("UTF-8"))
    finally o.close()
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    assert(tab.overwritePartition("load",
      Seq((20L, "b")).toDF("id", "load")) === 1L)
    assert(tab.readEquals("load", "b").select($"id").as[Long]
      .collect().toSet === Set(20L))
    OverwriteRaceGate.reset()
    // the next load's single staging task waits until an append has committed
    // on top of the meta-only snapshot it staged against
    val gated = udf { (id: Long) => OverwriteRaceGate.pass(); id }
    val load = Seq((10L, "a"), (11L, "a")).toDF("id", "load").coalesce(1)
      .withColumn("id", gated($"id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val f = scala.concurrent.Future(tab.overwritePartition("load", load))
      assert(OverwriteRaceGate.started.await(60,
        java.util.concurrent.TimeUnit.SECONDS))
      assert(tab.append(Seq((3L, "b")).toDF("id", "load")) === 2L)
      OverwriteRaceGate.committed.countDown()
      assert(scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(120, "s")) === 3L)
      assert(tab.readEquals("load", "a").select($"id").as[Long]
        .collect().toSet === Set(10L, 11L))
      assert(tab.readEquals("load", "b").select($"id").as[Long]
        .collect().toSet === Set(20L, 3L))
    } finally {
      OverwriteRaceGate.committed.countDown()
      pool.shutdown()
      spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
    }
  }

  test("restore plans distributed above the threshold — the DIFF, not " +
      "two full live sets, reaches the driver") {
    import spark.implicits._
    val root = freshRoot("restdist")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(0L, 5L).toDF("id"))
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val real = TxLog.snapshot(fs, rootP)
    // 5000 fakes live at v0; v1 removes one and adds a new one — the
    // restore-to-v0 diff is exactly {remove g0, re-add f2}
    val fakes = (0 until 5000).map(i => Add(s"fake/f$i.parquet", 10L,
      Map.empty, Map("id" -> Stat("l", (100000L + i * 100).toString,
        (100000L + i * 100 + 99).toString)), bytes = Some(1L)))
    val entries = (LogEntry(meta = Some(real.meta)) +:
      (real.adds ++ fakes).map(a => LogEntry(add = Some(a)))).toSeq
    val enc = org.apache.spark.sql.Encoders.product[LogEntry]
    spark.createDataset(entries)(enc).write.mode("overwrite")
      .parquet(new Path(rootP, f"_txlog/${0L}%020d.checkpoint.parquet")
        .toString)
    def put(p: Path, s: String): Unit = {
      val o = fs.create(p, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    put(new Path(rootP, "_txlog/_last_checkpoint"),
      s"""{"version":0,"entries":${entries.size}}""")
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    put(new Path(rootP, f"_txlog/${1L}%020d.json"), Seq(
      LogEntry(remove = Some(TxLog.Remove("fake/f2.parquet"))),
      LogEntry(add = Some(Add("fake/g0.parquet", 5L, Map.empty,
        Map("id" -> Stat("l", "100200", "100299")), bytes = Some(1L)))),
      LogEntry(info = Some(TxLog.Info("FAKE", 0L))))
      .map(org.json4s.jackson.Serialization.write(_)).mkString("\n"))
    // ONLY the diff's re-added file exists on disk: if the vacuum
    // existence check ran over the full target live set (4999 other
    // fakes, none on disk), the restore would refuse
    put(new Path(rootP, "fake/f2.parquet"), "")
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1000")
    try {
      val v = tab.restore(0L)
      assert(TxLog.lastResolve.get()._1 === "distributed-prune",
        "restore must not fold two live sets on the driver")
      assert(TxLog.lastResolve.get()._2 < 10L,
        "only the payload diff may reach the driver")
      val committed = TxLog.commitEntries(fs, rootP, v)
      assert(committed.flatMap(_.remove).map(_.path) ===
        Seq("fake/g0.parquet"))
      assert(committed.flatMap(_.add).map(_.path) ===
        Seq("fake/f2.parquet"))
      assert(committed.flatMap(_.meta).isEmpty,
        "unchanged meta must not be re-committed")
      // the restored state answers a pruned read correctly
      assert(tab.readBetween("id", 0L, 4L).as[Long].collect().toSet ===
        (0L until 5L).toSet)
    } finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  test("below the threshold (and on real read paths) the driver fold serves") {
    import spark.implicits._
    val root = freshRoot("small")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(0L, 100L).toDF("id").repartition(4))
    (1 to 10).foreach(i =>
      tab.append(spark.range(i * 100L, i * 100L + 100L).toDF("id")
        .repartition(2)))
    // readBetween resolves through prunedSnapshot; a small table folds
    // in memory and the driver-side candidateFiles prune still skips
    val got = tab.readBetween("id", 250L, 310L).orderBy($"id")
      .as[Long].collect().toSeq
    assert(TxLog.lastResolve.get()._1 === "driver-fold")
    assert(got === (250L to 310L).toSeq)
  }
}

/** Cross-thread gate for the overwrite race test: the gated load's
  * staging task (an executor thread of the local session) opens
  * `started`, then waits for `committed`. */
object OverwriteRaceGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var committed = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    committed = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(): Unit = {
    started.countDown()
    committed.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
