package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[TxStreamingWrite]] — the DSv2 streaming sink (round-12 verdict
  * item 2, write half): executor-staged parquet committed atomically
  * under the (queryId, epochId) writer transaction, `writeStream
  * .toTable` by catalog name, partitioned routing byte-compatible
  * with DataFrame.write, restart exactly-once, and the full row-
  * feature surface (constraints validate, generated/default/identity
  * columns rewrite, row tracking allocates) executor-side, and a
  * dropped-then-re-added column lands under a fresh physical name.
  */
class TxStreamingWriteSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"txsw_$tag").resolve("t").toString

  private def feed(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id".as("k"), concat(lit("v-"), $"id").as("v"))

  test("writeStream.toTable by name: exactly-once across a restart " +
      "from the same checkpoint") {
    spark.conf.set("spark.sql.catalog.swcat",
      "graft.lake.catalog.TxCatalog")
    val wh = Files.createTempDirectory("txsw_wh").toString
    spark.conf.set("spark.sql.catalog.swcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS swcat.s")
    spark.sql("CREATE TABLE swcat.s.sink (k BIGINT, v STRING) " +
      "USING txlog")
    val srcRoot = fresh("src")
    val ckpt = Files.createTempDirectory("txsw_ckpt").toString
    val src = new TxTable(spark, srcRoot)
    src.create(feed(5))
    def launch() = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .toTable("swcat.s.sink")
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()
    src.append(feed(3, from = 100L))
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.sql("SELECT k FROM swcat.s.sink").as[Long]
      .collect().sorted
    assert(got.length === 8, s"exactly-once by name, got ${got.length}")
    // the commits carry the DSv2 writer transaction (queryId-keyed)
    val tab = new TxTable(spark, s"$wh/s/sink")
    assert(TxLog.snapshot(
      new org.apache.hadoop.fs.Path(s"$wh/s/sink").getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$wh/s/sink")).txns
      .keys.exists(_.startsWith("dsv2:")))
    assert(tab.read().count() === 8)
  }

  test("partitioned streaming write: dynamic routing, Hive-escaped " +
      "dirs, stats on the adds, partition-pruned read-back") {
    val root = fresh("part")
    val tab = new TxTable(spark, root)
    tab.create(
      spark.range(0).select($"id".as("k"), lit("x").as("bucket"),
        ($"id" * 1.0).as("score")),
      partitionCols = Seq("bucket"))
    val srcRoot = fresh("partsrc")
    val src = new TxTable(spark, srcRoot)
    val rows = spark.range(8).select($"id".as("k"),
      when($"id" % 2 === 0, "ev=en/odd").otherwise("plain").as("bucket"),
      ($"id" * 2.5).as("score"))
    src.create(rows)
    val ckpt = Files.createTempDirectory("txsw_pck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new org.apache.hadoop.fs.Path(root))
    // partition values parsed from escaped dirs, stats recorded
    assert(snap.adds.map(_.partitionValues("bucket")).toSet ===
      Set("ev=en/odd", "plain"))
    assert(snap.adds.forall(_.stats.contains("k")))
    assert(snap.adds.forall(_.bytes.exists(_ > 0L)))
    // pruned read-back equals the source relationally
    val back = tab.read().where($"bucket" === "ev=en/odd")
      .select($"k").as[Long].collect().sorted
    assert(back.toSeq === Seq(0L, 2L, 4L, 6L))
    assert(tab.read().count() === 8)
  }

  test("ROW TRACKING: per-epoch allocation from the logged watermark — " +
      "unique ids across epochs and restarts, hidden from plain reads") {
    val root = fresh("track")
    val tab = new TxTable(spark, root)
    tab.create(feed(5), enableRowTracking = true)
    val seeded = tab.readWithRowIds().select($"_row_id")
      .as[Long].collect().toSet
    val srcRoot = fresh("trksrc")
    val src = new TxTable(spark, srcRoot)
    src.create(feed(7, from = 100L))
    val ckpt = Files.createTempDirectory("txsw_trk").toString
    def launch() = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    val q1 = launch()
    try q1.processAllAvailable() finally q1.stop()
    // a SECOND epoch from a fresh query start: its factory must
    // re-read the watermark the first commit bumped
    src.append(feed(4, from = 200L))
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val all = tab.readWithRowIds()
      .select($"k", $"_row_id").as[(Long, Long)].collect()
    assert(all.length === 16)
    assert(all.map(_._2).toSet.size === 16,
      "row ids must stay unique across seed + two streamed epochs")
    assert(all.map(_._2).toSet.intersect(seeded) === seeded,
      "seeded rows keep their ids")
    // the streamed rows' ids allocated PAST the seed watermark
    val streamedIds = all.filter(_._1 >= 100L).map(_._2)
    assert(streamedIds.forall(id => !seeded.contains(id)))
    // hidden from plain reads; watermark durably past every id
    assert(!tab.read().columns.contains("_row_id"))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val meta = TxLog.snapshot(fs, new org.apache.hadoop.fs.Path(root)).meta
    assert(meta.nextRowId > all.map(_._2).max)
    // a stream SUPPLYING _row_id refuses at query start
    val ckpt2 = Files.createTempDirectory("txsw_trk2").toString
    val e = intercept[Exception] {
      val q = spark.readStream.format("txlog")
        .option("path", srcRoot).load()
        .withColumn("_row_id", lit(7L))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt2)
        .format("txlog").option("path", root).start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("engine-allocated")),
      s"supplying _row_id must refuse, got: ${msgs(e).mkString(" | ")}")
  }

  test("writer LRU under cap pressure: the memoized dominant fragment " +
      "is never the rotation victim — one file, not many") {
    // the hot-path shortcut skips the per-row LRU touch, so without
    // the touch-on-rotation a long run on one fragment left it at the
    // cold end and the cap evicted the HOTTEST writer (extra files,
    // never wrongness) — round-13 verdict item 5
    val root = fresh("lru")
    val tab = new TxTable(spark, root)
    tab.create(
      spark.range(0).selectExpr("CAST('x' AS STRING) AS frag",
        "id AS v"),
      partitionCols = Seq("frag"))
    val srcRoot = fresh("lrusrc")
    // one source file read as one split → the sink task sees rows in
    // file order: an `a`-dominated a a b0 a a b1 ... interleave over
    // more fragments than StageWrite.MaxOpenWriters, twice round
    val others = StageWrite.MaxOpenWriters + 8
    val pattern = (0 until 2 * others).flatMap { j =>
      Seq("a", "a", s"b${j % others}")
    }.zipWithIndex.map { case (frag, i) => (frag, i.toLong) }
    new TxTable(spark, srcRoot).create(
      spark.createDataFrame(pattern).toDF("frag", "v").coalesce(1))
    val ckpt = Files.createTempDirectory("txsw_lru").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val adds = TxLog.snapshot(fs,
      new org.apache.hadoop.fs.Path(root)).adds
    val perFrag = adds.groupBy(_.partitionValues("frag"))
      .view.mapValues(_.size).toMap
    assert(perFrag("a") === 1,
      s"the dominant fragment must keep ONE open writer, got $perFrag")
    assert(tab.read().count() === pattern.size)
  }

  test("GENERATED / DEFAULT columns the stream omits are computed " +
      "executor-side — a generated column even routes PARTITIONS") {
    val root = fresh("gen")
    val tab = new TxTable(spark, root)
    // parity generated FROM k, and it is the PARTITION column; status
    // has a DEFAULT the stream never supplies
    tab.create(
      spark.range(1).select($"id".as("k"),
        concat(lit("v-"), $"id").as("v"))
        .withColumn("status", lit("SEED")),
      partitionCols = Seq("parity"),
      generatedColumns = Map("parity" -> "CAST(k % 2 AS STRING)"),
      defaultValues = Map("status" -> "'NEW'"))
    val srcRoot = fresh("gensrc")
    new TxTable(spark, srcRoot).create(feed(6, from = 10L))
    val ckpt = Files.createTempDirectory("txsw_gck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    val got = tab.read().where($"k" >= 10L)
    assert(got.count() === 6)
    assert(got.where($"parity" =!= ($"k" % 2).cast("string")).count()
      === 0, "the generated partition value must derive from k")
    assert(got.where($"status" =!= "NEW").count() === 0,
      "the omitted DEFAULT column must fill")
    // and the partition dirs are REAL (pruning-visible routing)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new org.apache.hadoop.fs.Path(root))
    assert(snap.adds.map(_.partitionValues("parity")).toSet
      === Set("0", "1"))
  }

  test("IDENTITY columns allocate per epoch from the logged " +
      "watermark: values stay unique across epochs, the commit bumps " +
      "the watermark") {
    val root = fresh("ident")
    val tab = new TxTable(spark, root)
    tab.create(feed(2), identityColumns = Seq("sn"))
    val srcRoot = fresh("identsrc")
    val src = new TxTable(spark, srcRoot)
    src.create(feed(4, from = 10L))
    val ckpt = Files.createTempDirectory("txsw_ick").toString
    def launch() = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    val q = launch()
    try q.processAllAvailable() finally q.stop()
    src.append(feed(3, from = 50L)) // second epoch via a fresh query
    val q2 = launch()
    try q2.processAllAvailable() finally q2.stop()
    val sns = tab.read().select($"sn").as[Long].collect()
    assert(sns.length === 9, "2 seed + 4 + 3 rows")
    assert(sns.distinct.length === 9,
      s"identity values must be unique across epochs, got " +
        s"${sns.sorted.mkString(",")}")
    // the watermark in the log moved past every allocated value
    val p = new org.apache.hadoop.fs.Path(root)
    val meta = TxLog.snapshot(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).meta
    assert(meta.identities("sn") > sns.max,
      "the commit must bump the identity watermark past the staged max")
    // a stream SUPPLYING the identity column refuses at query start
    val srcBad = fresh("identbad")
    new TxTable(spark, srcBad).create(
      feed(1).withColumn("sn", lit(999L)))
    val ckpt2 = Files.createTempDirectory("txsw_ick2").toString
    val e = intercept[Exception] {
      val qb = spark.readStream.format("txlog")
        .option("path", srcBad).load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt2)
        .format("txlog").option("path", root).start()
      try qb.processAllAvailable() finally qb.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("GENERATED ALWAYS")),
      s"supplying an identity column must refuse, got: " +
        s"${msgs(e).mkString(" | ")}")
  }

  test("a generated column the stream SUPPLIES is validated per row: " +
      "agreeing rows land, a lying row fails its epoch") {
    val root = fresh("genval")
    val tab = new TxTable(spark, root)
    tab.create(
      spark.range(1).select($"id".as("k"),
        concat(lit("v-"), $"id").as("v")),
      generatedColumns = Map("v" -> "concat('v-', k)"))
    val srcRoot = fresh("genvsrc")
    val src = new TxTable(spark, srcRoot)
    src.create(feed(3, from = 10L)) // v == concat('v-', k): agrees
    val ckpt = Files.createTempDirectory("txsw_gvck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    assert(tab.read().count() === 4, "agreeing rows must land")
    // a row whose v disagrees with the generation expression
    src.append(spark.range(1).select(lit(99L).as("k"),
      lit("lies").as("v")))
    val q2 = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("generated column")),
      s"a lying generated value must refuse, got: " +
        s"${msgs(e).mkString(" | ")}")
    assert(tab.read().count() === 4,
      "the violating epoch must not commit")
  }

  test("CHECK and NOT NULL enforce EXECUTOR-SIDE: clean batches land, " +
      "a violating row fails its epoch and nothing commits") {
    val root = fresh("enforce")
    val tab = new TxTable(spark, root)
    tab.create(feed(1))
    tab.addConstraint("k >= 0")
    tab.addNotNull("v")
    val srcRoot = fresh("ensrc")
    val src = new TxTable(spark, srcRoot)
    src.create(feed(3, from = 10L)) // k in [10,13): passes k >= 0
    val ckpt = Files.createTempDirectory("txsw_eck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    assert(tab.read().count() === 4, "the clean batch must land")
    val vBefore = tab.history().count()
    // a violating batch: k = -5 breaks CHECK (k >= 0)
    src.append(spark.range(1).select((lit(-5L)).as("k"),
      lit("bad").as("v")))
    val q2 = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("violates CHECK")),
      s"expected a CHECK violation, got: ${msgs(e).mkString(" | ")}")
    assert(tab.read().count() === 4,
      "the violating epoch must not commit a single row")
    assert(tab.history().count() === vBefore,
      "no commit may land for the failed epoch")
    // NULL in a NOT NULL column refuses the same way
    val srcRoot2 = fresh("ensrc2")
    val src2 = new TxTable(spark, srcRoot2)
    src2.create(spark.range(1).select($"id".as("k"),
      lit(null).cast("string").as("v")))
    val ckpt2 = Files.createTempDirectory("txsw_eck2").toString
    val q3 = spark.readStream.format("txlog")
      .option("path", srcRoot2).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt2)
      .format("txlog").option("path", root).start()
    val e2 = intercept[Exception] {
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(msgs(e2).exists(_.contains("violates NOT NULL")),
      s"expected a NOT NULL violation, got: ${msgs(e2).mkString(" | ")}")
    assert(tab.read().count() === 4)
    // NULL PASSES a CHECK (SQL's rule) when the column is nullable:
    // k >= 0 over a null k admits the row
    val tab3root = fresh("nullpass")
    val tab3 = new TxTable(spark, tab3root)
    tab3.create(feed(1))
    tab3.addConstraint("k >= 0")
    val srcRoot3 = fresh("ensrc3")
    new TxTable(spark, srcRoot3).create(
      spark.range(1).select(lit(null).cast("bigint").as("k"),
        lit("ok").as("v")))
    val ckpt3 = Files.createTempDirectory("txsw_eck3").toString
    val q4 = spark.readStream.format("txlog")
      .option("path", srcRoot3).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt3)
      .format("txlog").option("path", tab3root).start()
    try q4.processAllAvailable() finally q4.stop()
    assert(tab3.read().where($"v" === "ok").count() === 1,
      "a NULL check input must pass (SQL semantics, batch-path parity)")
  }

  test("CHECK constraints run through the ANALYZER: function calls " +
      "resolve and literals coerce (length(v) > 2, decimal >= int)") {
    val root = fresh("anlz")
    val tab = new TxTable(spark, root)
    tab.create(spark.range(1).select($"id".as("k"),
      lit("seed").as("v"), lit(BigDecimal(1)).cast("decimal(10,2)")
        .as("price")))
    // both shapes need the analyzer: an UnresolvedFunction and a
    // Decimal-vs-Int comparison that only type coercion makes typed
    tab.addConstraint("length(v) > 2")
    tab.addConstraint("price >= 0")
    val srcRoot = fresh("anlzsrc")
    val src = new TxTable(spark, srcRoot)
    src.create(spark.range(3).select($"id".as("k"),
      concat(lit("val-"), $"id").as("v"),
      ($"id" * 1.5).cast("decimal(10,2)").as("price")))
    val ckpt = Files.createTempDirectory("txsw_anck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    assert(tab.read().count() === 4,
      "a valid stream must land through analyzed CHECKs")
    // and the analyzed predicate still REJECTS: v too short
    src.append(spark.range(1).select(lit(99L).as("k"),
      lit("x").as("v"), lit(BigDecimal(5)).cast("decimal(10,2)")
        .as("price")))
    val q2 = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("violates CHECK")),
      s"expected a CHECK violation, got: ${msgs(e).mkString(" | ")}")
    assert(tab.read().count() === 4)
    // a constraint referencing a column the stream omits refuses at
    // query start with the analyzer's error, not mid-epoch
    val root2 = fresh("anlz2")
    val tab2 = new TxTable(spark, root2)
    tab2.create(feed(1).withColumn("extra", lit(1L)))
    tab2.addConstraint("extra > 0")
    val srcRoot2 = fresh("anlzsrc2")
    new TxTable(spark, srcRoot2).create(feed(1, from = 50L))
    val ckpt2 = Files.createTempDirectory("txsw_anck2").toString
    val e2 = intercept[Exception] {
      val q3 = spark.readStream.format("txlog")
        .option("path", srcRoot2).load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt2)
        .format("txlog").option("path", root2).start()
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(msgs(e2).exists(_.contains("does not analyze")),
      s"expected an analysis refusal, got: ${msgs(e2).mkString(" | ")}")
  }

  test("dynamic-partition writers are BOUNDED: an epoch spanning many " +
      "interleaved partition values rotates files past the cap and " +
      "lands every row") {
    val root = fresh("cap")
    val tab = new TxTable(spark, root)
    tab.create(
      spark.range(0).select($"id".as("k"),
        lit("b").as("bucket")),
      partitionCols = Seq("bucket"))
    val srcRoot = fresh("capsrc")
    // 160 rows cycling through 40 bucket values in one source file →
    // one task sees interleaved fragments, past the cap of 32
    val frags = StageWrite.MaxOpenWriters + 8
    val rows = spark.range(4L * frags).repartition(1)
      .select($"id".as("k"), concat(lit("b"), ($"id" % frags)).as("bucket"))
    new TxTable(spark, srcRoot).create(rows)
    val ckpt = Files.createTempDirectory("txsw_capck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    // every row lands, correctly routed
    val got = tab.read()
    assert(got.count() === 4L * frags)
    assert(got.where($"bucket" === "b3").select($"k").as[Long]
      .collect().sorted.toSeq === (0 until 4).map(i => 3L + i * frags))
    // rotation happened: more landed files than distinct fragments
    // (an unbounded writer map would land exactly one per fragment
    // per task)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new org.apache.hadoop.fs.Path(root))
    assert(snap.adds.size > frags,
      s"cap=${StageWrite.MaxOpenWriters} over $frags interleaved " +
        s"fragments must rotate, got ${snap.adds.size} files")
    assert(snap.adds.map(_.partitionValues("bucket")).toSet.size === frags)
  }

  test("Complete output mode refuses (append-only sink)") {
    val root = fresh("complete")
    new TxTable(spark, root).create(feed(1))
    val srcRoot = fresh("csrc")
    new TxTable(spark, srcRoot).create(feed(3))
    val ckpt = Files.createTempDirectory("txsw_cck").toString
    val e = intercept[Exception] {
      val q = spark.readStream.format("txlog")
        .option("path", srcRoot).load()
        .groupBy($"v").count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("txlog").option("path", root).start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("Append") ||
      m.contains("Complete") || m.contains("complete")))
  }

  test("additive schema evolution mid-stream lands through the " +
      "staged-commit path") {
    val dst = fresh("evolve")
    new TxTable(spark, dst).create(feed(2))
    val srcRoot = fresh("evsrc")
    val src = new TxTable(spark, srcRoot)
    src.create(feed(2, from = 10L)
      .withColumn("extra", lit("wide")))
    val ckpt = Files.createTempDirectory("txsw_eck").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", dst).start()
    try q.processAllAvailable() finally q.stop()
    val out = new TxTable(spark, dst).read()
    assert(out.columns.toSeq === Seq("k", "v", "extra"))
    assert(out.where($"extra".isNull).count() === 2) // old rows null-fill
    assert(out.count() === 4)
  }

  test("a dropped column streamed again lands under a fresh physical " +
      "name: old bytes read null, new values are visible") {
    val dst = fresh("readd")
    val tab = new TxTable(spark, dst)
    tab.create(feed(3).coalesce(1))
    tab.dropColumn("v")
    val srcRoot = fresh("readdsrc")
    new TxTable(spark, srcRoot).create(feed(2, from = 10L))
    val ckpt = Files.createTempDirectory("txsw_rack").toString
    val q = spark.readStream.format("txlog")
      .option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("txlog").option("path", dst).start()
    try q.processAllAvailable() finally q.stop()
    val rows = tab.read().orderBy("k").select($"k", $"v")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((0L, null), (1L, null), (2L, null),
      (10L, "v-10"), (11L, "v-11")))
    val p = new org.apache.hadoop.fs.Path(dst)
    val meta = TxLog.snapshot(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).meta
    assert(meta.physicalOf("v") !== "v",
      "the re-added column must not reuse the dropped physical name")
  }
}
