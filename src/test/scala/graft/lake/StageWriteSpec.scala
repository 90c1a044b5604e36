package graft.lake

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the write-side stats staging ([[StageWrite]]) to the read-back
  * aggregation it replaced: the Add actions a commit lands (batch DML or
  * a DSv2 stream epoch) must be EXACTLY what a one-pass aggregation over
  * the same files computes — path, rows, bytes, partition values,
  * min/max/null-count rendering for every stat kind, and the string
  * columns' serialized HLL sketch bytes. That aggregation lives here,
  * as [[ReadBack.stagedAdds]], the parity reference. */
class StageWriteSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The read-back reference: row count, bytes, per-column min/max /
    * null count and string HLL sketch collected with ONE aggregation
    * over already-landed files, keyed by PHYSICAL names. `present` is
    * the set of LOGICAL (plus `_row_id`) column names the files carry.
    * Bloom sidecars are out of scope (their paths are random). */
  private implicit class ReadBack(tab: TxTable) {
    def stagedAdds(paths: Seq[String], meta: TxLog.Meta,
        present: Set[String]): Vector[TxLog.Add] = {
      val kept = meta.schema.fields.toSeq
        .filterNot(f => meta.partitionCols.contains(f.name))
        .filter(f => present.contains(f.name))
      val statCols = kept
        .filter(f => TxTable.statKind(f.dataType).isDefined)
        .map(f => meta.physicalOf(f.name) -> f.dataType) ++
        (if (present.contains("_row_id"))
          Seq("_row_id" -> (LongType: DataType)) else Nil)
      val readSchema = StructType(
        kept.map(f => f.copy(name = meta.physicalOf(f.name),
          nullable = true)) ++
          (if (present.contains("_row_id"))
            Seq(StructField("_row_id", LongType)) else Nil))
      val aggs = count(lit(1L)).as("__rows") +:
        first(col("_metadata.file_size")).as("__bytes") +:
        statCols.flatMap { case (p, dt) =>
          Seq(min(col(p)).cast("string").as(s"__min_$p"),
            max(col(p)).cast("string").as(s"__max_$p"),
            sum(when(col(p).isNull, 1L).otherwise(0L)).as(s"__n_$p")) ++
            (if (TxTable.statKind(dt).contains("s"))
              Seq(hll_sketch_agg(col(p), TxTable.statHllLgK)
                .as(s"__hll_$p"))
            else Nil)
        }
      spark.read.schema(readSchema).parquet(paths: _*)
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val rel = tab.relPath(r.getAs[String]("__f"))
          val stats = statCols.flatMap { case (p, dt) =>
            val mn = r.getAs[String](s"__min_$p")
            val mx = r.getAs[String](s"__max_$p")
            val kind = TxTable.statKind(dt).get
            if (mn == null || mx == null) None
            else Some(p -> TxLog.Stat(kind, mn, mx,
              nulls = Some(r.getAs[Long](s"__n_$p")),
              hll =
                if (kind != "s") None
                else Option(r.getAs[Array[Byte]](s"__hll_$p"))
                  .map(java.util.Base64.getEncoder.encodeToString)))
          }.toMap
          TxLog.Add(rel, r.getAs[Long]("__rows"), tab.partValues(rel),
            stats, bytes = Some(r.getAs[Long]("__bytes")))
        }.toVector
    }
  }

  /** Adds landed by DSv2 stream epochs (STREAMING UPDATE commits). */
  private def streamedAdds(root: String): Seq[TxLog.Add] = {
    val (fs, p) = (fsOf(root), new Path(root))
    (0L to TxLog.latestVersion(fs, p)).flatMap { v =>
      val es = TxLog.commitEntries(fs, p, v)
      if (es.flatMap(_.info).exists(_.op == "STREAMING UPDATE"))
        es.flatMap(_.add)
      else Nil
    }
  }

  /** Stream `rows` (through a txlog source table) into the table at
    * `root`; every epoch's Adds must equal the read-back reference. */
  private def streamAndCheck(root: String, rows: org.apache.spark.sql.DataFrame,
      tag: String): (TxTable, TxLog.Snapshot) = {
    val srcRoot = Files.createTempDirectory(s"stage_src_$tag")
      .resolve("t").toString
    new TxTable(spark, srcRoot).create(rows)
    val q = spark.readStream.format("txlog").option("path", srcRoot).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory(s"stage_ck_$tag").toString)
      .format("txlog").option("path", root).start()
    try q.processAllAvailable() finally q.stop()
    checkStreamed(root)
  }

  private def checkStreamed(root: String): (TxTable, TxLog.Snapshot) = {
    val tab = new TxTable(spark, root)
    val snap = TxLog.snapshot(fsOf(root), new Path(root))
    val adds = streamedAdds(root)
    assert(adds.nonEmpty)
    val present = snap.meta.schema.fieldNames.toSet ++
      (if (snap.meta.tracksRows) Set("_row_id") else Set.empty[String])
    val readBack = tab.stagedAdds(
      adds.map(a => new Path(root, a.path).toString), snap.meta, present)
      .map(a => a.path -> a).toMap
    assert(readBack.keySet === adds.map(_.path).toSet)
    adds.foreach(a => assert(readBack(a.path) === a,
      s"stream-epoch Add for ${a.path} differs from the read-back"))
    (tab, snap)
  }

  test("write-side stats equal the read-back aggregation: every stat " +
      "kind, NaN/negatives, nulls, all-null column, escaped + null " +
      "partition values") {
    val root = java.nio.file.Files
      .createTempDirectory("stage_parity").toString
    val tab = new TxTable(spark, root)
    val df = spark.range(200).select(
      (col("id") % 7).cast("string").as("p0"),
      (col("id") % 100 - 50).cast("byte").as("b"),
      (col("id") * 100 - 9000).cast("short").as("s"),
      (col("id") * 1000000 - 90000000).cast("int").as("i"),
      (col("id") * -987654321L).as("l"),
      when(col("id") === 7, lit(Float.NaN))
        .when(col("id") === 8, lit(-0.0f))
        .otherwise((col("id") - 100).cast("float") / 3.0f).as("f"),
      when(col("id") === 9, lit(Double.NaN))
        .otherwise(col("id") / -7.0).as("d"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("v="), col("id"))).as("t"),
      lit(null).cast("int").as("allnull"),
      (col("id") % 2 === 0).as("flag")) // boolean: no stats, by design
      // partition value with Hive-escaped chars, plus a NULL partition
      .withColumn("p", when(col("p0") === "0", lit(null))
        .otherwise(concat(lit("a=b:c "), col("p0"))))
      .drop("p0")
    tab.create(df, partitionCols = Seq("p"))

    val snap = TxLog.snapshot(fsOf(root), new Path(root))
    assert(snap.adds.nonEmpty)
    // every path root-relative (the scheme-qualified-root regression
    // guard lives in the next test; this pins the plain-root spelling)
    snap.adds.foreach(a => assert(!a.path.startsWith("/"), a.path))
    // the boolean column carries no stats, the all-null column none
    snap.adds.foreach { a =>
      assert(!a.stats.contains("flag"))
      assert(!a.stats.contains("allnull"))
    }
    // recompute through the OLD read-back aggregation over the same
    // landed files and require exact equality, HLL bytes included
    val present = Set("b", "s", "i", "l", "f", "d", "t", "allnull", "flag")
    val abs = snap.adds.map(a => new Path(root, a.path).toString)
    val readBack = tab.stagedAdds(abs, snap.meta, present)
      .map(a => a.path -> a).toMap
    assert(readBack.keySet === snap.adds.map(_.path).toSet)
    snap.adds.foreach { a =>
      assert(readBack(a.path) === a, s"write-side Add for ${a.path} " +
        "differs from the read-back aggregation")
    }
    // partition values decode through the same unescape path
    val parts = snap.adds.flatMap(_.partitionValues.get("p")).toSet
    assert(parts.exists(_.startsWith("a=b:c ")))
    assert(snap.adds.exists(
      _.partitionValues.get("p").contains("__HIVE_DEFAULT_PARTITION__")))
    // and the table reads back exactly
    assert(tab.read().count() === 200)
  }

  test("scheme-qualified root: DML hit sets match staged rel paths " +
      "(DELETE/UPDATE rewrite, not no-op)") {
    val dir = java.nio.file.Files
      .createTempDirectory("stage_scheme").toString
    val root = "file:" + dir + "/t"
    val tab = new TxTable(spark, root)
    tab.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    tab.deleteWhere(col("k") === 1L)
    assert(tab.read().orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((2L, "b"), (3L, "c")))
    tab.update(col("k") === 2L, Map("v" -> lit("B")))
    assert(tab.read().orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((2L, "B"), (3L, "c")))
    val snap = TxLog.snapshot(fsOf(root), new Path(root))
    snap.adds.foreach(a => assert(!a.path.startsWith("/"), a.path))
  }

  test("zero-row staging lands no files and no adds") {
    val root = java.nio.file.Files
      .createTempDirectory("stage_empty").toString
    val tab = new TxTable(spark, root)
    tab.create(Seq((1L, "a")).toDF("k", "v"))
    tab.overwrite(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(tab.read().count() === 0)
    val snap = TxLog.snapshot(fsOf(root), new Path(root))
    assert(snap.adds.isEmpty)
  }

  test("change capture rides the data write: DELETE and UPDATE run as " +
      "many Spark jobs on a change-feed table as without the feed") {
    val data = spark.range(400).select(col("id").as("k"),
      (col("id") % 9).cast("string").as("v"))
    def run(cdf: Boolean): (Int, Int, String) = {
      val root = Files.createTempDirectory(s"stage_jobs_$cdf").toString
      val tab = new TxTable(spark, root)
      tab.create(data.repartition(4), enableChangeDataFeed = cdf)
      val d = jobsOf(tab.deleteWhere(col("k") % 5 === 0): Unit)
      val u = jobsOf(tab.update(col("k") % 7 === 1,
        Map("v" -> lit("u"))): Unit)
      (d, u, root)
    }
    val (d0, u0, root0) = run(cdf = false)
    val (d1, u1, root) = run(cdf = true)
    val tab = new TxTable(spark, root)
    assert((d1, u1) === ((d0, u0)),
      s"with the feed DELETE/UPDATE ran ($d1, $u1) jobs, without ($d0, $u0)")
    // the data files land exactly as without the feed
    def dataCols(r: String) = TxLog.snapshot(fsOf(r), new Path(r)).adds
      .map(a => spark.read.parquet(new Path(r, a.path).toString)
        .columns.toSeq).toSet
    assert(dataCols(root) === dataCols(root0))
    // and the feed the single write landed is exact
    val ch = tab.readChanges(1L, 2L)
    assert(ch.where(col("_change_type") === "delete").count() === 80)
    val post = ch.where(col("_change_type") === "update_postimage")
    assert(post.count() === ch.where(
      col("_change_type") === "update_preimage").count())
    assert(post.where(col("v") =!= "u").count() === 0)
    assert(post.count() > 0)
    // feed files land flat, carry _change_type, and no zero-row ones
    val cdfs = (1L to 2L).flatMap(v =>
      TxLog.commitEntries(fsOf(root), new Path(root), v).flatMap(_.cdf))
    assert(cdfs.nonEmpty)
    cdfs.foreach { c =>
      assert(c.rows > 0L)
      assert(c.path.matches("_change_data/[^/]+/[^/]+\\.parquet"), c.path)
    }
  }

  test("DSv2 stream epoch Adds equal the read-back reference: NaN, null " +
      "and Hive-escaped partition values") {
    val root = Files.createTempDirectory("stage_stream_part")
      .resolve("t").toString
    val rows = spark.range(60).select(
      col("id").as("k"),
      when(col("id") % 4 === 0, lit(null))
        .otherwise(concat(lit("a=b:c/%"), (col("id") % 3).cast("string")))
        .as("p"),
      when(col("id") % 5 === 0, lit(Double.NaN))
        .when(col("id") % 5 === 1, lit(null).cast("double"))
        .otherwise((col("id") % 2).cast("double")).as("x"),
      when(col("id") === 7, lit(Double.NaN))
        .otherwise(col("id") / -3.0).as("d"),
      when(col("id") % 6 === 0, lit(null))
        .otherwise(concat(lit("s"), col("id"))).as("s"))
    new TxTable(spark, root).create(rows.limit(0),
      partitionCols = Seq("p", "x"))
    val (tab, snap) = streamAndCheck(root, rows, "part")
    val parts = snap.adds.map(_.partitionValues).toSet
    assert(parts.exists(_.get("x").contains("NaN")))
    assert(parts.exists(_.get("p").contains("__HIVE_DEFAULT_PARTITION__")))
    assert(parts.exists(_.get("p").exists(_.startsWith("a=b:c/%"))))
    assert(tab.read().count() === 60)
  }

  test("DSv2 stream epoch Adds equal the read-back reference on a " +
      "row-tracked table; the staged _row_id max bumps the watermark") {
    val root = Files.createTempDirectory("stage_stream_trk")
      .resolve("t").toString
    val seed = spark.range(5).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    new TxTable(spark, root).create(seed, enableRowTracking = true)
    val (tab, snap) = streamAndCheck(root,
      spark.range(100, 130).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")), "trk")
    val streamed = streamedAdds(root)
    assert(streamed.forall(_.stats.contains("_row_id")))
    val maxId = tab.readWithRowIds().agg(max(col("_row_id")))
      .head().getLong(0)
    assert(streamed.map(_.stats("_row_id").max.toLong).max === maxId)
    assert(snap.meta.nextRowId === maxId + 1L)
  }

  test("DSv2 stream epoch Adds equal the read-back reference when the " +
      "stream lands wider types the commit widens the table to") {
    val root = Files.createTempDirectory("stage_stream_wide")
      .resolve("t").toString
    new TxTable(spark, root).create(Seq((1, 1.5f, "a")).toDF("k", "x", "v"))
    // long values past Int.MaxValue into an int column, doubles that no
    // float holds into a float column
    val big = Int.MaxValue.toLong + 1000L
    val rows = spark.range(40).select((col("id") + big).as("k"),
      (col("id") * 1.0e300).as("x"), concat(lit("w"), col("id")).as("v"))
    val (tab, snap) = streamAndCheck(root, rows, "wide")
    assert(snap.meta.schema("k").dataType === LongType)
    assert(snap.meta.schema("x").dataType === DoubleType)
    val streamed = streamedAdds(root)
    assert(streamed.map(_.stats("k").max.toLong).max === big + 39L)
    assert(streamed.map(_.stats("k").min.toLong).min === big)
    // skipping keeps every file that holds a probed value
    assert(tab.read().where(col("k") === big + 17L).count() === 1)
    assert(tab.read().where(col("x") === 39L * 1.0e300).count() === 1)
  }

  test("DSv2 stream epoch Adds equal the read-back reference on the " +
      "first epoch into a table the commit itself creates") {
    val root = Files.createTempDirectory("stage_stream_new")
      .resolve("t").toString
    assert(!new TxTable(spark, root).exists)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("f", FloatType), StructField("v", StringType)))
    // one epoch driven through the connector API, two writer tasks
    val write = new TxStreamingWrite(root, Nil, schema, "first-epoch")
    val factory = write.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 2
      })
    val messages = (0 until 2).map { part =>
      val w = factory.createWriter(part, 1000L + part, 0L)
      (0 until 20).foreach { i =>
        val k = part * 20L + i
        w.write(org.apache.spark.sql.catalyst.InternalRow(k, k * 1.5f,
          org.apache.spark.unsafe.types.UTF8String.fromString(s"v$k")))
      }
      w.commit()
    }.toArray
    write.commit(0L, messages)
    val (tab, snap) = checkStreamed(root)
    assert(snap.adds.size === 2)
    assert(snap.adds.forall(a =>
      Set("k", "f", "v").subsetOf(a.stats.keySet)))
    assert(tab.read().count() === 40)
  }
}
