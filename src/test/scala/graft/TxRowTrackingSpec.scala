package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{TxLog, TxTable}

/** ROW TRACKING ([[graft.lake.TxTable.create]]'s `enableRowTracking`):
  * every row carries a stable `_row_id` — unique across the table's
  * life, preserved verbatim through every rewrite, inherited by keyed
  * upserts, fresh for genuinely new rows. The identity contract the
  * change feed and idempotent replica maintenance lean on. Content
  * parity with the oracle is ext_lake_row_tracking's job; this suite
  * pins the id semantics per operation.
  */
class TxRowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"rowtrack_$tag").resolve("tbl").toString

  private def docs(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id", concat(lit("doc-"), $"id").as("text"))

  private def idsByKey(tab: TxTable,
      asOf: Option[Long] = None): Map[Long, Long] =
    tab.readWithRowIds(asOf).select($"id", $"_row_id")
      .as[(Long, Long)].collect().toMap

  test("ids are unique, stamped as a writer feature, and hidden from plain reads") {
    val tab = new TxTable(spark, freshRoot("uniq"))
    tab.create(docs(50).repartition(4), enableRowTracking = true)
    tab.append(docs(30, from = 100L).repartition(3))
    val ids = idsByKey(tab)
    assert(ids.size === 80)
    assert(ids.values.toSet.size === 80, "row ids must be unique")
    // plain reads never see the physical column
    assert(!tab.read().columns.contains("_row_id"))
    // protocol: a naive writer would break identity on rewrite
    assert(tab.detail().collect().head
      .getAs[scala.collection.Seq[String]]("writer_features")
      .contains("rowTracking"))
    // an untracked table refuses the row-id read
    val plain = new TxTable(spark, freshRoot("plain"))
    plain.create(docs(3))
    assert(intercept[IllegalArgumentException] {
      plain.readWithRowIds()
    }.getMessage.contains("row tracking"))
  }

  test("ids survive UPDATE, OPTIMIZE and DELETE-survivor rewrites verbatim") {
    val tab = new TxTable(spark, freshRoot("stab"))
    tab.create(docs(60).repartition(4), enableRowTracking = true)
    val before = idsByKey(tab)
    tab.update($"id" % 5 === 0L, Map("text" -> lit("EDITED")))
    tab.optimize() // bin-packs everything: pure rewrite
    tab.deleteWhere($"id" >= 40L)
    val after = idsByKey(tab)
    assert(after.keySet === (0L until 40L).toSet)
    after.foreach { case (k, rid) =>
      assert(rid === before(k), s"row $k changed id $rid != ${before(k)}")
    }
    // time travel reads the ids of ITS version's files
    assert(idsByKey(tab, asOf = Some(0L)) === before)
  }

  test("MERGE: survivors and matched rows keep ids, inserts draw fresh ones") {
    val tab = new TxTable(spark, freshRoot("merge"))
    tab.create(docs(20).coalesce(2), enableRowTracking = true)
    val before = idsByKey(tab)
    tab.merge(docs(5, from = 15L).withColumn("text", lit("UPSERTED")),
      Seq("id")) // 15..19 match, 20..24 would... 15..19 exist? docs(20)=0..19; from=15 → 15..19 match exactly
    val after = idsByKey(tab)
    assert(after.size === 20)
    (0L until 20L).foreach { k =>
      assert(after(k) === before(k),
        s"matched/survivor row $k must keep its id")
    }
    // a second merge inserting new keys: fresh, non-colliding ids
    tab.merge(docs(3, from = 100L), Seq("id"))
    val ids2 = idsByKey(tab)
    assert(ids2.values.toSet.size === 23)
    Seq(100L, 101L, 102L).foreach(k =>
      assert(!before.values.toSet.contains(ids2(k)),
        "inserted rows must not reuse existing ids"))
  }

  test("MERGE on a duplicate-keyed target: one row out, smallest id inherited — no fanout") {
    val tab = new TxTable(spark, freshRoot("dupkey"))
    tab.create(docs(5).coalesce(1), enableRowTracking = true)
    // a duplicate-keyed target is legal: the same key appended twice
    tab.append(docs(1, from = 2L).withColumn("text", lit("dup")).coalesce(1))
    assert(tab.read().where($"id" === 2L).count() === 2)
    val dupIds = tab.readWithRowIds().where($"id" === 2L)
      .select($"_row_id").as[Long].collect().sorted.toSeq
    tab.merge(Seq((2L, "MERGED")).toDF("id", "text"), Seq("id"))
    // the contract: source replaces ALL current rows sharing its key —
    // exactly one staged row, not one per pre-existing duplicate
    val rows = tab.readWithRowIds().where($"id" === 2L)
      .select($"text", $"_row_id").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("MERGED", dupIds.head)),
      "one merged row, inheriting the smallest duplicate's id")
    assert(tab.read().count() === 5)
  }

  test("applyChanges: upserts inherit the replaced row's id — re-applied slices are id-idempotent") {
    val tab = new TxTable(spark, freshRoot("apply"))
    tab.create(docs(10).coalesce(1), enableRowTracking = true)
    val before = idsByKey(tab)
    val slice = Seq(
      (3L, "REPLACED", "insert"),
      (7L, "whatever", "delete"),
      (50L, "BRAND_NEW", "insert")).toDF("id", "text", "_change_type")
    tab.applyChanges(slice, Seq("id"))
    val after = idsByKey(tab)
    assert(!after.contains(7L))
    assert(after(3L) === before(3L), "keyed upsert must inherit the id")
    assert(!before.values.toSet.contains(after(50L)), "new key, fresh id")
    // idempotence: re-applying reproduces the same ids
    tab.applyChanges(slice, Seq("id"))
    assert(idsByKey(tab) === after)
  }

  test("the change feed carries row ids: update pairs id-join, capture " +
      "ids equal the table's written ids") {
    val tab = new TxTable(spark, freshRoot("feed"))
    tab.create(docs(10).coalesce(2), enableChangeDataFeed = true,
      enableRowTracking = true)
    val v1 = tab.update($"id" % 3 === 0L, Map("text" -> lit("EDITED")))
    val v2 = tab.merge(docs(4, from = 8L).withColumn("text", lit("M")),
      Seq("id")) // 8,9 match; 10,11 insert
    val v3 = tab.deleteWhere($"id" === 5L)
    val byKey = idsByKey(tab)
    // update pair: pre and post share the row's id
    val f1 = tab.readChanges(v1, v1, withRowIds = true)
    val pre = f1.where($"_change_type" === "update_preimage")
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    val post = f1.where($"_change_type" === "update_postimage")
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(pre.keySet === Set(0L, 3L, 6L, 9L))
    assert(pre === post, "pre/postimage must share the row's identity")
    // merge feed: matched pairs keep ids, INSERT ids equal the ids the
    // write actually landed (the materialized-assignment contract)
    val f2 = tab.readChanges(v2, v2, withRowIds = true)
    val insIds = f2.where($"_change_type" === "insert")
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(insIds.keySet === Set(10L, 11L))
    insIds.foreach { case (k, rid) =>
      assert(rid === byKey(k),
        s"feed insert id $rid for key $k != written id ${byKey(k)}")
    }
    // delete feed: the retracted identity rides along
    val delIds = tab.readChanges(v3, v3, withRowIds = true)
      .select($"id", $"_row_id").as[(Long, Long)].collect().toSeq
    assert(delIds.map(_._1) === Seq(5L))
    // plain readChanges keeps its schema (no _row_id column)
    assert(!tab.readChanges(v1, v1).columns.contains("_row_id"))
    // an untracked table refuses the id-carrying feed
    val plain = new TxTable(spark, freshRoot("feedplain"))
    plain.create(docs(3), enableChangeDataFeed = true)
    intercept[IllegalArgumentException](
      plain.readChanges(0L, 0L, withRowIds = true))
  }

  test("overwrite-partition feed carries row ids: retracted identities " +
      "and landed fresh ids") {
    val tab = new TxTable(spark, freshRoot("owfeed"))
    val df = Seq((0L, "a", "x0"), (1L, "a", "x1"), (2L, "b", "x2"))
      .toDF("id", "p", "text")
    tab.create(df, partitionCols = Seq("p"), enableChangeDataFeed = true,
      enableRowTracking = true)
    val before = idsByKey(tab)
    val v = tab.overwritePartition("p", "a",
      Seq((10L, "a", "n0"), (11L, "a", "n1")).toDF("id", "p", "text"))
    val after = idsByKey(tab)
    val feed = tab.readChanges(v, v, withRowIds = true)
    val del = feed.where($"_change_type" === "delete")
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(del.keySet === Set(0L, 1L))
    del.foreach { case (k, rid) => assert(rid === before(k),
      "the retracted row's identity must ride the feed") }
    val ins = feed.where($"_change_type" === "insert")
      .select($"id", $"_row_id").as[(Long, Long)].collect().toMap
    assert(ins.keySet === Set(10L, 11L))
    ins.foreach { case (k, rid) => assert(rid === after(k),
      "the feed must record the id the write actually landed") }
    // the untouched partition never enters the feed
    assert(!feed.select($"id").as[Long].collect().contains(2L))
  }

  test("streamed keyless replica: CDF stream withRowIds + applyChangesById " +
      "reproduces content AND identities") {
    val upDir = freshRoot("streamup")
    val up = new TxTable(spark, upDir)
    up.create(docs(8).coalesce(2), enableChangeDataFeed = true,
      enableRowTracking = true)
    val replica = new TxTable(spark, freshRoot("streamrep"))
    replica.create(docs(0).coalesce(1), enableRowTracking = true)
    val q = spark.readStream.format("txlog")
      .option("path", upDir).option("readChangeFeed", "true")
      .option("withRowIds", "true").load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cached = batch.cache()
        try {
          val versions = cached.select($"_commit_version").distinct()
            .as[Long].collect().sorted
          versions.foreach { v =>
            // NO key argument: identity is the key
            replica.applyChangesById(
              cached.where($"_commit_version" === v)): Unit
          }
        } finally { cached.unpersist(); () }
      }.start()
    try {
      q.processAllAvailable()
      up.update($"id" % 2 === 0L, Map("text" -> lit("U")))
      up.deleteWhere($"id" === 3L)
      q.processAllAvailable()
    } finally q.stop()
    val a = up.readWithRowIds().select($"id", $"text", $"_row_id")
      .as[(Long, String, Long)].collect().toSet
    val b = replica.readWithRowIds().select($"id", $"text", $"_row_id")
      .as[(Long, String, Long)].collect().toSet
    assert(a === b, "replica must equal upstream including identities")
  }

  test("concurrent tracked appends never duplicate an id") {
    val tab = new TxTable(spark, freshRoot("conc"))
    tab.create(docs(10), enableRowTracking = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val a = scala.concurrent.Future(
        tab.append(docs(25, from = 1000L).repartition(3)))
      val b = scala.concurrent.Future(
        tab.append(docs(25, from = 2000L).repartition(3)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(a, b)),
        scala.concurrent.duration.Duration(120, "s"))
    } finally pool.shutdown()
    val ids = idsByKey(tab)
    assert(ids.size === 60)
    assert(ids.values.toSet.size === 60,
      "a lost-race append must restage with fresh ids, never duplicate")
  }
}
