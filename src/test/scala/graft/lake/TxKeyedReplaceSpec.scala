package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The keyed verbs — `merge`, `applyChanges`, `applyChangesById` and the
  * keyed `mergeInto` — share one keyed-replace plan: retract every live
  * row whose key is in a retract set, then land upsert rows that must be
  * unique per key. This suite pins the refusals each verb makes and the
  * equivalence that lets one plan serve both `merge` and `applyChanges`.
  */
class TxKeyedReplaceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"keyed_$tag").resolve("tbl").toString

  private def docs(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id", concat(lit("doc-"), $"id").as("text"))

  private def inserts(df: DataFrame): DataFrame =
    df.withColumn("_change_type", lit("insert"))

  private def refuses(f: => Any, parts: String*): Unit = {
    val e = intercept[IllegalArgumentException](f)
    parts.foreach(p => assert(e.getMessage.contains(p), e.getMessage))
  }

  test("identity-column tables refuse every keyed upsert") {
    val tab = new TxTable(spark, freshRoot("ident"))
    tab.create(docs(3).coalesce(1), identityColumns = Seq("sn"))
    val why = "identity-column tables do not support keyed upserts"
    refuses(tab.merge(docs(1), Seq("id")), why)
    refuses(tab.mergeInto(docs(1), Seq("id")).whenNotMatchedInsert()
      .execute(), why)
    refuses(tab.applyChanges(inserts(docs(1, from = 9L)), Seq("id")), why)
    assert(tab.read().count() === 3L)
  }

  test("appendOnly: applyChanges refuses even an insert-only slice up " +
      "front; a keyed insert-only mergeInto is a pure append") {
    val tab = new TxTable(spark, freshRoot("appendonly"))
    tab.create(docs(5).coalesce(1))
    tab.setTblProperties(Map(TxLog.propAppendOnly -> "true"))
    val v = tab.version
    refuses(tab.applyChanges(inserts(docs(2, from = 100L)), Seq("id")),
      "appendOnly")
    assert(tab.version === v, "a refused slice commits nothing")
    tab.mergeInto(docs(2, from = 200L), Seq("id"))
      .whenNotMatchedInsert().execute()
    assert(tab.read().count() === 7L)
    // a mergeInto that would rewrite a matched file still refuses
    refuses(tab.mergeInto(docs(1), Seq("id"))
      .whenMatchedUpdate(Map("text" -> lit("X"))).execute(), "appendOnly")
  }

  test("applyChangesById needs row tracking") {
    val tab = new TxTable(spark, freshRoot("byid"))
    tab.create(docs(3).coalesce(1))
    refuses(tab.applyChangesById(
      inserts(docs(1, from = 10L).withColumn("_row_id", lit(99L)))),
      "row tracking")
  }

  test("duplicate upsert keys refuse in merge, applyChanges and mergeInto") {
    val tab = new TxTable(spark, freshRoot("dups"))
    tab.create(docs(5).coalesce(1))
    val dup = docs(2, from = 3L).unionByName(docs(1, from = 4L))
    refuses(tab.merge(dup, Seq("id")), "duplicate")
    refuses(tab.applyChanges(inserts(dup), Seq("id")), "duplicate")
    refuses(tab.mergeInto(dup, Seq("id")).whenMatchedUpdate(
      Map("text" -> col("s.text"))).whenNotMatchedInsert().execute(),
      "duplicate")
    assert(tab.version === 0L, "no refused upsert commits")
  }

  test("merge(src) and applyChanges(src as inserts) are one keyed " +
      "replace: same rows, same inherited ids, same change feed") {
    def table(tag: String): TxTable = {
      val tab = new TxTable(spark, freshRoot(tag))
      tab.create(docs(6).coalesce(1), enableChangeDataFeed = true,
        enableRowTracking = true)
      // a duplicate-keyed target row: the same key appended twice
      tab.append(docs(1, from = 2L).withColumn("text", lit("dup"))
        .coalesce(1))
      tab
    }
    val src = Seq((2L, "M2"), (4L, "M4"), (9L, "NEW")).toDF("id", "text")
    val merged = table("merge")
    val applied = table("apply")
    val vm = merged.merge(src, Seq("id"))
    val va = applied.applyChanges(inserts(src), Seq("id"))
    assert(vm === va)
    def rows(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.toString)
    assert(rows(merged.read()) === rows(applied.read()))
    val ids = rows(merged.readWithRowIds().select("id", "_row_id"))
    assert(ids === rows(applied.readWithRowIds().select("id", "_row_id")))
    assert(ids.count(_.getLong(0) == 2L) === 1, "one row out per key")
    def feed(t: TxTable): Seq[Row] = rows(t.readChanges(vm, vm,
      withRowIds = true).select("id", "text", "_row_id", "_change_type"))
    assert(feed(merged) === feed(applied))
    assert(feed(merged).map(_.getString(3)).toSet ===
      Set("update_preimage", "update_postimage", "insert"))
  }
}
