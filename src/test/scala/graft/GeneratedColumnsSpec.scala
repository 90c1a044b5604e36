package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.TxTable

/** GENERATED ALWAYS AS columns ([[graft.lake.TxTable.create]]'s
  * `generatedColumns`): the invariant is that the stored derived value
  * NEVER disagrees with its expression over the row. Ingest paths
  * compute an absent column and validate a present one; every op that
  * could silently break the invariant (UPDATE of the column or its
  * sources, RENAME, DROP) refuses. Content parity with the oracle is
  * ext_lake_generated_col's job.
  */
class GeneratedColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"gencol_$tag").resolve("tbl").toString

  private def rows(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      $"id", ($"id" * 10).as("cents"))

  test("absent generated columns are computed on create, append and merge") {
    val root = freshRoot("compute")
    val tab = new TxTable(spark, root)
    tab.create(rows(5), generatedColumns =
      Map("dollars" -> "cents / 10"))
    tab.append(rows(3, from = 100L))
    tab.merge(rows(2, from = 200L), Seq("id"))
    val got = tab.read().select($"id", $"dollars".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.size === 10)
    assert(got.forall { case (id, d) => d === id })
  }

  test("a present generated column is validated; a lying writer refuses") {
    val root = freshRoot("lie")
    val tab = new TxTable(spark, root)
    tab.create(rows(5), generatedColumns =
      Map("dollars" -> "cents / 10"))
    // truthful explicit values pass
    tab.append(rows(2, from = 50L).withColumn("dollars", $"cents" / 10))
    val err = intercept[IllegalArgumentException] {
      tab.append(rows(2, from = 80L).withColumn("dollars", lit(999)))
    }
    assert(err.getMessage.contains("generated column dollars"))
    // the refused append staged nothing into the live set
    assert(tab.read().count() === 7)
  }

  test("UPDATE refuses the generated column and its source columns") {
    val root = freshRoot("upd")
    val tab = new TxTable(spark, root)
    tab.create(rows(5), generatedColumns =
      Map("dollars" -> "cents / 10"))
    val e1 = intercept[IllegalArgumentException] {
      tab.update($"id" === 1L, Map("dollars" -> lit(7)))
    }
    assert(e1.getMessage.contains("generated"))
    val e2 = intercept[IllegalArgumentException] {
      tab.update($"id" === 1L, Map("cents" -> lit(7)))
    }
    assert(e2.getMessage.contains("generated"))
    // a column no generated expression reads updates fine
    tab.update($"id" === 1L, Map("id" -> lit(-1L)))
    assert(tab.read().where($"id" === -1L).count() === 1)
  }

  test("detail() reports live totals, features and generated columns from metadata only") {
    val root = freshRoot("detail")
    val tab = new TxTable(spark, root)
    tab.create(rows(10).coalesce(1),
      generatedColumns = Map("dollars" -> "cents / 10"))
    tab.deleteWhereMergeOnRead($"id" === 3L) // one DV row + a feature stamp
    val d = tab.detail().collect().head
    assert(d.getAs[Long]("version") === 1L)
    assert(d.getAs[Long]("num_rows") === 9L)
    assert(d.getAs[Long]("dv_shadowed_rows") === 1L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Seq[String]]("reader_features") ===
      Seq("deletionVectors"))
    assert(d.getAs[Map[String, String]]("generated_columns") ===
      Map("dollars" -> "cents / 10"))
    assert(!d.getAs[Boolean]("cdf_enabled"))
    // time travel: the pre-delete detail shows the clean v0
    val d0 = tab.detail(asOf = Some(0L)).collect().head
    assert(d0.getAs[Long]("num_rows") === 10L)
    assert(d0.getAs[Seq[String]]("reader_features") === Nil)
  }

  test("applyChanges computes an absent generated column and refuses a lying one") {
    val root = freshRoot("apply")
    val tab = new TxTable(spark, root)
    tab.create(rows(5), generatedColumns =
      Map("dollars" -> "cents / 10"))
    // a change slice WITHOUT the generated column: computed, not an
    // AnalysisException in the align-select
    val slice = rows(2, from = 300L)
      .withColumn("_change_type", lit("insert"))
    tab.applyChanges(slice, Seq("id"))
    val got = tab.read().where($"id" >= 300L)
      .select($"dollars".cast("long")).as[Long].collect().sorted
    assert(got.toSeq === Seq(300L, 301L))
    // a slice carrying a diverging generated value refuses
    val lying = rows(1, from = 400L).withColumn("dollars", lit(999))
      .withColumn("_change_type", lit("insert"))
    assert(intercept[IllegalArgumentException] {
      tab.applyChanges(lying, Seq("id"))
    }.getMessage.contains("generated column dollars"))
  }

  test("overwritePartition computes a generated partition column") {
    val root = freshRoot("ovw")
    val tab = new TxTable(spark, root)
    val base = rows(4).withColumn("bucket", ($"id" % 2).cast("string"))
    tab.create(base, partitionCols = Seq("bucket"),
      generatedColumns = Map("bucket" -> "CAST(id % 2 AS STRING)"))
    // the load arrives WITHOUT the generated partition column — the
    // headline use case: the table derives its own partition key
    tab.overwritePartition("bucket", "0", rows(1, from = 10L))
    val got = tab.read().select($"id", $"bucket").as[(Long, String)]
      .collect().toMap
    assert(got === Map(10L -> "0", 1L -> "1", 3L -> "1"))
    // a load lying about the generated key refuses before staging
    assert(intercept[IllegalArgumentException] {
      tab.overwritePartition("bucket", "0",
        rows(1, from = 21L).withColumn("bucket", lit("0")))
    }.getMessage.contains("generated column bucket"))
  }

  test("value-free overwritePartition routes by a generated partition " +
      "column") {
    val root = freshRoot("ovwdyn")
    val tab = new TxTable(spark, root)
    tab.create(rows(4).withColumn("bucket", ($"id" % 2).cast("string")),
      partitionCols = Seq("bucket"),
      generatedColumns = Map("bucket" -> "CAST(id % 2 AS STRING)"))
    // the load arrives without the partition column: the table derives
    // it, and the staged files name the partition the load replaces
    tab.overwritePartition("bucket", rows(1, from = 11L))
    val got = tab.read().select($"id", $"bucket").as[(Long, String)]
      .collect().toMap
    assert(got === Map(0L -> "0", 2L -> "0", 11L -> "1"))
    // a load spanning both buckets carries two stamps
    assert(intercept[IllegalArgumentException] {
      tab.overwritePartition("bucket", rows(2, from = 20L))
    }.getMessage.contains("got 2 distinct values"))
    assert(tab.version === 1L)
  }

  test("a generated expression containing a newline still guards DDL") {
    val root = freshRoot("nl")
    val tab = new TxTable(spark, root)
    tab.create(rows(3), generatedColumns =
      Map("dollars" -> "cents\n/ 10"))
    // (?s) makes \b-search span the newline: cents is still protected
    assert(intercept[IllegalArgumentException] {
      tab.update($"id" === 1L, Map("cents" -> lit(7)))
    }.getMessage.contains("generated"))
    assert(intercept[IllegalArgumentException] {
      tab.renameColumn("cents", "pennies")
    }.getMessage.contains("generated"))
  }

  test("RENAME and DROP refuse columns a generated expression touches") {
    val root = freshRoot("ddl")
    val tab = new TxTable(spark, root)
    tab.create(rows(5).withColumn("note", lit("x")),
      generatedColumns = Map("dollars" -> "cents / 10"))
    assert(intercept[IllegalArgumentException] {
      tab.renameColumn("cents", "pennies")
    }.getMessage.contains("generated"))
    assert(intercept[IllegalArgumentException] {
      tab.dropColumn("dollars")
    }.getMessage.contains("generated"))
    // untouched columns keep full DDL freedom
    tab.renameColumn("note", "comment")
    assert(tab.read().columns.contains("comment"))
  }
}
