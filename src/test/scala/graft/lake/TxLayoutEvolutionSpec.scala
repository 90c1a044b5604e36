package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Mutations across a partition evolution: after `repartitionBy`, old-
  * and new-layout files coexist and every read is one native scan per
  * layout. Each verb below matches rows in both layouts; the table and
  * its change feed must equal a per-row in-memory model after every
  * step.
  */
class TxLayoutEvolutionSpec extends SparkSpec {
  import spark.implicits._

  /** id -> (grp, b, v): grp partitions the old layout, b the new one. */
  private type Model = Map[Long, (String, Long, Long)]

  private def rows(ids: Range): DataFrame =
    spark.range(ids.start.toLong, ids.end.toLong).coalesce(2).select($"id",
      concat(lit("g"), ($"id" % 3).cast("string")).as("grp"),
      ($"id" % 4).as("b"), ($"id" * 10).as("v"))

  private def modelOf(ids: Range): Model =
    ids.map(i => i.toLong -> (s"g${i % 3}", i % 4L, i * 10L)).toMap

  private def contents(df: DataFrame): Set[(Long, String, Long, Long)] =
    df.select($"id", $"grp", $"b", $"v")
      .as[(Long, String, Long, Long)].collect().toSet

  private def flat(m: Model): Set[(Long, String, Long, Long)] =
    m.iterator.map { case (id, (g, b, v)) => (id, g, b, v) }.toSet

  /** The feed of one commit as (row, "insert" | "delete"); an update's
    * pre/postimage pair counts as delete + insert. */
  private def feedOf(tab: TxTable, v: Long): Set[((Long, String, Long, Long), String)] =
    tab.readChanges(v, v)
      .select($"id", $"grp", $"b", $"v", $"_change_type")
      .as[(Long, String, Long, Long, String)].collect().map {
        case (id, g, b, x, t) => (id, g, b, x) ->
          (if (t == "update_postimage") "insert"
          else if (t == "update_preimage") "delete" else t)
      }.toSet

  private def diff(before: Model, after: Model)
      : Set[((Long, String, Long, Long), String)] =
    (flat(before) -- flat(after)).map(_ -> "delete") ++
      (flat(after) -- flat(before)).map(_ -> "insert")

  for (cdf <- Seq(false, true)) test(s"update, delete, merge-on-read delete " +
      s"and the feed across both layouts match the model (cdf=$cdf)") {
    val root = Files.createTempDirectory("txlayout").resolve("t").toString
    val tab = new TxTable(spark, root)
    tab.create(rows(0 until 60), partitionCols = Seq("grp"),
      enableChangeDataFeed = cdf)
    tab.repartitionBy(Seq("b"))
    tab.append(rows(60 until 120))
    var model = modelOf(0 until 120)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layouts = TxLog.snapshot(fs, new org.apache.hadoop.fs.Path(root))
      .adds.map(_.partitionValues.keySet).toSet
    assert(layouts === Set(Set("grp"), Set("b")))
    assert(contents(tab.read()) === flat(model))

    def step(verb: => Long)(next: Model => Model): Unit = {
      val before = model
      verb
      model = next(before)
      assert(contents(tab.read()) === flat(model))
      assert(feedOf(tab, tab.version) === diff(before, model))
    }

    step(tab.update($"id" % 7 === 0L, Map("v" -> ($"v" + 1000)))) {
      _.map { case (id, (g, b, v)) =>
        id -> (g, b, if (id % 7 == 0) v + 1000 else v) }
    }
    step(tab.deleteWhere($"id" % 5 === 1L))(_.filter(_._1 % 5 != 1))
    step(tab.deleteWhereMergeOnRead($"id" % 11 === 2L))(
      _.filter(_._1 % 11 != 2))
    // a second vector on already-vectored files, matched in both layouts
    step(tab.deleteWhereMergeOnRead($"id" % 13 === 4L))(
      _.filter(_._1 % 13 != 4))
    step(tab.update($"b" === 3L, Map("v" -> lit(-1L)))) {
      _.map { case (id, (g, b, v)) => id -> (g, b, if (b == 3L) -1L else v) }
    }
  }
}
