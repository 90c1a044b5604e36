package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion vectors leave every read through one anti-join keyed on
  * (file, position), where the file is spelled as the native scan
  * spells `_metadata.file_path`. Partition values that need escaping
  * (space, `%`, `:`, `=`) make that spelling differ from a plain
  * qualified-path rendering; a key built any other way removes nothing,
  * and every read mode below would return the deleted rows.
  */
class TxDvScanKeySpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("a b", "x%y", "c:d", "k=v")

  private def seeded(): (TxTable, String) = {
    val root = Files.createTempDirectory("txdvkey").resolve("t").toString
    val tab = new TxTable(spark, root)
    tab.create(spark.range(40).coalesce(1).select($"id",
        element_at(typedLit(parts), ($"id" % 4 + 1).cast("int")).as("p"),
        ($"id" * 10).as("v")),
      partitionCols = Seq("p"), enableRowTracking = true)
    (tab, root)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"id").as[Long].collect().toSet

  test("the scan key spells each file as _metadata.file_path does") {
    val (tab, root) = seeded()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TxLog.snapshot(fs, new Path(root))
    assert(snap.adds.map(_.partitionValues("p")).toSet === parts.toSet)
    val scanned = TxFileIndex.scan(spark, new Path(root), snap, snap.adds,
        withFileCols = true)
      .select(TxFileIndex.FileCol).distinct().as[String].collect().toSet
    assert(scanned ===
      snap.adds.map(TxFileIndex.scanPath(spark, new Path(root), _)).toSet)
    assert(tab.read().count() === 40)
  }

  test("no read mode returns a row a deletion vector removed") {
    val (tab, _) = seeded()
    val all = (0L until 40L).toSet
    val gone = Set(5L, 6L, 7L, 8L) // one per partition value
    tab.deleteWhereMergeOnRead($"id".isin(gone.toSeq: _*))
    val vDv = tab.version
    assert(tab.read().where($"id".isin(gone.toSeq: _*)).count() === 0)
    assert(ids(tab.read()) === all -- gone)
    assert(ids(tab.read(asOf = Some(vDv))) === all -- gone)
    assert(ids(tab.read(asOf = Some(vDv - 1))) === all)
    assert(ids(tab.readWithRowIds()) === all -- gone)
    // the vector commit's feed is the version diff: exactly the deletes
    val feed = tab.readChanges(vDv, vDv)
    assert(feed.select($"id", $"_change_type").as[(Long, String)]
      .collect().toSet === gone.map(_ -> "delete"))

    // a delete match scan over a vectored file (ids 1, 5, 9, … share
    // "x%y"): the rewrite must not resurrect id 5, nor feed it again
    tab.deleteWhere($"id" === 9L)
    val vDel = tab.version
    assert(ids(tab.read()) === all -- gone - 9L)
    assert(tab.readChanges(vDel, vDel).select($"id").as[Long].collect()
      .toSet === Set(9L))

    // an update match scan over every remaining vectored file
    tab.update($"id" < 20L, Map("v" -> ($"v" + 1)))
    val vUpd = tab.version
    val after = tab.read()
    assert(ids(after) === all -- gone - 9L)
    assert(after.where($"id" < 20L && $"v" =!= $"id" * 10 + 1).count() === 0)
    assert(ids(tab.readWithRowIds()) === all -- gone - 9L)
    val updFeed = tab.readChanges(vUpd, vUpd).select($"id").as[Long]
      .collect().toSet
    assert((updFeed & gone).isEmpty, s"update feed resurrected $updFeed")
    assert(ids(tab.read(asOf = Some(vDv))) === all -- gone)
  }
}
