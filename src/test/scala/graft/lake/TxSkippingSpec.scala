package graft.lake

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** File skipping ([[TxSkipping]]) must never drop a file holding a row
  * the predicate matches, on every path that skips: the native scan's
  * listing (`read().where`), the range/point reads, every mutation's
  * match scan, and the distributed prune over the checkpoint. The
  * stats are min/max in Spark's own orders — strings by UTF-8 bytes,
  * NaN above every double, -0.0 equal to 0.0 — so a comparison in any
  * other order (Java's UTF-16 `compareTo`, `Double.compare`, IEEE `>=`)
  * skips matching files: the three wrong answers pinned below. The
  * property test checks the same agreement on random data.
  */
class TxSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"txskip_$tag").resolve("t").toString

  private def fsOf(root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val special = Seq("\uFFFD", "\uFFFE", "\uD83D\uDE00")

  /** 19 one-file commits: file k holds ids 100k..100k+9. File 0's
    * strings are the three code points whose UTF-8 and UTF-16 orders
    * disagree (one row of U+FFFE); file 1 holds the table's only two
    * zeros, file 2 its only NaN; every other double is 3.0 or ≥ 10. */
  private def seeded(tag: String): (TxTable, String) = {
    val root = freshRoot(tag)
    val tab = new TxTable(spark, root)
    (0 until 19).foreach { k =>
      val rows = (0 until 10).map { j =>
        val id = 100L * k + j
        val d = k match {
          case 0 => 3.0
          case 1 => if (j < 2) 0.0 else 1.0 + j % 4
          case 2 => if (j == 0) Double.NaN else 1.0 + j % 5
          case _ => 10.0 + k
        }
        val s =
          if (k == 0) special.lift(j).getOrElse("\uFFFD") else f"k$k%02d"
        (id, d, s)
      }
      val df = rows.toDF("id", "d", "s").coalesce(1)
      if (k == 0) tab.create(df) else tab.append(df)
    }
    (tab, root)
  }

  /** Files the native scan of `df` lists after its own skipping. */
  private def listed(df: DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size === 1)
    scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.length).sum
  }

  test("strings skip in UTF-8 byte order, as Spark compares them") {
    val (tab, _) = seeded("utf8")
    val hit = $"s" === "\uFFFE"
    assert(tab.read().where(hit).count() === 1)
    assert(tab.readEquals("s", "\uFFFE").count() === 1)
    assert(tab.readBetween("s", "\uFFFE", "\uFFFE").count() === 1)
    tab.deleteWhere(hit)
    assert(tab.read().count() === 189)
    assert(!tab.read().as[(Long, Double, String)].collect()
      .exists(_._3 == "\uFFFE"), "deleteWhere must remove the row")
  }

  test("-0.0 and 0.0 are one value to the skipping, as to the filter") {
    val (tab, _) = seeded("zero")
    val hit = $"d" <= -0.0
    assert(tab.read().where(hit).count() === 2)
    assert(tab.readBetween("d", -1.0, -0.0).count() === 2)
    assert(tab.readEquals("d", -0.0).count() === 2)
    tab.deleteWhere(hit)
    assert(tab.read().count() === 188)
    assert(tab.read().where($"d" === 0.0).count() === 0)
  }

  test("NaN orders above every double in skipping, as in the filter") {
    val (tab, _) = seeded("nan")
    val hit = $"d" > 5.0
    assert(tab.read().where(hit).count() === 161)
    assert(tab.readBetween("d", 5.5, Double.NaN).count() === 161)
    tab.deleteWhere(hit)
    assert(tab.read().count() === 29)
    assert(tab.read().where(hit).count() === 0,
      "deleteWhere must remove the NaN row read().where returns")
  }

  test("an IN list of more than ten values (InSet) skips files") {
    val (tab, _) = seeded("inset")
    val ids = (500L until 506L) ++ (600L until 606L)
    val df = tab.read().where($"id".isin(ids: _*))
    assert(listed(df) === 2, "12 ids in two files must not scan all 19")
    assert(df.count() === 12)
    assert(tab.readEqualsAny("id", ids).count() === 12)
  }

  test("every predicate verb's match scan and every selective read " +
      "skips files on a range-clustered table") {
    val (tab, root) = seeded("verbs")
    // every file outside [500, 509] goes missing on disk: a match scan
    // or read that lists one fails reading it
    val snap = TxLog.snapshot(fsOf(root), new Path(root))
    val far = snap.adds.filter(a => a.stats("id").max.toLong < 500L ||
      a.stats("id").min.toLong > 509L)
    assert(far.size === 18)
    far.foreach(a => fsOf(root).delete(new Path(root, a.path), false))
    def slice = tab.readBetween("id", 500L, 509L)
      .select($"id", $"s").as[(Long, String)].collect().toMap
    tab.update($"id" >= 500L && $"id" <= 509L, Map("s" -> lit("upd")))
    assert(slice === (500L to 509L).map(_ -> "upd").toMap)
    tab.deleteWhere($"id" === 505L)
    tab.deleteWhereMergeOnRead($"id" === 506L)
    tab.merge(Seq((507L, 7.5, "m")).toDF("id", "d", "s"), Seq("id"))
    assert(slice === ((500L to 509L).map(_ -> "upd").toMap - 505L - 506L +
      (507L -> "m")))
    tab.replaceWhere($"id" >= 500L && $"id" <= 509L,
      Seq((508L, 8.5, "rw")).toDF("id", "d", "s"))
    assert(slice === Map(508L -> "rw"))
    assert(tab.readEquals("id", 508L).count() === 1)
    assert(tab.readEqualsAny("id", Seq(508L, 509L)).count() === 1)
    assert(tab.read().where($"id" === 508L).count() === 1)
  }

  test("a cast to string is not monotone: its conjunct skips no file") {
    // "9" < "10" as ints, "10" < "9" as strings: the images of a file's
    // min/max do not bound the cast values between them
    val tab = new TxTable(spark, freshRoot("caststr"))
    tab.create(Seq(9, 10).toDF("i").coalesce(1))
    tab.append(Seq(20, 30).toDF("i").coalesce(1))
    val eq = $"i".cast("string") === "10"
    val lt = $"i".cast("string") < "9"
    assert(tab.read().where(eq).count() === 1)
    assert(tab.read().where(lt).count() === 3)
    tab.deleteWhere(eq)
    assert(tab.read().as[Int].collect().sorted.toSeq === Seq(9, 20, 30))
    tab.deleteWhere(lt)
    assert(tab.read().as[Int].collect().toSeq === Seq(9))
  }

  test("a float column widened to double skips by both readings of " +
      "its old stats") {
    // the float file's stats are "1.1", the float's shortest string;
    // the widened reader returns 1.100000023841858 for its row
    val tab = new TxTable(spark, freshRoot("widen"))
    tab.create(Seq(1.1f).toDF("f").coalesce(1))
    tab.widenColumnType("f", "double")
    tab.append(Seq(0.5).toDF("f").coalesce(1))
    assert(tab.read().where($"f" > 1.1).count() === 1)
    assert(tab.readBetween("f", 1.1000000001, 2.0).count() === 1)
  }

  test("a long IN list is folded in memory, not shipped to the " +
      "distributed prune") {
    val (tab, root) = seeded("longin")
    val few = (500L until 506L) ++ (600L until 606L)
    val many = few ++ (10000L until 10300L)
    distributed(root) {
      val short = tab.readEqualsAny("id", few)
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      assert(short.count() === 12)
      val long = tab.readEqualsAny("id", many)
      assert(TxLog.lastResolve.get()._1 === "driver-fold")
      assert(listed(long) === 2)
      assert(long.count() === 12)
    }
  }

  // ---- differential property: pruning never changes an answer ----

  private val longs = Gen.oneOf(Gen.choose(-5L, 5L),
    Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))
  private val doubles = Gen.oneOf(Gen.choose(-3, 3).map(_.toDouble),
    Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5))
  private val strings = Gen.oneOf("", "a", "b", "\u00e9", "z", "\uFFFD",
    "\uFFFE", "\uD83D\uDE00", "\uD83D\uDE01")
  // few values, so random points hit rows; their decimal strings order
  // unlike the ints ("-1" < "-12" < "-3" < "0" < "10" < "12" < "3" < "9")
  private val ints = Gen.oneOf(-12, -3, -1, 0, 3, 9, 10, 12)

  private type R = (Option[Long], Option[Double], Option[String], Int)

  private val rowGen: Gen[R] = for {
    l <- Gen.option(longs); d <- Gen.option(doubles)
    s <- Gen.option(strings); i <- ints
  } yield (l, d, s, i)

  /** One conjunct of a handled shape, the value on either side — or
    * of the unhandled `cast(i as string)`, which must keep every file. */
  private val conjunct: Gen[Column] = {
    def cmp[T](c: Column, g: Gen[T]): Gen[Column] = for {
      v <- g; flip <- Gen.oneOf(true, false)
      op <- Gen.oneOf("=", "<=>", "<", "<=", ">", ">=")
    } yield {
      val (a, b) = if (flip) (lit(v), c) else (c, lit(v))
      op match {
        case "="   => a === b
        case "<=>" => a <=> b
        case "<"   => a < b
        case "<="  => a <= b
        case ">"   => a > b
        case _     => a >= b
      }
    }
    def in[T](c: Column, g: Gen[T]): Gen[Column] =
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, g))
        .map(vs => c.isin(vs: _*))
    val l = col("l"); val d = col("d"); val s = col("s"); val i = col("i")
    val iText = i.cast("string")
    val intTexts = ints.map(_.toString)
    Gen.oneOf(cmp(l, longs), cmp(d, doubles), cmp(s, strings),
      cmp(i, longs), cmp(iText, intTexts), in(l, longs), in(d, doubles),
      in(s, strings), in(i, ints), in(iText, intTexts))
  }

  private val predicate: Gen[Column] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, conjunct))
      .map(_.reduce(_ && _))

  /** Rows as comparable keys: doubles by their bits, so -0.0 and 0.0
    * (and every NaN payload) stay apart. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.select("l", "d", "s", "i").collect().toSeq.map((r: Row) =>
      r.toSeq.map {
        case x: Double => java.lang.Double.doubleToRawLongBits(x)
        case x => x
      }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** `body` over a checkpoint of the current state, with the
    * driver-fold threshold forced to one file. */
  private def distributed[T](root: String)(body: => T): T = {
    val rootP = new Path(root)
    val fs = fsOf(root)
    val snap = TxLog.snapshot(fs, rootP)
    val entries = TxLog.LogEntry(meta = Some(snap.meta)) +:
      snap.adds.map(a => TxLog.LogEntry(add = Some(a)))
    spark.createDataset(entries)(
        org.apache.spark.sql.Encoders.product[TxLog.LogEntry])
      .write.mode("overwrite").parquet(new Path(rootP,
        f"_txlog/${snap.version}%020d.checkpoint.parquet").toString)
    val o = fs.create(new Path(rootP, "_txlog/_last_checkpoint"), true)
    try o.write(s"""{"version":${snap.version},"entries":${entries.size}}"""
      .getBytes("UTF-8")) finally o.close()
    spark.conf.set(TxLog.driverSnapshotMaxFilesKey, "1")
    try body finally spark.conf.unset(TxLog.driverSnapshotMaxFilesKey)
  }

  /** Distributed prune of `cond` over a checkpoint of the current state. */
  private def distributedPaths(root: String, cond: Column): Set[String] =
    distributed(root) {
      val pruned = TxLog.prunedSnapshot(fsOf(root), new Path(root), None,
        TxSkipping.column(spark, _, cond))
      assert(TxLog.lastResolve.get()._1 === "distributed-prune")
      pruned.adds.map(_.path).toSet
    }

  test("pruning never changes an answer: reads, deletes and the " +
      "distributed prune agree with an unpruned model") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(10).withMaxSize(8)
    val files = Gen.choose(2, 5).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 6).flatMap(Gen.listOfN(_, rowGen))))
    val prop = Prop.forAll(files, predicate) { (batches, p) =>
      val root = freshRoot("prop")
      val tab = new TxTable(spark, root)
      batches.zipWithIndex.foreach { case (rows, k) =>
        val df = rows.toDF("l", "d", "s", "i").coalesce(1)
        if (k == 0) tab.create(df) else tab.append(df)
      }
      val all = tab.read().localCheckpoint()
      val reads = bag(tab.read().where(p)) == bag(all.where(p))
      val snap = TxLog.snapshot(fsOf(root), new Path(root))
      val driver = TxSkipping.files(spark, new Path(root), snap, p)
        .map(_.path).toSet
      val distributed = distributedPaths(root, p) == driver
      tab.deleteWhere(p)
      val deletes = bag(tab.read()) ==
        bag(all.where(!coalesce(p, lit(false))))
      Prop(reads).label(s"read().where($p)") &&
        Prop(distributed).label(s"distributed prune of $p") &&
        Prop(deletes).label(s"deleteWhere($p)")
    }
    Seq(7L, 1009L, 424242L).foreach { seed =>
      val res = SCTest.check(params.withInitialSeed(Seed(seed)), prop)
      assert(res.passed, s"seed $seed: ${res.status}")
    }
  }
}
