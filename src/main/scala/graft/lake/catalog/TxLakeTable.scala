package graft.lake.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{
  SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{
  Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write,
  WriteBuilder}
import org.apache.spark.sql.sources.{
  AlwaysTrue, BaseRelation, EqualTo, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{
  LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{FilterSql, TxLog, TxRelation, TxTable}

/** A txlog lake table as a DataSource V2 [[Table]] — what
  * [[TxCatalog]] / [[TxSessionCatalog]] hand Spark's analyzer when a
  * table NAME resolves to a transaction-log directory, mirroring the
  * reference deployment's DeltaCatalog default
  * (reference spark/conf/spark-defaults.conf:9 routes
  * `spark.sql.catalog.spark_catalog` through Delta so `db.tbl`
  * identifiers hit the lake; etl/utils/base_table.py:49 names tables
  * by `database` + `name`).
  *
  * The scan and write surfaces take Spark's OWN V1-fallback contracts
  * ([[V1Scan]], [[V1Write]] — public connector API, the JDBC v2
  * source's route), so a bare identifier works on a completely vanilla
  * session while the physical plan stays the native log-backed
  * [[graft.lake.TxFileIndex]] scan: pushed filters and pruned columns
  * flow into an ordinary snapshot read (partition pruning + min/max
  * file skipping at plan time), and the relation hands back the
  * already-planned InternalRow RDD (`needConversion = false` semantics
  * — no per-row conversion tax).
  *
  * Row-level surfaces: DELETE by identifier is native
  * ([[SupportsDelete]] — exact-translation filters only, refusing
  * rather than over-deleting). UPDATE/MERGE SQL routes through the
  * lake's own statement parser exactly as Delta routes them through
  * its extension parser rather than Spark's group-based rewrite
  * framework.
  */
final class TxLakeTable(val path: String, val asOf: Option[Long],
    ident: String, providedSchema: Option[StructType] = None,
    providedPartitioning: Seq[String] = Nil,
    cdfRead: Boolean = false, rowIds: Boolean = false) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog
      .SupportsPartitionManagement {

  private def spark: SparkSession = SparkSession.active
  private def tx: TxTable = new TxTable(spark, path)

  /** Resolution must be SIDE-EFFECT-FREE (Delta's DeltaTableV2 rule):
    * a catalog-registered table may not have a log yet (registered on
    * a session without the lake catalog extension — metadata only).
    * Such a table reads as its declared schema, scans EMPTY, and the
    * first write claims v0 ([[TxTable.createIfAbsent]]). */
  private def exists: Boolean = resolvedSnap.isDefined

  /** ONE log resolution per table object (and the catalog hands out a
    * fresh object per resolution): schema, partitioning, scan
    * statistics, and the batch scan all share THIS snapshot — one
    * replay per query instead of four. None = registered but never
    * written (resolution is side-effect-free; first write claims v0). */
  private[catalog] lazy val resolvedSnap: Option[TxLog.Snapshot] =
    if (!tx.exists) None
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(TxLog.snapshot(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, asOf))
    }

  private def snapMeta = resolvedSnap.get.meta

  override def name(): String = ident

  override def schema(): StructType = {
    val base =
      if (exists) snapMeta.schema
      else providedSchema.getOrElse(
        sys.error(s"no transaction log at $path and no declared schema"))
    // a change-feed table resolution (option("readChangeFeed", true)
    // on the format route) carries the feed columns so the stream's
    // relation exposes them
    TxLakeTable.feedSchema(base, cdfRead, rowIds)
  }

  private def partitionColumnNames: Seq[String] =
    if (exists) snapMeta.partitionCols else providedPartitioning

  override def partitioning(): Array[Transform] =
    partitionColumnNames.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    // table properties from the log metadata first, so SHOW
    // TBLPROPERTIES / DESCRIBE EXTENDED by name surface them; the
    // engine-reserved keys win on (pathological) collision
    ((if (exists) snapMeta.config else Map.empty[String, String]) ++
      Map("provider" -> "txlog", "location" -> path) ++
      asOf.map("versionAsOf" -> _.toString)).asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)

  // ---- read: ScanBuilder with exact pushdown → V1Scan fallback ----

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // a change-feed read's relation carries the feed columns (the
    // table-level cdfRead flag covers the format route; the option
    // covers a scan over a plainly-resolved table); the STREAM plans
    // captured change data as FilePartitions
    // ([[graft.lake.TxMicroBatchStream]] CDF mode)
    val base = TxLakeTable.feedSchema(schema(),
      Option(options.get("readChangeFeed")).exists(_.toBoolean),
      Option(options.get("withRowIds")).exists(_.toBoolean))
    new TxScanBuilder(path, asOf, base, resolvedSnap, options)
  }

  // ---- write: V1Write fallback over append/overwrite commits ----

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to a time-travel read of $path")
    new TxWriteBuilder(path, partitionColumnNames, info)
  }

  // ---- row-level DELETE by identifier ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterSql.translatable)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, s"cannot delete from a time-travel read of $path")
    val cond = filters.flatMap(FilterSql.column)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    tx.deleteWhere(cond): Unit
  }

  // ---- partition LISTING by identifier (SHOW PARTITIONS cat.ns.t):
  // read-only SupportsPartitionManagement answered from LOG METADATA
  // alone (the live Add entries' partition values — no directory
  // listing). Partitions here DERIVE from data, so the mutation faces
  // refuse: rows route partitions (INSERT/DELETE), never DDL. ----

  override def partitionSchema(): StructType =
    StructType(partitionColumnNames
      .map(c => schema()(c).copy(nullable = true)).toArray)

  override def listPartitionIdentifiers(names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] =
    resolvedSnap.fold(
      Array.empty[org.apache.spark.sql.catalyst.InternalRow]) { snap =>
      val pf = partitionSchema().fields.toIndexedSeq
      val idxs = names.map(n =>
        pf.indexWhere(_.name.equalsIgnoreCase(n)))
      require(idxs.forall(_ >= 0),
        s"unknown partition column(s) ${names.mkString(", ")} — " +
          s"table partitions by ${pf.map(_.name).mkString(", ")}")
      snap.adds.map(_.partitionValues).distinct
        .map(pv => graft.lake.TxMicroBatchStream
          .partitionTuple(spark, pf, pv))
        .filter { row =>
          idxs.zipWithIndex.forall { case (pi, i) =>
            val dt = pf(pi).dataType
            val a = row.get(pi, dt)
            val b = ident0.get(i, dt)
            (a == null && b == null) || (a != null && a == b)
          }
        }.toArray
    }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"txlog partitions derive from DATA — INSERT rows with the " +
        "partition value instead of ADD PARTITION")

  override def dropPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      s"txlog partitions derive from DATA — DELETE the partition's " +
        "rows instead of DROP PARTITION")

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "txlog partitions carry no standalone metadata")

  override def loadPartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] =
    util.Collections.emptyMap[String, String]()

  override def toString: String = s"TxLakeTable($ident -> $path)"
}

private[catalog] final class TxScanBuilder(path: String,
    asOf: Option[Long], full: StructType,
    snap: Option[TxLog.Snapshot],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  /** Exact-translation filters are pushed (they prune partitions and
    * skip files inside the FileIndex); EVERY filter is also returned
    * as residual — pushed filters are re-checked by the inner scan's
    * own Filter node anyway, so correctness never rests on the stats. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(FilterSql.translatable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** One Scan, two faces: the batch side is the V1 fallback over the
    * native FileIndex read; the streaming side is the pure-public DSv2
    * [[graft.lake.TxMicroBatchStream]] (admission-controlled
    * append-mode micro-batches planned straight from the log) — so
    * `spark.readStream.table("cat.db.t")` and
    * `readStream.format("txlog")` stream a lake table BY NAME with no
    * further setup. */
  override def build(): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = required
    /** Log-derived size/rows (`Add.bytes`/`Add.rows`, zero filesystem
      * RPCs) — what Catalyst's join strategy reads. Without it a
      * name-addressed scan reports the "infinite" default and a join
      * against a small catalog dimension sort-merges instead of
      * broadcasting: at scale, a full shuffle of the fact side paid
      * for nothing.
      *
      * COLUMN stats ride along from the same log (Spark's
      * `transformV2Stats` folds them into the relation's catalyst
      * Statistics, which CBO's join reorder consumes): per-column
      * min/max combine across the live files' stats, and integer-kind
      * columns carry a DISTINCT-COUNT BOUND of min(rows, span) — the
      * log can't know true NDV, but the span bound is exact for the
      * dense surrogate keys joins actually use, and an upper bound
      * only ever makes CBO conservative. Driver cost O(live files),
      * the same walk `statsOf` already does. */
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = {
      val (bytes, rows) =
        snap.fold((1L, 0L))(TxRelation.statsOf)
      val colStats = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      snap.foreach { sn =>
        required.fields.foreach { f =>
          val phys = sn.meta.physicalOf(f.name)
          val sts = sn.adds.flatMap(_.stats.get(phys))
          if (sts.nonEmpty && sts.size == sn.adds.size) {
            // CBO's join estimation requires BOTH ndv and nullCount on
            // a key before it will cost a join order — files written
            // before null counts landed in the log leave it absent
            // (conservative: no estimate, no reorder)
            val nullCnt: Option[Long] =
              if (sts.forall(_.nulls.isDefined))
                Some(sts.flatMap(_.nulls).sum)
              else None
            def mk(lo: Option[Any], hi: Option[Any], ndv: Option[Long])
                : org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics =
              new org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  lo.map(_.asInstanceOf[Object]).fold(
                    java.util.Optional.empty[Object]())(
                    java.util.Optional.of[Object])
                override def max(): java.util.Optional[Object] =
                  hi.map(_.asInstanceOf[Object]).fold(
                    java.util.Optional.empty[Object]())(
                    java.util.Optional.of[Object])
                override def distinctCount(): java.util.OptionalLong =
                  ndv.fold(java.util.OptionalLong.empty())(
                    java.util.OptionalLong.of)
                override def nullCount(): java.util.OptionalLong =
                  nullCnt.fold(java.util.OptionalLong.empty())(
                    java.util.OptionalLong.of)
              }
            val ref = org.apache.spark.sql.connector.expressions
              .Expressions.column(f.name)
            // the min/max objects must carry the ATTRIBUTE's own type
            // (CBO turns them back into literals of that type)
            def boxL(v: Long): Any = f.dataType match {
              case org.apache.spark.sql.types.ByteType => v.toByte
              case org.apache.spark.sql.types.ShortType => v.toShort
              case org.apache.spark.sql.types.IntegerType => v.toInt
              case _ => v
            }
            def boxD(v: Double): Any = f.dataType match {
              case org.apache.spark.sql.types.FloatType => v.toFloat
              case _ => v
            }
            sts.head.kind match {
              case "l" => scala.util.Try {
                val lo = sts.map(_.min.toLong).min
                val hi = sts.map(_.max.toLong).max
                // span via exact arithmetic: a 64-bit key range can
                // overflow (hi - lo + 1 silently negative) and a
                // negative distinctCount would poison CBO costing —
                // ArithmeticException falls back to rows via the Try
                val span =
                  if (hi < lo) rows
                  else scala.util.Try(
                    Math.addExact(Math.subtractExact(hi, lo), 1L))
                    .getOrElse(rows)
                val ndv = math.min(rows, if (span <= 0) rows else span)
                colStats.put(ref,
                  mk(Some(boxL(lo)), Some(boxL(hi)), Some(ndv)))
              }: Unit
              case "d" => scala.util.Try {
                val lo = sts.map(_.min.toDouble).min
                val hi = sts.map(_.max.toDouble).max
                colStats.put(ref,
                  mk(Some(boxD(lo)), Some(boxD(hi)), None))
              }: Unit
              case "s" =>
                // string join keys (the common dimension case): the
                // per-file HLL sketches union EXACTLY, so the live
                // set's NDV is one driver-side fold over stats already
                // in hand — no span bound exists for strings, and
                // without ndv CBO reorders on size alone. Min/max stay
                // un-reported (string range literals gain CBO little).
                if (sts.forall(_.hll.isDefined)) scala.util.Try {
                  val u = new org.apache.datasketches.hll.Union(
                    graft.lake.TxTable.statHllLgK)
                  sts.foreach(st => u.update(
                    org.apache.datasketches.hll.HllSketch.heapify(
                      java.util.Base64.getDecoder.decode(st.hll.get))))
                  val ndv = math.max(1L,
                    math.min(rows, math.round(u.getEstimate)))
                  colStats.put(ref, mk(None, None, Some(ndv)))
                }: Unit
              case _ => ()
            }
          }
        }
      }
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows)
        override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics] = colStats
      }
    }
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      require(
        !Option(options.get("readChangeFeed")).exists(_.toBoolean),
        s"batch change-feed reads of $path go through " +
          "TxTable.readChanges / the CHANGES SQL surface — " +
          "option(\"readChangeFeed\", true) on a batch read is not a " +
          "table scan; for STREAMS it plans captured change data " +
          "natively")
      new TxV1ScanRelation(context, path, required, pushed, snap)
        .asInstanceOf[T]
    }
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      require(asOf.isEmpty,
        s"cannot stream a time-travel read of $path — use " +
          "startingVersion to begin a stream at a past version")
      val spark = SparkSession.active
      val startingVersion =
        (Option(options.get("startingVersion")),
          Option(options.get("startingTimestamp"))) match {
          case (Some(_), Some(_)) => sys.error(
            "txlog: set either startingVersion or startingTimestamp, " +
              "not both")
          case (Some(v), None) => v.toLong
          case (None, Some(ts)) =>
            new TxTable(spark, path).versionAtOrAfterTimestamp(ts.toLong)
          case (None, None) => 0L
        }
      val perTrigger = Seq(
        Option(options.get("maxFilesPerTrigger")).map(n =>
          org.apache.spark.sql.connector.read.streaming.ReadLimit
            .maxFiles(n.toInt)),
        Option(options.get("maxRowsPerTrigger")).map(n =>
          org.apache.spark.sql.connector.read.streaming.ReadLimit
            .maxRows(n.toLong)),
        Option(options.get("maxBytesPerTrigger")).map(n =>
          org.apache.spark.sql.connector.read.streaming.ReadLimit
            .maxBytes(n.toLong))).flatten
      val defaultLimit =
        if (perTrigger.isEmpty)
          org.apache.spark.sql.connector.read.streaming.ReadLimit
            .allAvailable()
        else if (perTrigger.size == 1) perTrigger.head
        else org.apache.spark.sql.connector.read.streaming.ReadLimit
          .compositeLimit(perTrigger.toArray)
      new graft.lake.TxMicroBatchStream(spark, path, required, pushed,
        startingVersion = startingVersion,
        ignoreChanges =
          Option(options.get("ignoreChanges")).exists(_.toBoolean),
        maxVersionsPerTrigger =
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
        defaultLimit = defaultLimit,
        readChangeFeed =
          Option(options.get("readChangeFeed")).exists(_.toBoolean),
        withRowIds = Option(options.get("withRowIds")).exists(_.toBoolean))
    }
    override def description(): String =
      s"txlog $path${asOf.map(v => s" @v$v").getOrElse("")}"
  }
}

/** The V1 endpoint of the DSv2 scan: already pruned and filtered by the
  * builder, so plain [[TableScan]] suffices. Hands Spark the planned
  * InternalRow RDD (`needConversion = false`). */
private[catalog] final class TxV1ScanRelation(ctx: SQLContext,
    path: String, required: StructType,
    pushed: Array[Filter], snap: Option[TxLog.Snapshot])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required
  override def needConversion: Boolean = false
  // same log-derived size the Scan reports (same shared snapshot, no
  // extra replay) — whichever surface Catalyst consults, a small lake
  // table reads small
  override lazy val sizeInBytes: Long =
    snap.fold(1L)(TxRelation.statsOf(_)._1)
  override def buildScan(): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.Row] =
    snap match {
      case None => // registered, never written: an empty table
        ctx.sparkContext.emptyRDD[org.apache.spark.sql.Row]
      case Some(s) =>
        TxRelation.scanRdd(ctx.sparkSession, path,
          new TxTable(ctx.sparkSession, path).readAt(s),
          required.fieldNames.toIndexedSeq, pushed.toIndexedSeq)
    }
}

private[catalog] final class TxWriteBuilder(path: String,
    partitionCols: Seq[String],
    info: LogicalWriteInfo = null) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite {

  // None = append; Some(filters) = overwrite scoped by the filters
  private var overwriteBy: Option[Array[Filter]] = None

  override def truncate(): WriteBuilder = {
    overwriteBy = Some(Array(AlwaysTrue))
    this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteBy = Some(filters)
    this
  }

  /** One Write, two faces (the read side's mirror): batch goes through
    * the V1 fallback's full DataFrame append/overwrite, streaming
    * through the pure-public DSv2 [[graft.lake.TxStreamingWrite]]
    * (executors stage parquet, the driver commits atomically under the
    * (queryId, epochId) watermark) — so
    * `writeStream.toTable("cat.db.t")` lands exactly-once with no
    * further setup. */
  override def build(): Write = new V1Write {
    override def toStreaming: org.apache.spark.sql.connector.write
        .streaming.StreamingWrite = {
      require(overwriteBy.isEmpty,
        s"txlog streaming write to $path supports Append output only " +
          "(Complete/Update need a table rewrite — use foreachBatch " +
          "with merge/applyChanges for update semantics)")
      new graft.lake.TxStreamingWrite(path, partitionCols,
        info.schema(), info.queryId())
    }
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val tab = new TxTable(data.sparkSession, path)
          if (!tab.exists) // first write claims v0 (never a wipe)
            tab.createIfAbsent(data.schema, partitionCols): Unit
          overwriteBy match {
            case None => tab.append(data): Unit
            case Some(Array(AlwaysTrue())) | Some(Array()) =>
              tab.overwrite(data): Unit
            case Some(Array(EqualTo(c, v))) if partitionCols.contains(c) =>
              // INSERT OVERWRITE ... PARTITION (c = v), static mode
              tab.overwritePartition(c, String.valueOf(v), data): Unit
            case Some(filters)
                if filters.forall(graft.lake.FilterSql.translatable) =>
              // predicate-scoped atomic overwrite (Delta's
              // replaceWhere): df.writeTo("cat.ns.t").overwrite(expr)
              // replaces exactly the matching slice in one commit —
              // exact-translation filters only; anything lossy refuses
              // below rather than over- or under-replacing
              tab.replaceWhere(
                filters.flatMap(graft.lake.FilterSql.column)
                  .reduce(_ && _), data): Unit
            case Some(other) => sys.error(
              s"txlog overwrite supports full-table, single " +
                s"partition-equality, or exactly-translatable " +
                s"predicate scopes (replaceWhere), got " +
                s"${other.mkString(", ")}")
          }
        }
      }
  }
}

object TxLakeTable {
  /** A change-feed read's schema: the table's columns, then `_row_id`
    * when the id-carrying feed is asked for, then the feed's tag columns
    * — the columns and order [[graft.lake.TxTable.readChanges]] emits.
    * Anything else (or a schema that already carries the tags) is
    * `base` unchanged. */
  def feedSchema(base: StructType, changeFeed: Boolean,
      rowIds: Boolean): StructType =
    if (!changeFeed || base.fieldNames.contains("_change_type")) base
    else StructType(base.fields ++
      (if (rowIds) Seq(StructField("_row_id", LongType, nullable = true))
      else Nil) ++
      Seq(StructField("_change_type", StringType, nullable = true),
        StructField("_commit_version", LongType, nullable = true)))
}
