package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `sources.Filter` → `Column` translation for the lake's V1/DSv2
  * relation surfaces. Only exact translations are offered — a filter
  * this object declines stays with Spark for post-scan evaluation, so
  * the contract is never "approximately pushed". Translated filters
  * reach [[TxFileIndex]] through the ordinary `DataFrame.filter`, which
  * is where log-stats file skipping and partition pruning happen.
  *
  * Reference behavior: the reference reads registered tables through
  * Spark's own source resolution (etl/utils/base_table.py reads by
  * format+path; spark/conf/spark-defaults.conf routes named tables
  * through DeltaCatalog) — this is the public-API re-expression.
  */
object FilterSql {

  /** The exact Column for `f`, or None when no exact translation
    * exists (then the filter must NOT be claimed as pushed). */
  def column(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(nameOf(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(nameOf(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(nameOf(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(nameOf(a) >= lit(v))
    case LessThan(a, v)           => Some(nameOf(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(nameOf(a) <= lit(v))
    case In(a, vs)                => Some(nameOf(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(nameOf(a).isNull)
    case IsNotNull(a)             => Some(nameOf(a).isNotNull)
    case StringStartsWith(a, v)   => Some(nameOf(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(nameOf(a).endsWith(v))
    case StringContains(a, v)     => Some(nameOf(a).contains(v))
    case And(l, r)  => for (lc <- column(l); rc <- column(r)) yield lc && rc
    case Or(l, r)   => for (lc <- column(l); rc <- column(r)) yield lc || rc
    case Not(c)     => column(c).map(not)
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Attribute names arrive dotted for nested fields; lake tables are
    * flat, so quote the whole name (a literal dot in a column name must
    * not split). */
  private def nameOf(a: String): Column =
    if (a.contains(".")) col(a) else col(s"`$a`")

  def translatable(f: Filter): Boolean = column(f).isDefined
}

object TxRelation {

  /** Table size and row count from the LOG (Add.bytes / Add.rows —
    * zero filesystem RPCs): the numbers Catalyst's join strategy
    * reads. Without this every V1-faced lake relation reports
    * `spark.sql.defaultSizeInBytes` (≈ infinite), so a join against a
    * small NAME-ADDRESSED dimension would sort-merge instead of
    * broadcast — at 100 TB that is a full shuffle of the fact side
    * paid for no reason. Legacy byte-less adds estimate at 128 B/row
    * (overestimating keeps the decision conservative). */
  def logStats(spark: SparkSession, path: String,
      asOf: Option[Long]): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    statsOf(TxLog.snapshot(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root, asOf))
  }

  /** Same numbers from an already-resolved snapshot (no extra log
    * replay). */
  def statsOf(snap: TxLog.Snapshot): (Long, Long) = {
    val bytes = snap.adds.map(a => a.bytes.getOrElse(a.rows * 128L)).sum
    (math.max(bytes, 1L), snap.adds.map(_.rows).sum)
  }

  /** The shared scan: snapshot read → exact pushed filters (file
    * skipping + partition pruning inside [[TxFileIndex]]) → column
    * pruning → the already-planned InternalRow RDD. `needConversion =
    * false` relations hand this straight to Spark (the JDBC source's
    * own pattern), so no per-row Row⇄InternalRow conversion is paid —
    * the rows never leave Tungsten format. */
  def scanRdd(spark: SparkSession, path: String, asOf: Option[Long],
      requiredColumns: Seq[String], filters: Seq[Filter]): RDD[Row] =
    scanRdd(spark, path,
      new TxTable(spark, path).read(asOf), requiredColumns, filters)

  /** Scan from a pre-resolved snapshot read — the shared-snapshot
    * surfaces ([[TxBaseRelation]], the catalog scan) resolve the log
    * once and pass the base read here. */
  def scanRdd(spark: SparkSession, path: String, base: DataFrame,
      requiredColumns: Seq[String], filters: Seq[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(FilterSql.column)
      .foldLeft(base)(_ filter _)
    val pruned =
      filtered.select(requiredColumns.map(n => col(s"`$n`")): _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** The txlog table as a V1 relation: `spark.read.format("txlog")
  * .load(root)` (options `versionAsOf` / `timestampAsOf` for time
  * travel) and `df.write.format("txlog").mode(...).save(root)` — the
  * same resolution route Spark takes for a catalog table registered
  * `USING txlog`, so a metastore entry with this provider reads and
  * writes through the transaction log on a COMPLETELY VANILLA session
  * (no extensions, no custom catalog).
  *
  * Scan contract: filters this source claims are translated exactly and
  * reach the log-backed FileIndex (partition pruning + min/max file
  * skipping); unclaimed shapes stay with Spark. Write modes: Append →
  * atomic append commit; Overwrite → one-commit full replace
  * ([[TxTable.overwrite]]); ErrorIfExists / Ignore follow SaveMode.
  */
final class TxBaseRelation(ctx: SQLContext, path: String,
    asOf: Option[Long]) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  override def sqlContext: SQLContext = ctx

  // ONE log resolution for the relation's life: schema, statistics,
  // and the scan all read the SAME pinned snapshot — one replay per
  // query instead of three, and snapshot isolation between a query's
  // analysis and its execution for free
  private val table = new TxTable(ctx.sparkSession, path)
  private val snap: TxLog.Snapshot = {
    val root = new org.apache.hadoop.fs.Path(path)
    TxLog.snapshot(root.getFileSystem(
      ctx.sparkSession.sparkContext.hadoopConfiguration), root, asOf)
  }
  private lazy val baseRead: DataFrame = table.readAt(snap)

  override val schema: StructType = baseRead.schema

  // buildScan returns the planned InternalRow RDD directly
  override def needConversion: Boolean = false

  // log-derived size (not the default "infinite"): small lake tables
  // broadcast in joins like any parquet table would
  override lazy val sizeInBytes: Long = TxRelation.statsOf(snap)._1

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(FilterSql.translatable)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] =
    TxRelation.scanRdd(ctx.sparkSession, path, baseRead,
      requiredColumns.toIndexedSeq, filters.toIndexedSeq)

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty, s"cannot write to a time-travel read of $path")
    val tab = new TxTable(ctx.sparkSession, path)
    if (overwrite) tab.overwrite(data) else tab.append(data): Unit
  }
}

/** `format("txlog")` batch provider (registered in META-INF/services —
  * see [[TxBaseRelation]] for the V1 semantics).
  *
  * ALSO a DataSource V2 [[org.apache.spark.sql.connector.catalog
  * .TableProvider]] — the dual registration Delta ships: the V2 face
  * makes `USING txlog` a "v2 provider" to the analyzer, so session-
  * catalog `CREATE TABLE db.t USING txlog` routes through the catalog
  * (where [[graft.lake.catalog.TxSessionCatalog]] initializes the log)
  * instead of V1 `CreateDataSourceTableCommand`, and registered-table
  * reads resolve to [[graft.lake.catalog.TxLakeTable]] even on a
  * vanilla session. The V1 faces keep `DataFrameWriter.save`'s
  * ErrorIfExists/Ignore create modes working (Spark falls back to
  * [[CreatableRelationProvider]] for those) and serve explicit-path
  * `load(...)` on engines that prefer V1. A REGISTERED table whose log
  * is missing is materialized empty from the catalog's stored schema on
  * first touch ([[getTable]]) — that is the vanilla-session CREATE
  * TABLE flow, where the catalog stores only metadata.
  *
  * Streams go through the V2 face alone: `readStream.format("txlog")`
  * plans micro-batches with [[TxMicroBatchStream]] (options
  * `startingVersion` / `startingTimestamp`, `ignoreChanges`,
  * `readChangeFeed`, `withRowIds`, `maxVersionsPerTrigger` and the
  * `max{Files,Rows,Bytes}PerTrigger` admission limits), and
  * `writeStream.format("txlog")` commits through [[TxStreamingWrite]].
  * Either side names its table by `path` or by `table` (a catalog
  * identifier, resolved the way the SQL surface resolves one). */
class TxLogProvider extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "txlog"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("txlog needs .load(<tableRoot>) / .option(\"path\", ...)"))

  // ---- DataSource V2 face ----

  override def supportsExternalMetadata(): Boolean = true

  private def asOfOf(get: String => String, path: String,
      spark: SparkSession): Option[Long] =
    (Option(get("versionAsOf")), Option(get("timestampAsOf"))) match {
      case (Some(_), Some(_)) => sys.error(
        "txlog: set either versionAsOf or timestampAsOf, not both")
      case (Some(v), None) => Some(v.toLong)
      case (None, Some(ts)) =>
        Some(new TxTable(spark, path).versionAtTimestamp(ts.toLong))
      case (None, None) => None
    }

  private def flag(get: String => String, key: String): Boolean =
    Option(get(key)).exists(_.toBoolean)

  // catalog resolution hands the table location under "location";
  // explicit format("txlog").load(...) under "path"; a by-name stream
  // under "table"
  private def pathFrom(get: String => String): String =
    Option(get("path")).orElse(Option(get("location")))
      .orElse(Option(get("table")).map(id =>
        LakeSql.identPath(id).getOrElse(sys.error(
          s"${shortName()}: '$id' does not resolve to a lake table " +
            "through any registered catalog"))))
      .getOrElse(sys.error(
        s"${shortName()} needs a path or .option(\"table\", <identifier>)"))

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = {
    val spark = SparkSession.active
    val path = pathFrom(options.get)
    graft.lake.catalog.TxLakeTable.feedSchema(
      new TxTable(spark, path).read(asOfOf(options.get, path, spark)).schema,
      flag(options.get, "readChangeFeed"), flag(options.get, "withRowIds"))
  }

  /** No log yet (a stream sink's first contact) = no partitioning. */
  override def inferPartitioning(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val spark = SparkSession.active
    val path = pathFrom(options.get)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (TxLog.latestVersion(fs, p) < 0) Array.empty
    else TxLog.snapshot(fs, p, asOfOf(options.get, path, spark))
      .meta.partitionCols
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray
  }

  /** SIDE-EFFECT-FREE (resolution may never mutate storage): a missing
    * log with a declared schema resolves to a lazy [[graft.lake.catalog
    * .TxLakeTable]] that scans empty and claims v0 on first write. */
  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val path = pathFrom(properties.get)
    val asOf = asOfOf(properties.get, path, SparkSession.active)
    new graft.lake.catalog.TxLakeTable(path, asOf, s"txlog.`$path`",
      providedSchema = if (schema.isEmpty) None else Some(schema),
      providedPartitioning =
        partitioning.map(graft.lake.catalog.TxCatalog.identityColumn).toSeq,
      cdfRead = flag(properties.get, "readChangeFeed"),
      rowIds = flag(properties.get, "withRowIds"))
  }

  // ---- V1 face ----

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    val asOf = (parameters.get("versionAsOf"),
        parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => sys.error(
        "txlog: set either versionAsOf or timestampAsOf, not both")
      case (Some(v), None) => Some(v.toLong)
      case (None, Some(ts)) => Some(
        new TxTable(ctx.sparkSession, path).versionAtTimestamp(ts.toLong))
      case (None, None) => None
    }
    new TxBaseRelation(ctx, path, asOf)
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val tab = new TxTable(ctx.sparkSession, path)
    val partitionCols = parameters.get("partitionColumns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val exists = tab.exists
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(Seq(path))
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite if exists =>
        // Delta's classic replaceWhere option: overwrite ONLY the
        // predicate's slice, atomically — df.write.format("txlog")
        // .mode("overwrite").option("replaceWhere", "day = '…'")
        parameters.get("replaceWhere") match {
          case Some(cond) =>
            tab.replaceWhere(org.apache.spark.sql.functions.expr(cond),
              data): Unit
          case None => tab.overwrite(data): Unit
        }
      case SaveMode.Append if exists => tab.append(data): Unit
      case _ => tab.create(data, partitionCols = partitionCols): Unit
    }
    new TxBaseRelation(ctx, path, None)
  }
}

/** `format("txlog-stream")`: the name streams used before the lake had
  * one streaming face. Same provider, same offsets, so a checkpoint
  * written under either name resumes under the other. */
class TxLogStreamProvider extends TxLogProvider {
  override def shortName(): String = "txlog-stream"
}
