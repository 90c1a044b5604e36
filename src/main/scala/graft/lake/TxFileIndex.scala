package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import TxLog.{Add, Snapshot}

/** The txlog read path as a native Spark [[FileIndex]] — Delta's
  * TahoeFileIndex design: the transaction log (not a directory listing)
  * serves Spark's planner the live file set, each file's partition
  * values, and per-file min/max stats, so the whole table reads as ONE
  * `HadoopFsRelation` scan with
  *
  *   - PARTITION PRUNING at plan time: Catalyst hands
  *     [[listFiles]] its partition filters and only matching partition
  *     tuples' files enter the scan (visible as the scan's "partition
  *     filters" / shrinking "files read"),
  *   - LOG-STATS FILE SKIPPING: the data filters go through the lake's
  *     one skipping evaluator ([[TxSkipping]]) — a file whose recorded
  *     [min,max] (or partition value) cannot satisfy a `col op value` /
  *     `IN` conjunct, or whose bloom sidecar excludes every point value,
  *     is dropped, and Spark never opens its footer. Every lake read and
  *     every mutation's match scan gets the same decision, whatever the
  *     query's WHERE clause,
  *   - and everything the native parquet source already does
  *     downstream: footer row-group pruning on the surviving files,
  *     column pruning, vectorized decode, whole-stage codegen — ONE
  *     scan node instead of a union of per-partition-tuple frames.
  *
  * File sizes come from the log ([[TxLog.Add.bytes]], recorded at
  * write time from `_metadata.file_size`): planning a 100 TB table
  * costs zero filesystem RPCs — only legacy entries written before the
  * field existed fall back to one `getFileStatus` each.
  *
  * Scope: serves the files it is given, all of ONE partition layout
  * (the caller decides the snapshot and groups files by layout — after
  * a partition evolution a column is a directory value in one layout
  * and data bytes in the other). A deletion-vectored file is served
  * whole: the caller removes its deleted positions with an anti-join
  * on ([[TxFileIndex.FileCol]], [[TxFileIndex.PosCol]]), keyed by
  * [[TxFileIndex.scanPath]].
  */
final class TxFileIndex(spark: SparkSession, root: Path, snap: Snapshot,
    adds: Seq[Add]) extends FileIndex {

  // the files' own layout: their partition keys (physical names —
  // partition columns are never renamed while they partition), in
  // schema order. Nullable like every file-source schema
  // (DataSource.resolveRelation applies asNullable): the declared
  // schema may say required, but a merge can land a NULL key and a
  // default partition a NULL value — a required-typed vectorized read
  // would corrupt them to zeros
  private val partCols: Seq[StructField] = {
    val keys = adds.headOption.fold(snap.meta.partitionCols.toSet)(
      _.partitionValues.keySet)
    snap.meta.schema.fields.toSeq
      .map(f => f.copy(name = snap.meta.physicalOf(f.name), nullable = true))
      .filter(f => keys(f.name))
  }

  override val partitionSchema: StructType = StructType(partCols)

  override def rootPaths: Seq[Path] = Seq(root)

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = statuses.map(_._2.getLen).sum

  // rendered in the empty-authority form Spark's own listings print
  // (`file:///x`) — a Hadoop Path cannot carry that spelling, so the
  // strings are built directly; Dataset.inputFiles then compares equal
  // to a plain `spark.read.parquet` of the same files
  override def inputFiles: Array[String] =
    statuses.map { case (_, st) =>
      val u = st.getPath.toUri
      u.getScheme + "://" + Option(u.getAuthority).getOrElse("") + u.getPath
    }.toArray

  // (add, status) per live file — resolved once; Add.bytes makes this
  // metadata-only (no RPC) for every file written since the field exists
  private lazy val statuses: Seq[(Add, FileStatus)] = adds.map { a =>
    val p = TxFileIndex.qualified(spark, root, a)
    val st = a.bytes match {
      case Some(len) => new FileStatus(len, false, 1, len, 0L, p)
      case None => p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
    }
    a -> st
  }

  /** A partition tuple's values as an InternalRow under
    * [[partitionSchema]] — decoded from the log's string values with
    * Catalyst's own Cast (null for default-partition keys). */
  private def tupleRow(pv: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partCols.map { f =>
      pv.get(f.name).filterNot(_ == "__HIVE_DEFAULT_PARTITION__") match {
        case Some(v) =>
          Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
            StringType), f.dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
        case None => null
      }
    })

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // data filters meet the log's per-file stats here, through the one
    // skipping evaluator; attributes carry the physical names the stats
    // are keyed by
    val statKept =
      if (dataFilters.isEmpty) statuses
      else {
        val keep = TxSkipping.keeper(spark, root,
          dataFilters.reduce(And), n => n)
        statuses.filter { case (a, _) => keep(a) }
      }
    val grouped = statKept
      .groupBy { case (a, _) =>
        partCols.map(f => a.partitionValues.get(f.name)) }
      .toSeq.sortBy(_._1.toString)
      .map { case (_, group) =>
        PartitionDirectory(tupleRow(group.head._1.partitionValues),
          group.map(_._2).toArray)
      }
    if (partitionFilters.isEmpty) grouped
    else {
      // bind the filters' attribute references to partition-schema
      // ordinals by name (InMemoryFileIndex's own pruning pattern)
      val bound = partitionFilters.map(_.transform {
        case a: Attribute =>
          val i = partCols.indexWhere(f =>
            spark.sessionState.analyzer.resolver(f.name, a.name))
          require(i >= 0, s"partition filter on unknown column ${a.name}")
          BoundReference(i, partCols(i).dataType, nullable = true)
      }).reduce(And)
      val pred = Predicate.create(bound)
      pred.initialize(0)
      grouped.filter(d => pred.eval(d.values))
    }
  }
}

object TxFileIndex {

  /** Scan extras: the row's file as the scan spells it
    * (`_metadata.file_path`), its position in that file
    * (`_metadata.row_index`), and the physical row id. */
  private[lake] val FileCol = "__txlog_file"
  private[lake] val PosCol = "__txlog_pos"
  private[lake] val RowIdCol = "_row_id"

  /** `a`'s qualified (scheme-carrying) path, like every Spark file
    * listing — pure path arithmetic, not an RPC. */
  private def qualified(spark: SparkSession, root: Path, a: Add): Path = {
    val raw = new Path(root, a.path)
    raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(raw)
  }

  /** `a`'s [[FileCol]] value exactly as the scan spells it — what an
    * anti-join keyed on [[FileCol]] must match. This is Spark's own
    * `_metadata.file_path` extractor applied to the path the index
    * lists: the path's string form re-parsed, which drops the empty
    * authority of `file:///`, then URL-encoded, which encodes an
    * escaped partition directory's `%` once more. The listed path's
    * own URI (`file:///…`) matches no row. */
  private[lake] def scanPath(spark: SparkSession, root: Path, a: Add)
      : String =
    new Path(SparkPath.fromPath(qualified(spark, root, a)).toPath.toString)
      .toUri.toString

  /** One native scan over `adds` — files of ONE partition layout
    * (physical-name parquet files) — at `snap`'s schema, logical names
    * restored on top. Partition columns come from the log's values
    * through the relation's own partition handling. `withFileCols`
    * appends [[FileCol]] and [[PosCol]]; `withRowId` appends the
    * physical [[RowIdCol]] (null in files written before tracking). */
  def scan(spark: SparkSession, root: Path, snap: Snapshot,
      adds: Seq[Add], withFileCols: Boolean = false,
      withRowId: Boolean = false): DataFrame = {
    val meta = snap.meta
    val index = new TxFileIndex(spark, root, snap, adds)
    val pset = index.partitionSchema.fieldNames.toSet
    // scan schema under PHYSICAL names, nullable like any resolved
    // file-source schema — files can legitimately hold NULLs the
    // declared schema calls required (null merge keys, evolution
    // backfill)
    val dataSchema = StructType(
      meta.schema.fields.map(f => f.copy(name = meta.physicalOf(f.name),
        nullable = true)).filterNot(f => pset(f.name)) ++
        (if (withRowId) Seq(StructField(RowIdCol, LongType)) else Nil))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      // parquet's dictionary filter compares doubles with
      // Double.compare, so `d <= -0.0` drops a row group of 0.0s that
      // Spark's filter (and the stats skipping) would match; the
      // min/max row-group and page filters stay on
      options = Map("parquet.filter.dictionary.enabled" -> "false"))(spark)
    // public wrapping route (Dataset.ofRows is private[sql]); wraps the
    // relation in a LogicalRelation internally
    val df = spark.baseRelationToDataFrame(relation)
    // logical labels + the table's declared column order; the metadata
    // columns resolve only on the raw relation, so in this projection
    df.select(meta.schema.fieldNames.map(n =>
      col(meta.physicalOf(n)).as(n)).toIndexedSeq ++
      (if (withFileCols) Seq(col("_metadata.file_path").as(FileCol),
        col("_metadata.row_index").as(PosCol)) else Nil) ++
      (if (withRowId) Seq(col(RowIdCol)) else Nil): _*)
  }
}
