package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit,
  ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{
  FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{
  DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import TxLog.{Add, Meta}

/** Commit-version offset of the lake stream. Serializes as the bare
  * version number, so checkpoints stay readable across releases. */
case class TxVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The txlog table as a DataSource V2 [[MicroBatchStream]] — the lake's
  * one streaming read, on Spark's public connector API: commit
  * versions are the offsets, each micro-batch is the rows the
  * versions in `(start, end]` APPENDED, and the batch is planned as
  * native [[FilePartition]]s straight from the log — executors read the
  * committed parquet through Spark's own vectorized parquet reader
  * factory, the driver handles only O(new commits) metadata per
  * trigger, and rows never pass through the driver.
  *
  * Admission control ([[SupportsAdmissionControl]]) is log-metadata
  * arithmetic: `maxFilesPerTrigger` / `maxRowsPerTrigger` /
  * `maxBytesPerTrigger` (and `Trigger.AvailableNow`'s implicit limits)
  * walk the candidate versions' Add entries — counts, rows and bytes
  * all come from the commit JSON, zero filesystem stats — and admit
  * whole versions until the budget is spent (always at least one, so a
  * single oversized commit still progresses). `maxVersionsPerTrigger`
  * caps the version count itself.
  * [[SupportsTriggerAvailableNow]] pins the backlog end at prepare
  * time: the query drains `(start, target]` under the per-batch limits
  * and stops, Delta's AvailableNow contract.
  *
  * Non-append commits REFUSE by default (`ignoreChanges=true`
  * re-emits rewritten files' rows — documented at-least-once for
  * touched files), pure rewrites
  * (OPTIMIZE and friends, Delta's `dataChange=false`) are skipped,
  * the schema is pinned at stream start and later additive evolution
  * null-fills (parquet's missing-column read), and renamed columns
  * stay coherent because files are addressed by PHYSICAL name.
  * Change-feed mode (`readChangeFeed = true`) plans the feed as FILE
  * reads too ([[planCdfPartitions]]): captured `_change_data` parquet
  * carries `_change_type` as bytes, insert commits constant-fill it
  * like a partition value, `_commit_version` is a per-file constant.
  * `withRowIds = true` (change-feed mode on a row-tracked table) adds
  * each change row's stable `_row_id`, read from the same files, so a
  * downstream [[TxTable.applyChangesById]] loop replicates with no key.
  * A table without the feed, or a row-changing commit from BEFORE feed
  * enablement (nothing captured), refuses — Delta's rule.
  */
final class TxMicroBatchStream(spark: SparkSession, rootStr: String,
    required: StructType, pushed: Array[sources.Filter],
    startingVersion: Long, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long],
    defaultLimit: ReadLimit,
    readChangeFeed: Boolean = false,
    withRowIds: Boolean = false) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  maxVersionsPerTrigger.foreach(n =>
    require(n >= 1L, s"maxVersionsPerTrigger must be >= 1, got $n"))

  private val root = new Path(rootStr)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Pinned at stream start: physical names are resolved against
    * THIS meta for the life of the stream — physical names never
    * change, so later renames don't shift the columns, and later-added
    * columns simply aren't requested. */
  private val pinned: Meta = TxLog.snapshot(fs, root).meta

  // change-feed mode plans CAPTURED change data as FilePartitions —
  // commit-time capture is what makes the feed a file read instead of
  // a relational diff, so a table without CDF refuses at stream start
  if (readChangeFeed) require(pinned.cdf,
    s"txlog change-feed stream at $rootStr: the table does not have " +
      "change data feed enabled (txlog.enableChangeFeed = true) — " +
      "enable it, then stream from the enablement version on")
  require(!withRowIds || readChangeFeed,
    "withRowIds streams the id-carrying CHANGE FEED — set " +
      "readChangeFeed=true too")
  require(!withRowIds || pinned.tracksRows,
    s"row tracking is not enabled on $rootStr (create(enableRowTracking))")

  /** Committed floor for the per-trigger probe — keeps latestOffset
    * O(new commits), never O(history). */
  @volatile private var lastSeen: Long = -1L

  /** Backlog end pinned by Trigger.AvailableNow; None = unbounded. */
  @volatile private var availableNowTarget: Option[Long] = None

  /** Commit-entry cache: [[admit]] reads a version's entries to price
    * it and [[planInputPartitions]] reads the SAME entries to plan it
    * in the same trigger — one parse, not two. Bounded LRU (a trigger
    * touches only its admitted range; 256 versions ≫ any sane
    * per-trigger admission). */
  private val entryCache =
    new java.util.LinkedHashMap[Long, Seq[TxLog.LogEntry]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[TxLog.LogEntry]]): Boolean =
        size() > 256
    }
  private def commitEntriesCached(v: Long): Seq[TxLog.LogEntry] =
    entryCache.synchronized {
      val hit = entryCache.get(v)
      if (hit != null) hit
      else {
        val es = TxLog.commitEntries(fs, root, v)
        entryCache.put(v, es)
        es
      }
    }

  /** Per-layout reader kit, cached for the STREAM's life: the pinned
    * schema, pushed filters, and session conf never change mid-stream,
    * so the Hadoop conf build, its SparkContext broadcast, and the
    * parquet reader factory are built once per partition-layout keyset
    * — not once per slice per micro-batch (broadcast churn at a 1 s
    * trigger cadence). Keyed (captured?, partition keyset): a
    * change-feed batch may mix captured-feed slices (whose
    * `_change_type` is file bytes) with insert-commit slices (whose
    * `_change_type` is a constant). */
  private val sliceKitCache = scala.collection.concurrent.TrieMap
    .empty[(Boolean, Set[String]), TxSliceReaders]

  override def initialOffset(): Offset =
    TxVersionOffset(startingVersion - 1L)

  override def deserializeOffset(json: String): Offset =
    TxVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit = defaultLimit

  override def prepareForTriggerAvailableNow(): Unit = {
    val v = TxLog.latestVersionFrom(fs, root, lastSeen)
    if (v >= 0) lastSeen = v
    availableNowTarget = Some(v)
  }

  override def reportLatestOffset(): Offset = {
    val v = TxLog.latestVersionFrom(fs, root, lastSeen)
    if (v >= 0) { lastSeen = v; TxVersionOffset(v) } else null
  }

  /** MicroBatchStream's unlimited face — routed through the limited one
    * so the pacing rules live in one place. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[TxVersionOffset].version
    val probed = TxLog.latestVersionFrom(fs, root, lastSeen)
    if (probed >= 0) lastSeen = probed
    val target = availableNowTarget.fold(probed)(math.min(probed, _))
    if (target <= from) return start
    val versionCapped = maxVersionsPerTrigger match {
      case Some(n) => math.min(target, from + n)
      case None => target
    }
    TxVersionOffset(admit(from, versionCapped, limit))
  }

  /** Walk `(from, hi]` admitting whole versions under `limit` — file /
    * row / byte budgets accumulated from the commits' own Add entries
    * (log metadata only). Always admits at least one version past
    * `from`: a single commit larger than the budget must still flow, or
    * the stream wedges (FileStreamSource's rule). */
  private def admit(from: Long, hi: Long, limit: ReadLimit): Long = {
    def caps(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(caps)
      case _: ReadAllAvailable => Nil
      case other => Seq(other)
    }
    val active = caps(limit)
    if (active.isEmpty) return hi
    var files = 0L; var rows = 0L; var bytes = 0L
    var admitted = from
    var v = from + 1
    var full = false
    while (v <= hi && !full) {
      val entries = commitEntriesCached(v)
      val adds = entries.flatMap(_.add)
      files += adds.size
      rows += adds.map(_.rows).sum
      bytes += adds.flatMap(_.bytes).sum
      if (readChangeFeed) { // feed batches read captured files too
        val cdfs = entries.flatMap(_.cdf)
        files += cdfs.size
        rows += cdfs.map(_.rows).sum
        bytes += cdfs.flatMap(_.bytes).sum
      }
      val over = active.exists {
        case f: ReadMaxFiles => files > f.maxFiles
        case r: ReadMaxRows => rows > r.maxRows
        case b: ReadMaxBytes => bytes > b.maxBytes
        case _ => false
      }
      if (over && admitted > from) full = true
      else { admitted = v; v += 1; if (over) full = true }
    }
    admitted
  }

  // ---- batch planning: versions (start, end] as FilePartitions ----

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[TxVersionOffset].version + 1
    val to = end.asInstanceOf[TxVersionOffset].version
    if (to >= lastSeen) lastSeen = math.max(lastSeen, to)
    if (from > to) return Array.empty
    if (readChangeFeed) planCdfPartitions(from, to)
    else planAppendPartitions(from, to)
  }

  /** One slice's plan inputs: which files (root-relative path, size if
    * the log knows it, constant partition-style values), read under
    * which PHYSICAL data schema. `key` caches the executor kit
    * (captured?, partition keyset); `readLogical` carries the data
    * fields' logical names so the pinned `required` order restores
    * positionally. */
  private case class SliceFiles(
      key: (Boolean, Set[String]),
      readData: StructType, fileSchema: StructType,
      readLogical: Seq[String], partFields: Seq[StructField],
      filters: Array[sources.Filter],
      files: Seq[(String, Option[Long], Map[String, String])])

  private def buildSlices(slices: Seq[SliceFiles])
      : Array[InputPartition] = {
    val sqlConf = spark.sessionState.conf
    val baseConf = spark.sessionState.newHadoopConf()
    // Split size follows FileSourceScanExec's law — min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes / parallelism)) — NOT a flat
    // maxPartitionBytes: a flat 128 MB split planned a whole 100+ MB
    // micro-batch as ONE task instead of fanning the files across every
    // core (a 1.8× sf10 gap, BASELINE.md). File lengths come from the
    // log's Add/Cdf bytes; only legacy entries without them pay one fs
    // stat.
    val resolved: Seq[(SliceFiles, Seq[(Path, Long, Map[String, String])])] =
      slices.map { sl =>
        sl -> sl.files.map { case (rel, bytesOpt, pv) =>
          val qualified = fs.makeQualified(new Path(root, rel))
          (qualified,
            bytesOpt.getOrElse(fs.getFileStatus(qualified).getLen), pv)
        }
      }
    val openCost = sqlConf.filesOpenCostInBytes
    val parallelism = sqlConf.filesMinPartitionNum.getOrElse(
      sqlConf.getConf(org.apache.spark.sql.internal.SQLConf
        .LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val totalBytes = resolved.iterator.flatMap(_._2)
      .map(_._2 + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, parallelism)
    val maxSplit = math.min(sqlConf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val descs = Vector.newBuilder[TxSliceReaders]
    val partitions = Vector.newBuilder[InputPartition]
    resolved.zipWithIndex.foreach { case ((sl, slFiles), i) =>
      val kit = sliceKitCache.getOrElseUpdate(sl.key, {
      val readDataSchema = sl.readData
      val partitionSchema = StructType(sl.partFields.toArray)
      // reader output order is data-then-partition; restore the pinned
      // (required) order positionally
      val outOrder: Array[Int] = {
        val pos = (sl.readLogical ++ sl.partFields.map(_.name))
          .zipWithIndex.toMap
        required.fields.map(f => pos(f.name))
      }
      // the requested-schema keys ParquetScan bakes into its broadcast
      // conf — per LAYOUT (each layout reads its own projection),
      // cached for the stream's life via sliceKitCache above
      val conf = new org.apache.hadoop.conf.Configuration(baseConf)
      conf.set(
        org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[org.apache.spark.sql.execution.datasources.parquet
          .ParquetReadSupport].getName)
      conf.set(org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
        readDataSchema.json)
      org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport.setSchema(readDataSchema, conf)
      conf.set(org.apache.spark.sql.internal.SQLConf
        .SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .NESTED_SCHEMA_PRUNING_ENABLED.key,
        sqlConf.nestedSchemaPruningEnabled)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .PARQUET_INT96_AS_TIMESTAMP.key,
        sqlConf.isParquetINT96AsTimestamp)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
        sqlConf.parquetInferTimestampNTZEnabled)
      conf.setBoolean(org.apache.spark.sql.internal.SQLConf
        .LEGACY_PARQUET_NANOS_AS_LONG.key,
        sqlConf.legacyParquetNanosAsLong)
      val broadcastConf: Broadcast[SerializableConfiguration] =
        spark.sparkContext.broadcast(new SerializableConfiguration(conf))
      val factory = ParquetPartitionReaderFactory(
        sqlConf, broadcastConf,
        dataSchema = sl.fileSchema,
        readDataSchema = readDataSchema,
        partitionSchema = partitionSchema,
        filters = sl.filters,
        aggregation = None,
        options = new ParquetOptions(
          Map.empty[String, String], sqlConf))
      TxSliceReaders(factory,
        (readDataSchema.fields ++ partitionSchema.fields).map(_.dataType),
        outOrder)
      })
      descs += kit
      val pfs = slFiles.flatMap { case (qualified, len, pv) =>
        val tuple = TxMicroBatchStream.partitionTuple(
          spark, sl.partFields.toIndexedSeq, pv)
        (0L until len by maxSplit).map { off =>
          new PartitionedFile(tuple,
            org.apache.spark.paths.SparkPath.fromPath(qualified),
            off, math.min(maxSplit, len - off), Array.empty[String],
            0L, len, Map.empty)
        }
      }
      FilePartition.getFilePartitions(
        spark, pfs.sortBy(-_.length).toIndexedSeq, maxSplit).foreach { fp =>
        partitions += TxStreamInputPartition(i, fp)
      }
    }
    sliceReaders = descs.result().toArray
    partitions.result().toArray
  }

  private def planAppendPartitions(from: Long, to: Long)
      : Array[InputPartition] = {
    // one slice per (partition-layout keyset) across the range: files
    // from different layouts (partition evolution mid-stream) read
    // under their OWN directory-value columns
    val adds = (from to to).flatMap { v =>
      val entries = commitEntriesCached(v)
      val removed = entries.flatMap(_.remove)
      val op = entries.flatMap(_.info).headOption.map(_.op).getOrElse("?")
      val pureRewrite = TxMicroBatchStream.pureRewriteOps(op)
      if (removed.nonEmpty && !pureRewrite && !ignoreChanges)
        sys.error(s"txlog stream at $root: commit $v ($op) rewrites " +
          "or removes data files — a streaming read of a non-append " +
          "table diverges silently. Use ignoreChanges=true to accept " +
          "re-emitted rows (at-least-once for touched files), or " +
          "stream the change feed (option(\"readChangeFeed\", true)) " +
          "instead.")
      if (pureRewrite) Nil else entries.flatMap(_.add)
    }
    adds.find(_.hasDv).foreach(a => sys.error(
      s"txlog stream at $root: ${a.path} carries a deletion vector — " +
        "its physical rows are not all live. Stream the change feed " +
        "(option(\"readChangeFeed\", true)) instead."))
    if (adds.isEmpty) return Array.empty
    val physFilters = pushed.flatMap(
      TxMicroBatchStream.renameFilter(_, n => pinned.physicalOf(n)))
    val slices = adds.groupBy(_.partitionValues.keySet).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pset, sliceAdds) =>
        SliceFiles(
          key = (false, pset),
          readData = StructType(required.fields
            .filterNot(f => pset.contains(f.name))
            .map(f => f.copy(name = pinned.physicalOf(f.name),
              nullable = true))),
          fileSchema = StructType(pinned.schema.fields
            .filterNot(f => pset.contains(f.name))
            .map(f => f.copy(name = pinned.physicalOf(f.name),
              nullable = true))),
          readLogical = required.fields.toSeq
            .filterNot(f => pset.contains(f.name)).map(_.name),
          partFields = required.fields.toSeq
            .filter(f => pset.contains(f.name))
            .map(_.copy(nullable = true)),
          filters = physFilters,
          files = sliceAdds.map(a =>
            (a.path, a.bytes, a.partitionValues)))
      }
    buildSlices(slices)
  }

  /** Change-feed micro-batches as FILE reads (no relational diff, no
    * driver row work): a CDF-enabled table CAPTURES its row-level
    * changes at commit time, so each version in the batch is either
    * captured `_change_data` parquet (whose `_change_type` column is
    * file bytes), a plain insert-only commit (its Add files with
    * `_change_type = 'insert'` filled like a partition value), or a
    * pure rewrite (no logical change — skipped). `_commit_version` is
    * a per-file partition-style constant in both shapes, and `_row_id`
    * (withRowIds) a physical column of both. A row-changing commit
    * from BEFORE feed enablement has no captured data and refuses. */
  private def planCdfPartitions(from: Long, to: Long)
      : Array[InputPartition] = {
    val wantType = required.fieldNames.contains("_change_type")
    val wantVer = required.fieldNames.contains("_commit_version")
    val wantId = withRowIds && required.fieldNames.contains("_row_id")
    val tableReq = required.fields.toSeq.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version" ||
        (withRowIds && f.name == "_row_id"))
    // `_row_id` is a physical column of captured and data files alike
    val rowId = StructField("_row_id", LongType, nullable = true)
    val idRead = if (wantId) Seq(rowId) else Nil
    val idFile = if (withRowIds) Seq(rowId) else Nil
    val idLogical = if (wantId) Seq("_row_id") else Nil
    val capturedFiles =
      Vector.newBuilder[(String, Option[Long], Map[String, String])]
    val insertAdds = Vector.newBuilder[(Add, Long)]
    (from to to).foreach { v =>
      val entries = commitEntriesCached(v)
      val info = entries.flatMap(_.info).headOption
      val op = info.map(_.op).getOrElse("?")
      val captured = info.exists(_.cdfCaptured.contains(true))
      val cdfs = entries.flatMap(_.cdf)
      val adds = entries.flatMap(_.add)
      val removes = entries.flatMap(_.remove)
      if (captured) {
        // marked with zero files = pure rewrite: no logical change.
        // Size comes from the Cdf action (recorded at capture) — no
        // per-file driver fs probe per micro-batch; a vacuumed file
        // fails AT READ with the executor's file-missing error (legacy
        // Cdf entries without bytes fall back to one getFileStatus in
        // buildSlices, which throws the same way).
        cdfs.foreach { c =>
          capturedFiles += ((c.path, c.bytes,
            Map("_commit_version" -> v.toString)))
        }
      } else if (TxMicroBatchStream.pureRewriteOps(op)) ()
      else if (removes.nonEmpty)
        sys.error(s"txlog change-feed stream at $root: commit $v " +
          s"($op) changed rows before the feed was enabled, so no " +
          "change data was captured — start the stream at or after " +
          "the enablement version")
      else adds.foreach(a => insertAdds += ((a, v)))
    }
    val feedConsts: Seq[StructField] =
      (if (wantType) Seq(StructField("_change_type", StringType,
        nullable = true)) else Nil) ++
        (if (wantVer) Seq(StructField("_commit_version", LongType,
          nullable = true))
        else Nil)
    val capturedList = capturedFiles.result()
    val capturedSlice =
      if (capturedList.isEmpty) Nil
      else Seq(SliceFiles(
        key = (true, Set.empty),
        // captured files store EVERY column as data (physical names),
        // partition columns included, plus _change_type
        readData = StructType(tableReq
          .map(f => f.copy(name = pinned.physicalOf(f.name),
            nullable = true)) ++ idRead ++
          (if (wantType) Seq(StructField("_change_type", StringType,
            nullable = true)) else Nil)),
        fileSchema = StructType(pinned.schema.fields
          .map(f => f.copy(name = pinned.physicalOf(f.name),
            nullable = true)) ++ idFile :+
          StructField("_change_type", StringType, nullable = true)),
        readLogical = tableReq.map(_.name) ++ idLogical ++
          (if (wantType) Seq("_change_type") else Nil),
        partFields = if (wantVer)
          Seq(StructField("_commit_version", LongType, nullable = true))
        else Nil,
        filters = Array.empty,
        files = capturedList))
    val insertSlices = insertAdds.result()
      .groupBy(_._1.partitionValues.keySet).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pset, pairs) =>
        SliceFiles(
          key = (false, pset),
          readData = StructType(tableReq
            .filterNot(f => pset.contains(f.name))
            .map(f => f.copy(name = pinned.physicalOf(f.name),
              nullable = true)) ++ idRead),
          fileSchema = StructType(pinned.schema.fields
            .filterNot(f => pset.contains(f.name))
            .map(f => f.copy(name = pinned.physicalOf(f.name),
              nullable = true)) ++ idFile),
          readLogical = tableReq
            .filterNot(f => pset.contains(f.name)).map(_.name) ++ idLogical,
          partFields = tableReq.filter(f => pset.contains(f.name))
            .map(_.copy(nullable = true)) ++ feedConsts,
          filters = Array.empty,
          files = pairs.map { case (a, v) =>
            (a.path, a.bytes, a.partitionValues +
              ("_change_type" -> "insert") +
              ("_commit_version" -> v.toString))
          })
      }
    if (capturedSlice.isEmpty && insertSlices.isEmpty) Array.empty
    else buildSlices(capturedSlice ++ insertSlices)
  }

  // handed to createReaderFactory right after planInputPartitions (the
  // contract: plan then createReaderFactory, per batch)
  @volatile private var sliceReaders: Array[TxSliceReaders] = Array.empty

  override def createReaderFactory(): PartitionReaderFactory =
    new TxStreamReaderFactory(sliceReaders)

  override def toString: String = s"TxMicroBatchStream[$rootStr]"
}

object TxMicroBatchStream {

  /** Operations whose commits move bytes but change no logical row —
    * skipped by the stream like Delta's dataChange=false adds. */
  private[lake] val pureRewriteOps: Set[String] =
    Set("OPTIMIZE", "REPARTITION_REWRITE", "ADD_BLOOM_INDEX")

  /** A partition tuple's directory values as an InternalRow under
    * `partFields` — decoded with Catalyst's own Cast, null for
    * missing / default-partition keys (the [[TxFileIndex]] rule). */
  private[lake] def partitionTuple(spark: SparkSession,
      partFields: Seq[StructField],
      pv: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partFields.map { f =>
      pv.get(f.name).filterNot(_ == "__HIVE_DEFAULT_PARTITION__") match {
        case Some(v) =>
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(v),
              org.apache.spark.sql.types.StringType),
            f.dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
        case None => null
      }
    })

  /** `sources.Filter` with attribute names rewritten (logical →
    * physical) — only shapes that translate exactly; anything else is
    * dropped rather than mispushed (row-group pruning is an
    * optimization, the stream's own semantics never depend on it). */
  private[lake] def renameFilter(f: sources.Filter,
      phys: String => String): Option[sources.Filter] = f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
    case sources.EqualNullSafe(a, v) =>
      Some(sources.EqualNullSafe(phys(a), v))
    case sources.GreaterThan(a, v) =>
      Some(sources.GreaterThan(phys(a), v))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(sources.GreaterThanOrEqual(phys(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
    case sources.LessThanOrEqual(a, v) =>
      Some(sources.LessThanOrEqual(phys(a), v))
    case sources.In(a, vs) => Some(sources.In(phys(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(phys(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(phys(a)))
    case sources.StringStartsWith(a, v) =>
      Some(sources.StringStartsWith(phys(a), v))
    case sources.StringEndsWith(a, v) =>
      Some(sources.StringEndsWith(phys(a), v))
    case sources.StringContains(a, v) =>
      Some(sources.StringContains(phys(a), v))
    case sources.And(l, r) => for {
      lf <- renameFilter(l, phys); rf <- renameFilter(r, phys)
    } yield sources.And(lf, rf)
    case sources.Or(l, r) => for {
      lf <- renameFilter(l, phys); rf <- renameFilter(r, phys)
    } yield sources.Or(lf, rf)
    case sources.Not(c) => renameFilter(c, phys).map(sources.Not)
    case _ => None
  }
}

/** One partition-layout slice's executor kit: the delegate parquet
  * reader factory plus the positional projection restoring the pinned
  * column order (reader output is data-then-partition). */
final case class TxSliceReaders(
    factory: ParquetPartitionReaderFactory,
    readerTypes: Array[DataType],
    outOrder: Array[Int]) extends Serializable

final case class TxStreamInputPartition(sliceIdx: Int,
    filePartition: FilePartition) extends InputPartition {
  override def preferredLocations(): Array[String] =
    filePartition.preferredLocations()
}

final class TxStreamReaderFactory(slices: Array[TxSliceReaders])
    extends PartitionReaderFactory {

  /** A planned file that is gone by read time was vacuumed after the
    * offset range was claimed (the planner works from log metadata
    * alone — no per-file existence probe). Rethrow with the hint the
    * old plan-time probe used to give. */
  private def vacuumHint[A](p: TxStreamInputPartition)(body: => A): A =
    try body
    catch {
      case e: java.io.FileNotFoundException =>
        throw new java.io.FileNotFoundException(
          s"${e.getMessage} — a file this micro-batch planned " +
            "(from the log's own metadata) no longer exists: it was " +
            "vacuumed after the offset range was claimed; restart " +
            "the stream from a fresh (or later) starting version")
    }

  /** COLUMNAR reads (the sf10 lesson: the row-based delegate read a
    * plain backlog 1.47× slower than a columnar scan): hand Spark the
    * parquet factory's own vectorized ColumnarBatch reader and let
    * ColumnarToRow consume it codegen-side. A slice whose reader
    * output order differs from the pinned order (a partition column
    * not at the schema tail, a mid-history partition-spec change)
    * stays columnar too: the wrapper re-orders the batch's
    * ColumnVector REFERENCES — a per-batch pointer permutation, zero
    * data movement — so renamed/evolved layouts never fall back to
    * the row-by-row projection. Gated on ALL slices' factories
    * agreeing (Spark requires a scan's partitions to be homogeneously
    * columnar or row-based — "Cannot mix row-based and columnar input
    * partitions" — and a multi-slice batch spanning a schema change
    * can flip one slice's vectorization support: field-count limit,
    * nested type), in which case the whole batch degrades to
    * row-based instead of failing planning. */
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = partition.asInstanceOf[TxStreamInputPartition]
    slices.forall(_.factory.supportColumnarReads(p.filePartition))
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[TxStreamInputPartition]
    val slice = slices(p.sliceIdx)
    val inner = vacuumHint(p)(
      slice.factory.createColumnarReader(p.filePartition))
    if (slice.outOrder.zipWithIndex.forall { case (o, i) => o == i })
      new PartitionReader[
          org.apache.spark.sql.vectorized.ColumnarBatch] {
        override def next(): Boolean = vacuumHint(p)(inner.next())
        override def get()
            : org.apache.spark.sql.vectorized.ColumnarBatch = inner.get()
        override def close(): Unit = inner.close()
      }
    else new PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = vacuumHint(p)(inner.next())
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = inner.get()
        // output column j IS input column outOrder(j): permute the
        // vector references into pinned order (vectors stay owned by
        // the inner reader — its close() frees them)
        val cols = Array.tabulate[
            org.apache.spark.sql.vectorized.ColumnVector](
          slice.outOrder.length)(j => b.column(slice.outOrder(j)))
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          cols, b.numRows())
      }
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxStreamInputPartition]
    val slice = slices(p.sliceIdx)
    // the parquet footer is read at creation, so a vacuumed file
    // surfaces HERE — the row-by-row next() stays unwrapped
    val inner = vacuumHint(p)(slice.factory.createReader(p.filePartition))
    if (slice.outOrder.zipWithIndex.forall { case (o, i) => o == i })
      inner
    else new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        slice.outOrder.toIndexedSeq.map(i =>
          BoundReference(i, slice.readerTypes(i), nullable = true)))
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }
}
