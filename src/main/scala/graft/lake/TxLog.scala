package graft.lake

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** Minimal ACID transaction log for parquet tables — the "Delta-style
  * table format" the reference gets from the delta-spark package
  * (reference `spark/conf/spark-defaults.conf:14`,
  * `etl/utils/base_table.py:211-217`) and this sandbox has no jar for,
  * re-built from the PUBLIC Delta transaction-log design (delta-io
  * PROTOCOL.md): a table is a directory of immutable parquet data files
  * plus an ordered log of JSON commits under `_txlog/`; the state of the
  * table at version v is the replay of commits 0..v (add/remove file
  * actions + table metadata). Writers never mutate data files — every
  * write lands new files and commits a new log entry, so readers are
  * snapshot-isolated for free and old versions stay readable (time
  * travel).
  *
  * Concurrency: a commit is published by ATOMICALLY claiming the next
  * version's file name through the per-scheme [[LogStore]] claim —
  * hard link on local filesystems, no-overwrite rename on HDFS-like
  * stores, a registered conditional-PUT/coordinator claim on object
  * stores (whose rename is NOT atomic), and a loud refusal on a scheme
  * with none of the three. Exactly one writer wins a version; losers
  * re-read the new snapshot and retry (optimistic concurrency, Delta's
  * model).
  *
  * Scale posture: snapshot resolution is NOT O(history) — every
  * [[TxLog.checkpointInterval]] commits a checkpoint file captures the
  * full replayed state and `_last_checkpoint` points at it, so a read
  * replays one checkpoint + at most `checkpointInterval` tail commits
  * regardless of table age. Per-file column min/max stats ride on each
  * add action, giving O(files) data skipping without opening a single
  * parquet footer.
  */
object TxLog {

  /** One typed column statistic, string-encoded with a kind tag so the
    * JSON stays schema-free: kind "l" (integral), "d" (floating), "s"
    * (string). Used for file skipping — see [[TxSkipping]].
    * `hll` (base64 compact DataSketches HLL, small lgK) rides on
    * STRING columns only: per-file sketches UNION exactly, so
    * [[graft.lake.catalog]]'s `estimateStatistics` can hand CBO a real
    * distinct-count for string join keys — the span bound integer keys
    * get has no string analogue. Absent on legacy adds (same evolution
    * path as `nulls`: no sketch on every live file → no estimate). */
  final case class Stat(kind: String, min: String, max: String,
      nulls: Option[Long] = None, hll: Option[String] = None)

  /** `constraints` are SQL CHECK expressions every written row must
    * satisfy (NULL passes, like SQL CHECK); absent in pre-constraint
    * logs, so the field is optional. `cdfEnabled` is Delta's
    * `delta.enableChangeDataFeed` table property: when set, mutating
    * commits STAGE their changed rows as `_change_data` files at commit
    * time, so reading the feed is O(changed rows) instead of a re-read +
    * diff of every touched data file. Off by default — tables nobody
    * reads a feed from must not pay the capture write. */
  /** `columnMapping` is Delta's column-mapping design in miniature:
    * LOGICAL name (what the schema and every API shows) → PHYSICAL name
    * (what the parquet files store, fixed forever at the column's first
    * write). RENAME COLUMN then only rewrites this map + the schema —
    * a metadata commit, zero data files touched — and reads at ANY
    * version resolve through their own version's mapping. Columns
    * absent from the map are identity-mapped. */
  /** `retiredPhysical` lists parquet column names orphaned by DROP
    * COLUMN: existing files still carry their bytes, so a later re-add
    * of the same LOGICAL name must map to a FRESH physical name — a
    * re-add that reused the retired name would silently resurrect the
    * dropped column's old values into the new column on every pre-drop
    * file. */
  /** `readerFeatures` is Delta's table-features protocol in miniature:
    * the first commit that makes a table depend on read-side behavior a
    * naive scan would get WRONG (skipping deletion-vectored rows,
    * resolving logical→physical column names) stamps the feature name
    * here, and [[snapshot]] REFUSES any table whose stamped features
    * this client does not implement — a loud version-skew error instead
    * of resurrected deleted rows or misread columns on a mixed-version
    * fleet. Write-side-only machinery (CDF staging, bloom sidecars,
    * stats) is deliberately NOT stamped: a reader ignoring it still
    * answers correctly, Delta's writer-feature distinction. */
  /** `writerFeatures` is the WRITE-SIDE half of the table-features
    * protocol (Delta splits reader/writer features for exactly this):
    * the first commit that makes correct WRITING depend on behavior a
    * naive writer would break — enforcing CHECK constraints, computing
    * generated columns, preserving deletion vectors through rewrites,
    * writing physical column names, staging change data on mutation —
    * stamps the feature name here, and every [[TxTable]] mutating path
    * REFUSES a stamped feature this client does not implement. Reading
    * never consults it: an old reader of a constraint-bearing table is
    * fine; an old WRITER would silently break the invariant. */
  final case class Meta(schemaJson: String, partitionCols: List[String],
      constraints: Option[List[String]] = None,
      cdfEnabled: Option[Boolean] = None,
      columnMapping: Option[Map[String, String]] = None,
      retiredPhysical: Option[List[String]] = None,
      bloomIndex: Option[Map[String, Double]] = None,
      readerFeatures: Option[List[String]] = None,
      generatedColumns: Option[Map[String, String]] = None,
      writerFeatures: Option[List[String]] = None,
      rowTracking: Option[Boolean] = None,
      rowIdWatermark: Option[Long] = None,
      identityColumns: Option[Map[String, Long]] = None,
      defaultValues: Option[Map[String, String]] = None,
      clusteringColumns: Option[List[String]] = None,
      notNullCols: Option[List[String]] = None,
      configuration: Option[Map[String, String]] = None) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** TABLE PROPERTIES (Delta's `Metadata.configuration`): free-form
      * key→value pairs persisted in the log, time-travel visible like
      * any other metadata. Keys under the `txlog.` prefix carry
      * engine semantics ([[TxTable.setTblProperties]] validates them);
      * anything else is user metadata (comments, owners, pipeline
      * tags) stored verbatim. */
    def config: Map[String, String] = configuration.getOrElse(Map.empty)
    /** `txlog.appendOnly = true` (Delta's `delta.appendOnly`): the
      * table refuses every row-removing mutation — DELETE, UPDATE,
      * MERGE, overwrite, RESTORE. File-preserving maintenance
      * (OPTIMIZE / CLUSTER / auto-compaction) stays allowed. */
    def appendOnly: Boolean =
      config.get(TxLog.propAppendOnly).exists(_.trim.toBoolean)
    def checkExprs: List[String] = constraints.getOrElse(Nil)
    /** Columns under a NOT NULL constraint (Delta's column invariant —
      * CHECK cannot express it, SQL's CHECK rule passes NULL). */
    def requiredCols: List[String] = notNullCols.getOrElse(Nil)
    def cdf: Boolean = cdfEnabled.getOrElse(false)
    def features: List[String] = readerFeatures.getOrElse(Nil)
    def writerFeats: List[String] = writerFeatures.getOrElse(Nil)
    /** This meta plus one required reader feature (idempotent). */
    def withReaderFeature(f: String): Meta =
      if (features.contains(f)) this
      else copy(readerFeatures = Some((features :+ f).sorted))
    /** This meta plus one required writer feature (idempotent). */
    def withWriterFeature(f: String): Meta =
      if (writerFeats.contains(f)) this
      else copy(writerFeatures = Some((writerFeats :+ f).sorted))
    /** GENERATED ALWAYS AS columns: logical name → SQL expression over
      * the row's other columns, fixed at CREATE. Ingest paths compute
      * an absent generated column and VALIDATE a present one; columns
      * a generated expression reads (or the generated column itself)
      * refuse UPDATE/RENAME/DROP — the invariant can never silently
      * break. Stored physically like Delta's, so partitioning by a
      * generated column gives ordinary partition pruning. */
    def generated: Map[String, String] = generatedColumns.getOrElse(Map.empty)
    /** The parquet-file column name behind a logical schema name. */
    def physicalOf(logical: String): String =
      columnMapping.flatMap(_.get(logical)).getOrElse(logical)
    def retired: List[String] = retiredPhysical.getOrElse(Nil)
    /** LOGICAL column name → target false-positive rate of its per-file
      * bloom index ([[graft.lake.TxTable.addBloomIndex]]). */
    def bloomCols: Map[String, Double] = bloomIndex.getOrElse(Map.empty)
    /** ROW TRACKING (Delta's row tracking, materialized-column form):
      * when on, every ingested row carries a physical `_row_id` column
      * — allocated monotonically from [[rowIdWatermark]], PRESERVED
      * verbatim through every rewrite (UPDATE, OPTIMIZE, survivors of
      * DELETE/MERGE) — so a row's identity survives file churn without
      * key assumptions. The column is not part of the logical schema
      * (plain reads never see it; [[graft.lake.TxTable.readWithRowIds]]
      * exposes it) and per-file min/max stats ride on it like any data
      * column, so row-id point lookups prune. */
    def tracksRows: Boolean = rowTracking.getOrElse(false)
    /** The next unallocated row id (ids below it are spoken for;
      * allocation may leave gaps — only uniqueness and stability are
      * promised, Delta's contract too). */
    def nextRowId: Long = rowIdWatermark.getOrElse(0L)
    /** IDENTITY columns (Delta's GENERATED ALWAYS AS IDENTITY, start 1
      * step 1): logical column name → next unallocated value. Ingest
      * paths ALLOCATE the column when absent (monotonic from the
      * watermark, gaps allowed — Delta's contract) and REFUSE an
      * explicitly supplied value; the watermark bumps past each write's
      * own staged max, riding the same stats the skipping scan uses. */
    def identities: Map[String, Long] = identityColumns.getOrElse(Map.empty)
    /** DEFAULT values: logical column name → SQL expression, fixed at
      * CREATE. An ingest frame LACKING the column gets the expression
      * (cast to the column's type) instead of the null that plain
      * schema alignment would write; a frame carrying the column keeps
      * its explicit values (SQL DEFAULT semantics). */
    def defaults: Map[String, String] = defaultValues.getOrElse(Map.empty)
    /** CLUSTER BY columns (Delta's liquid-clustering shape): fixed at
      * CREATE; [[graft.lake.TxTable.optimize]] re-clusters every live
      * file along their N-way Morton curve, so min/max file skipping
      * prunes on EVERY clustered dimension. Best-effort between
      * OPTIMIZE runs — appends land as written (no writer gate: an
      * unclustered file is slower to prune, never wrong). */
    def clusterCols: List[String] = clusteringColumns.getOrElse(Nil)
  }
  /** `path` is relative to the table root; data files are immutable.
    * `rows` counts LIVE rows (physical rows minus the deletion vector).
    *
    * The merge-on-read DELETION VECTOR — physical row positions
    * (`_metadata.row_index`) readers must skip, so a small delete costs
    * a log entry instead of a file rewrite ([[TxTable
    * .deleteWhereMergeOnRead]]) — lives in a COMPACT BINARY SIDECAR
    * (Delta's RoaringBitmap-sidecar design on varint terms): `dvFile`
    * points at a `_dv/<uuid>.bin` of delta-varint-encoded sorted
    * positions and `dvCount` carries its cardinality, so the log entry
    * stays O(1) per vectored file however many positions the vector
    * holds — every replay and checkpoint re-serializes a path + a
    * count, never the positions. The legacy inline `dv` list is still
    * READ (pre-sidecar logs/checkpoints resolve unchanged) but no
    * longer written. `stats` stay as written — a superset range is
    * still a correct skipping bound.
    */
  /** `bloom` maps PHYSICAL column name → `_bloom/<uuid>.bin` sidecar (a
    * serialized `org.apache.spark.util.sketch.BloomFilter` over
    * `xxhash64` of the file's values): point lookups consult it to skip
    * files min/max stats cannot exclude — the needle-in-100-TB read.
    * Absent entries mean "no index for this file" and are always
    * conservative (file kept). */
  /** `bytes` records the file's on-disk size at write time
    * (`_metadata.file_size`), so plan-time listing
    * ([[graft.lake.TxFileIndex]]) needs zero filesystem RPCs; absent on
    * legacy entries, which fall back to one `getFileStatus` each. */
  final case class Add(path: String, rows: Long,
      partitionValues: Map[String, String], stats: Map[String, Stat],
      dv: Option[List[Long]] = None, dvFile: Option[String] = None,
      dvCount: Option[Long] = None,
      bloom: Option[Map[String, String]] = None,
      bytes: Option[Long] = None,
      zcube: Option[String] = None) {
    /** Inline positions only — sidecar vectors resolve through
      * [[TxTable]]'s fs-aware decode. */
    def dvPositions: List[Long] = dv.getOrElse(Nil)
    def hasDv: Boolean = dvFile.isDefined || dv.exists(_.nonEmpty)
    /** Vector cardinality without decoding the sidecar. */
    def dvSize: Long = dvCount.orElse(dv.map(_.size.toLong)).getOrElse(0L)
  }

  /** Unsigned-LEB128 delta encoding of sorted positions: count, first
    * position, then gaps — 1-2 bytes per position for the clustered
    * vectors real deletes produce (vs ~8+ JSON chars inline). */
  def encodeDv(sorted: Seq[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(sorted.size * 2 + 8)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt)
    }
    varint(sorted.size.toLong)
    var prev = 0L
    sorted.foreach { p => varint(p - prev); prev = p }
    bos.toByteArray
  }

  def decodeDv(bytes: Array[Byte]): Seq[Long] = {
    var i = 0
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({ val b = bytes(i); i += 1; v |= (b & 0x7fL) << shift
               shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    val n = varint()
    var prev = 0L
    (0L until n).map { _ => prev += varint(); prev }
  }
  /** `rows`/`bytes` echo the removed Add's stats so the per-commit
    * checksum ([[Crc]]) stays derivable from a commit's own entries;
    * absent on legacy entries (the chain re-seeds at the next
    * checkpoint). */
  final case class Remove(path: String, rows: Option[Long] = None,
      bytes: Option[Long] = None)
  /** One commit-time change-data file (Delta's `cdc` action): `path` is
    * a parquet file under `_change_data/<uuid>/` (flat, no partition
    * dirs) holding the commit's changed rows, table columns under their
    * PHYSICAL names + `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage'). The DML's own staging
    * write lands it in the same Spark action as the commit's data files
    * ([[StageWrite.stageWithCapture]]), with `rows`/`bytes` reported by
    * the writing task; a file is only ever opened for a row, so no Cdf
    * action has zero rows. These files are NOT part of the live table
    * state — only [[TxTable.readChanges]] reads them. */
  final case class Cdf(path: String, rows: Long,
      bytes: Option[Long] = None)
  /** Commit provenance: operation name + the snapshot version the writer
    * based its work on (−1 = blind append, conflicts impossible).
    * `cdfCaptured = Some(true)` marks a commit whose row-level changes
    * were captured at commit time — possibly as ZERO Cdf files (a pure
    * rewrite like OPTIMIZE changes nothing); absent on pre-capture
    * commits, whose feed falls back to the file-diff recompute. */
  /** `tsMillis` is the IN-COMMIT timestamp (Delta's inCommitTimestamps):
    * stamped by [[tryCommit]] as max(wall-clock, previous commit's
    * stamp + 1), so the sequence is strictly monotonic even under clock
    * skew or same-millisecond commits — the property TIMESTAMP AS OF
    * resolution ([[graft.lake.TxTable.versionAtTimestamp]]) needs.
    * File modification times (Delta's legacy source) are not used: they
    * change under copies/restores. */
  /** `metrics` (Delta's operationMetrics): per-commit operation
    * totals, stamped by [[tryCommit]] from the commit's own entries —
    * `numAddedFiles`/`numRemovedFiles`/`numOutputRows` (sum of added
    * files' LIVE rows)/`numAddedBytes`/`numCdfFiles`/`numCdfRows`.
    * Derived, not caller-supplied, so every path reports consistently;
    * absent on pre-metrics commits (history shows null). File counts
    * depend on write parallelism; row/byte sums are layout-invariant.
    */
  final case class Info(op: String, readVersion: Long,
      cdfCaptured: Option[Boolean] = None,
      tsMillis: Option[Long] = None,
      metrics: Option[Map[String, Long]] = None)

  /** Writer-transaction watermark (Delta's `txn` action): `appId`
    * identifies an idempotent writer (a streaming query, a retried
    * batch job), `version` its application-level sequence number. A
    * commit carrying (appId, v) is a no-op if the log already holds
    * (appId, ≥v) — exactly-once across driver retries and checkpoint
    * replays, enforced at the LOG, not by sink-layout conventions. */
  final case class Txn(appId: String, version: Long)

  /** One JSON line per action, exactly one field set — the Delta layout
    * (`{"add":{...}}` / `{"remove":{...}}` / `{"metaData":{...}}`). */
  /** A V2-checkpoint SIDECAR reference (Delta PROTOCOL.md "V2
    * Checkpoints"): the manifest checkpoint holds meta/txns plus these
    * pointers; the live file set lives in immutable
    * `_txlog/_sidecars/<uuid>.parquet` files folded in `gen` order
    * (a later generation's add OVERRIDES, its remove TOMBSTONES), so
    * an incremental checkpoint writes one tail-sized sidecar and
    * re-references the rest — checkpoint WRITE bytes ∝ interval churn,
    * not live-set size. */
  final case class Sidecar(path: String, gen: Long)

  final case class LogEntry(meta: Option[Meta] = None, add: Option[Add] = None,
      remove: Option[Remove] = None, info: Option[Info] = None,
      cdf: Option[Cdf] = None, txn: Option[Txn] = None,
      sidecar: Option[Sidecar] = None)

  /** `txns`: highest committed application-level version per writer
    * appId — the idempotence watermark, replayed (and checkpointed)
    * like the live file set. */
  final case class Snapshot(version: Long, meta: Meta, adds: Vector[Add],
      txns: Map[String, Long] = Map.empty)

  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  val checkpointInterval = 10L

  /** Reader features THIS client implements — the refusal set for
    * [[Meta.readerFeatures]]. A future feature name stamped by a newer
    * writer makes every [[snapshot]] here fail loudly. */
  val supportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "typeWidening",
      "v2Checkpoints")

  /** Writer features THIS client implements — the refusal set every
    * [[TxTable]] mutating path checks before committing. Reads never
    * consult this set. */
  val supportedWriterFeatures: Set[String] =
    Set("checkConstraints", "generatedColumns", "deletionVectors",
      "columnMapping", "changeDataFeed", "rowTracking",
      "identityColumns", "defaultValues", "typeWidening",
      "notNullConstraints", "appendOnly")

  /** Engine-semantic table-property keys (the `txlog.` namespace —
    * Delta's `delta.*` convention). Unknown `txlog.*` keys REFUSE at
    * SET time: a typo'd semantic key must not silently become inert
    * user metadata. */
  val propAppendOnly = "txlog.appendOnly"
  /** Table-level vacuum retention default (hours) — the per-table
    * authority Delta keeps in `delta.deletedFileRetentionDuration`.
    * An explicit RETAIN on the command still wins. */
  val propRetentionHours = "txlog.retention.hours"
  /** Table-level auto-compaction switch + thresholds; the session
    * confs ([[TxTable.autoCompactKey]] family) override when set. */
  val propAutoCompact = "txlog.autoCompact"
  val propAutoCompactMinFiles = "txlog.autoCompact.minFiles"
  val propAutoCompactMinRows = "txlog.autoCompact.minRows"
  /** `SET TBLPROPERTIES` route into [[TxTable.enableChangeDataFeed]]
    * (Delta's `delta.enableChangeDataFeed` — the property IS how Delta
    * users turn CDF on): `true` folds `cdfEnabled` into the same
    * metadata commit. Turning it back off via property is refused,
    * like Delta's (a feed consumers already tail must not silently
    * stop). */
  val propEnableCdf = "txlog.enableChangeFeed"
  val semanticProps: Set[String] =
    Set(propAppendOnly, propRetentionHours, propAutoCompact,
      propAutoCompactMinFiles, propAutoCompactMinRows, propEnableCdf)

  /** Entry count at which a checkpoint is written as PARQUET instead of
    * single-string JSON. Below it, the distributed write/read is pure
    * fixed cost (~0.4 s of Spark job per checkpoint measured at toy
    * scale — round-9's one real regression): a few thousand JSON lines
    * through the driver is microseconds. Above it, the JSON string is
    * the driver OOM path and parquet is the only sane format. The read
    * side accepts BOTH formats forever, so the threshold can move
    * without migration. Overridable per session via
    * [[checkpointParquetMinEntriesKey]] (tests force the parquet path
    * with 1; a deployment that wants parquet-always can too). */
  val checkpointParquetMinEntriesDefault = 10000L
  val checkpointParquetMinEntriesKey =
    "spark.graft.lake.checkpointParquetMinEntries"
  private def checkpointParquetMinEntries: Long =
    activeSession.flatMap(_.conf.getOption(checkpointParquetMinEntriesKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(checkpointParquetMinEntriesDefault)

  /** The `_last_checkpoint` pointer: version plus (new format) the
    * checkpoint's entry count — the live-set size, known WITHOUT opening
    * the checkpoint, which the lazy snapshot path uses to decide whether
    * the driver may fold the file list in memory. Legacy files carry the
    * bare version long; both parse. */
  final case class CkptPointer(version: Long, entries: Option[Long] = None)

  /** The `_last_checkpoint` pointer, if readable — public so tests and
    * tooling can pin what the writer published. */
  def readLastCheckpointPublic(fs: FileSystem, root: Path): Option[CkptPointer] =
    readLastCheckpoint(fs, root)

  private[lake] def readLastCheckpoint(fs: FileSystem,
      root: Path): Option[CkptPointer] = {
    val p = lastCheckpointFile(root)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val s = readString(fs, p).trim
      if (s.startsWith("{")) Serialization.read[CkptPointer](s)
      else CkptPointer(s.toLong)
    }.toOption
  }

  private def logDir(root: Path) = new Path(root, "_txlog")
  private def commitFile(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.json")
  /** FULL checkpoints rewrite the whole live set; on a LARGE table the
    * write path throttles them to every `checkpointInterval *`
    * [[fullCheckpointMultiple]] commits and fills the intervals with
    * COMPACTED RANGE files instead ([[writeCompacted]]) — per-interval
    * log bytes become ∝ the interval's churn, not the live-set size
    * (Delta's log-compaction design, PROTOCOL.md "Log Compaction
    * Files"). Small tables (below [[checkpointParquetMinEntries]]) keep
    * the microsecond JSON checkpoint every interval — their "full"
    * state IS tail-sized. */
  val fullCheckpointMultipleDefault = 10L
  val fullCheckpointMultipleKey = "spark.graft.lake.fullCheckpointMultiple"
  private def fullCheckpointMultiple: Long =
    activeSession.flatMap(_.conf.getOption(fullCheckpointMultipleKey))
      .map(_.toLong).getOrElse(fullCheckpointMultipleDefault)

  private def checkpointFile(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.checkpoint.json")

  /** Delta's minor-compaction file name: `{start}.{end}.compacted.json`
    * holding the NET entries of commits start..end. */
  private def compactedFile(root: Path, start: Long, end: Long) =
    new Path(logDir(root), f"$start%020d.$end%020d.compacted.json")
  private def checkpointParquetDir(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.checkpoint.parquet")
  private def lastCheckpointFile(root: Path) =
    new Path(logDir(root), "_last_checkpoint")

  /** V2 (sidecar) checkpoints for the large-table distributed path:
    * the periodic full checkpoint becomes a MANIFEST (meta + txns +
    * sidecar refs) plus one incremental sidecar holding the interval's
    * net entries — write bytes ∝ churn. Every
    * [[checkpointV2MaxSidecars]] generations (or under an explicit
    * off) the writer folds back to a single fresh sidecar, bounding
    * both replay overlap and the tombstone tail. */
  val checkpointV2Key = "spark.graft.lake.checkpointV2"
  private def checkpointV2Enabled: Boolean =
    activeSession.flatMap(_.conf.getOption(checkpointV2Key))
      .forall(_.toBoolean)
  val checkpointV2MaxSidecarsDefault = 8L
  val checkpointV2MaxSidecarsKey =
    "spark.graft.lake.checkpointV2.maxSidecars"
  private def checkpointV2MaxSidecars: Long =
    activeSession.flatMap(_.conf.getOption(checkpointV2MaxSidecarsKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ >= 1L)
      .getOrElse(checkpointV2MaxSidecarsDefault)
  private def sidecarDir(root: Path) = new Path(logDir(root), "_sidecars")
  private def sidecarFile(root: Path, name: String) =
    new Path(sidecarDir(root), name)

  /** A manifest checkpoint's sidecar refs in generation order (empty =
    * a classic self-contained checkpoint). One small columnar job on
    * the parquet manifest. */
  private def sidecarRefs(fs: FileSystem, root: Path,
      v: Long): Seq[Sidecar] = {
    val pq = checkpointParquetDir(root, v)
    if (!fs.exists(new Path(pq, "_SUCCESS"))) Nil
    else activeSession.map { spark =>
      import org.apache.spark.sql.functions.col
      spark.read.schema(logEntryEncoder.schema).parquet(pq.toString)
        .where(col("sidecar").isNotNull)
        .select(col("sidecar.path"), col("sidecar.gen"))
        .collect().map(r => Sidecar(r.getString(0), r.getLong(1)))
        .sortBy(_.gen).toSeq
    }.getOrElse(Nil)
  }

  private def activeSession: Option[org.apache.spark.sql.SparkSession] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)

  /** Typed columnar shape of a checkpoint row — the same LogEntry the
    * JSON log uses, encoded by Spark's product encoder so checkpoint
    * write/read is ordinary distributed parquet IO. */
  private lazy val logEntryEncoder
      : org.apache.spark.sql.Encoder[LogEntry] =
    org.apache.spark.sql.Encoders.product[LogEntry]

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }
  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def render(entries: Seq[LogEntry]): String =
    entries.map(Serialization.write(_)).mkString("\n")
  private def parse(s: String): Seq[LogEntry] =
    s.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
      .map(Serialization.read[LogEntry](_)).toSeq

  /** Parsed-entry cache for the log's WRITE-ONCE files (commits,
    * compacted ranges, JSON checkpoints — all published by an atomic
    * claim and never rewritten): every snapshot resolution replays the
    * tail commits, so without this a K-commit script re-reads and
    * re-json4s-parses the same files O(K²) times per query (reflection-
    * based parse is the driver-gap cost the round-14 samples caught in
    * `TxLog.render`/scalap). Keyed by path and guarded by the file's
    * [[Stamp]]: a scratch root wiped and re-created at the same path —
    * every bench re-run does this — misses instead of serving stale
    * entries. Entries are immutable case classes, safe to share.
    * Bounded LRU; ~2k files ≈ a few MB of Adds. */
  private val parsedCache =
    new java.util.LinkedHashMap[String, (Stamp, Seq[LogEntry])](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Stamp, Seq[LogEntry])])
          : Boolean = size > 2048
    }

  /** A file's identity for [[parsedCache]]: length, mtime and, where the
    * scheme exposes one, the file key (device + inode on the local
    * filesystem). A same-length file re-created at the same path within
    * the mtime granularity differs only in its key. */
  private final case class Stamp(len: Long, mtime: Long, key: Option[AnyRef])

  private def stampOf(fs: FileSystem, p: Path): Stamp = {
    val local = fs match {
      case l: RawLocalFileSystem => Some(l.pathToFile(p))
      case l: LocalFileSystem => Some(l.pathToFile(p))
      case _ => None
    }
    local match {
      case Some(f) =>
        val a =
          try java.nio.file.Files.readAttributes(f.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          catch { case _: java.nio.file.NoSuchFileException =>
            throw new java.io.FileNotFoundException(s"File $p does not exist") }
        Stamp(a.size, a.lastModifiedTime.toMillis, Option(a.fileKey))
      case None =>
        val st = fs.getFileStatus(p)
        Stamp(st.getLen, st.getModificationTime, None)
    }
  }

  /** Read + parse `p` through [[parsedCache]]. Callers must have
    * established existence (the cache lookup re-stats the file anyway
    * and throws FileNotFoundException like `open` would). */
  private def parseCached(fs: FileSystem, p: Path): Seq[LogEntry] = {
    val st = stampOf(fs, p)
    val key = p.toString
    parsedCache.synchronized {
      val hit = parsedCache.get(key)
      if (hit != null && hit._1 == st) return hit._2
    }
    val es = parse(readString(fs, p))
    parsedCache.synchronized { parsedCache.put(key, (st, es)): Unit }
    es
  }

  /** Atomically publish `content` as commit `version`. Returns false if
    * the version was already claimed by a concurrent writer (the caller
    * must re-resolve and retry). HOW the claim is made is per-scheme
    * ([[LogStore.claimFor]]): hard link on `file://`, no-overwrite
    * rename on HDFS-like stores, a registered conditional-PUT/
    * coordinator claim on object stores — and a LOUD refusal on a
    * scheme with none of the three, instead of a silent
    * last-writer-wins race.
    */
  def tryCommit(fs: FileSystem, root: Path, version: Long,
      entries: Seq[LogEntry]): Boolean = {
    val dst = commitFile(root, version)
    val tmpDir = new Path(logDir(root), ".tmp")
    fs.mkdirs(tmpDir)
    val tmp = new Path(tmpDir, java.util.UUID.randomUUID.toString + ".json")
    // in-commit timestamp: strictly monotonic over versions —
    // max(wall clock, predecessor's stamp + 1); one O(1) commit-file
    // read per commit, and only Info entries without a stamp are
    // touched (restores/replays keep whatever they carry)
    val prevTs =
      if (version <= 0) None
      else scala.util.Try(commitInfoFast(fs, root, version - 1)
        .flatMap(_.tsMillis)).toOption.flatten
    val now = System.currentTimeMillis()
    val ts = math.max(now, prevTs.map(_ + 1L).getOrElse(now))
    // operation metrics, derived from the commit's own entries (never
    // caller-supplied, so every path reports consistently)
    lazy val opMetrics: Map[String, Long] = {
      val adds = entries.flatMap(_.add)
      val cdfs = entries.flatMap(_.cdf)
      Map(
        "numAddedFiles" -> adds.size.toLong,
        "numRemovedFiles" -> entries.count(_.remove.isDefined).toLong,
        "numOutputRows" -> adds.map(_.rows).sum,
        "numAddedBytes" -> adds.flatMap(_.bytes).sum,
        "numCdfFiles" -> cdfs.size.toLong,
        "numCdfRows" -> cdfs.map(_.rows).sum)
    }
    val stamped = entries.map { e =>
      e.info match {
        case Some(i) =>
          e.copy(info = Some(i.copy(
            tsMillis = i.tsMillis.orElse(Some(ts)),
            metrics = i.metrics.orElse(Some(opMetrics)))))
        case _ => e
      }
    }
    writeString(fs, tmp, render(stamped))
    val won = LogStore.claimFor(fs).claim(fs, tmp, dst)
    if (fs.exists(tmp)) fs.delete(tmp, false)
    if (won) {
      writeCrcIncremental(fs, root, version, stamped)
      maybeCheckpoint(fs, root, version)
    }
    won
  }

  /** Per-commit table-state checksum (Delta's VersionChecksum `.crc`
    * files): live file count, live row total and live byte total AFTER
    * the commit. Written best-effort by the commit winner as `<v>.crc`,
    * derived INCREMENTALLY from the predecessor's checksum plus this
    * commit's own entries (removes echo their stats) — the commit path
    * stays O(entries), never O(files). A broken chain (legacy
    * stats-less remove, a winner that died before writing) self-heals
    * at the next checkpoint, which re-seeds from the authoritative live
    * set. [[graft.lake.TxTable.verifyChecksum]] compares a fully
    * resolved snapshot against the stored value — end-to-end corruption
    * detection for replay/checkpoint/vacuum bugs and hand-edited logs.
    */
  final case class Crc(version: Long, numFiles: Long, totalRows: Long,
      totalBytes: Long)

  def crcFile(root: Path, v: Long): Path =
    new Path(logDir(root), f"$v%020d.crc")

  def readCrc(fs: FileSystem, root: Path, v: Long): Option[Crc] =
    scala.util.Try(
      Serialization.read[Crc](readString(fs, crcFile(root, v)))).toOption

  /** The checksum a resolved snapshot implies (files without a
    * recorded byte size count 0 bytes — the same convention the
    * incremental writer uses, so legacy adds stay consistent). */
  def crcOf(snap: Snapshot): Crc = Crc(snap.version,
    snap.adds.size.toLong, snap.adds.map(_.rows).sum,
    snap.adds.flatMap(_.bytes).sum)

  private def writeCrcIncremental(fs: FileSystem, root: Path, v: Long,
      entries: Seq[LogEntry]): Unit = {
    val prev =
      if (v == 0L) Some(Crc(-1L, 0L, 0L, 0L))
      else readCrc(fs, root, v - 1)
    prev.foreach { p =>
      val adds = entries.flatMap(_.add)
      val rems = entries.flatMap(_.remove)
      // a stats-less remove (legacy writer) makes the delta unknowable:
      // write nothing and let the next checkpoint re-seed
      if (rems.forall(r => r.rows.isDefined && r.bytes.isDefined))
        scala.util.Try(writeString(fs, crcFile(root, v),
          Serialization.write(Crc(v,
            p.numFiles + adds.size - rems.size,
            p.totalRows + adds.map(_.rows).sum - rems.flatMap(_.rows).sum,
            p.totalBytes + adds.flatMap(_.bytes).sum -
              rems.flatMap(_.bytes).sum))))
      ()
    }
  }

  /** Highest committed version, or −1 for a nonexistent/empty log.
    * Bounded, not O(history): commits are consecutive integers, so the
    * `_last_checkpoint` pointer gives a committed FLOOR and the answer
    * is at most [[checkpointInterval]] existence probes past it — a
    * long-lived table never pays a full `_txlog/` listing per read
    * (Delta lists from the last-known version for the same reason).
    * Logs without a checkpoint yet fall back to the one listing.
    */
  def latestVersion(fs: FileSystem, root: Path): Long = {
    val hinted = readLastCheckpoint(fs, root).map(_.version)
    hinted match {
      case Some(h) if h >= 0 && fs.exists(commitFile(root, h)) =>
        probeForwardFrom(fs, root, h)
      case _ => listedLatestVersion(fs, root)
    }
  }

  /** [[latestVersion]] with a caller-held committed floor (e.g. the
    * stream source's last-seen version): O(new commits) existence
    * probes, zero listings, zero `_last_checkpoint` reads — the
    * per-trigger hot path. A stale/unknown floor falls back to
    * [[latestVersion]]. */
  def latestVersionFrom(fs: FileSystem, root: Path,
      knownAtLeast: Long): Long =
    if (knownAtLeast < 0 || !fs.exists(commitFile(root, knownAtLeast)))
      latestVersion(fs, root)
    else probeForwardFrom(fs, root, knownAtLeast)

  private def probeForwardFrom(fs: FileSystem, root: Path,
      committed: Long): Long = {
    var v = committed
    while (fs.exists(commitFile(root, v + 1))) v += 1
    v
  }

  private def listedLatestVersion(fs: FileSystem, root: Path): Long = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return -1L
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json") &&
        !n.endsWith(".compacted.json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Resolve the table state at `asOf` (default: latest). Replays the
    * newest checkpoint at-or-before the target plus the tail commits —
    * bounded work however long the table has lived.
    */
  /** Driver-side instrumentation: (tail commit files replayed, whether a
    * checkpoint seeded the state) for the most recent [[snapshot]] call in
    * this JVM — the observable behind the bounded-replay contract
    * (replay work stays ≤ [[checkpointInterval]] however long the table
    * has lived; TxLogSpec + ext_lake_replay_depth assert it).
    */
  object lastReplay {
    // Thread-local, NOT process-global: RunRegistry fans lineage out on a
    // shared pool, so a JVM-global cell could be clobbered by any
    // concurrent snapshot between a probe's snapshot() and its get() —
    // the observable must describe the CALLER's last snapshot.
    private val tl = new ThreadLocal[(Long, Boolean)] {
      override def initialValue(): (Long, Boolean) = (0L, false)
    }
    private[lake] def set(v: (Long, Boolean)): Unit = tl.set(v)
    def get(): (Long, Boolean) = tl.get()
  }

  /** File count above which [[prunedSnapshot]] refuses to fold the live
    * set on the driver and filters it DISTRIBUTED over the parquet
    * checkpoint instead. Below it, an in-memory fold of a few thousand
    * entries is cheaper than any Spark job. Conf-overridable per
    * session (tests; deployments with small drivers). */
  val driverSnapshotMaxFilesDefault = 100000L
  val driverSnapshotMaxFilesKey = "spark.graft.lake.driverSnapshotMaxFiles"
  private def driverSnapshotMaxFiles: Long =
    activeSession.flatMap(_.conf.getOption(driverSnapshotMaxFilesKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(driverSnapshotMaxFilesDefault)

  /** Observable behind the bounded-driver contract: (resolution mode,
    * Add entries collected on the driver) for this thread's last
    * [[prunedSnapshot]] call — "driver-fold" (full in-memory replay) or
    * "distributed-prune" (checkpoint filtered as a DataFrame, only
    * matches collected). Thread-local like [[lastReplay]]. */
  object lastResolve {
    private val tl = new ThreadLocal[(String, Long)] {
      override def initialValue(): (String, Long) = ("", 0L)
    }
    private[lake] def set(v: (String, Long)): Unit = tl.set(v)
    def get(): (String, Long) = tl.get()
  }

  private lazy val addEncoder: org.apache.spark.sql.Encoder[Add] =
    org.apache.spark.sql.Encoders.product[Add]
  private lazy val metaEncoder: org.apache.spark.sql.Encoder[Meta] =
    org.apache.spark.sql.Encoders.product[Meta]

  /** [[snapshot]] for PLANNING under a file-skipping predicate: returns
    * the state at `asOf` with `adds` restricted to the entries surviving
    * `keep` (a Column over the flattened [[Add]] fields — `path`,
    * `rows`, `partitionValues`, `stats`, ... — built against the
    * resolved [[Meta]]). The contract that bounds the driver at a
    * million-file table: when the live set is LARGE (the
    * `_last_checkpoint` pointer's entry count is at or above
    * [[driverSnapshotMaxFilesKey]], and the checkpoint is readable
    * parquet), the filter runs DISTRIBUTED — checkpoint parquet scanned
    * as a DataFrame, the ≤[[checkpointInterval]] tail commits folded on
    * the driver as a small overlay (their adds/removes are single-commit
    * bounded, Delta's shape too), and ONLY matched entries are ever
    * collected. Below the threshold (or sessionless, or time-travelling
    * behind the pointer) it is the ordinary in-memory fold — correct and
    * cheaper at that size — and the caller's own driver-side prune does
    * the filtering. `keep` must be CONSERVATIVE (a kept non-match is a
    * wasted read; a dropped match is a wrong answer). `txns` is
    * complete on both paths (checkpoint watermarks + tail overlay), so
    * idempotence checks may rely on it.
    */
  def prunedSnapshot(fs: FileSystem, root: Path, asOf: Option[Long],
      keep: Meta => org.apache.spark.sql.Column): Snapshot = {
    liveAddsFrame(fs, root, asOf) match {
      case None =>
        val s = snapshot(fs, root, asOf)
        lastResolve.set(("driver-fold", s.adds.size.toLong))
        s
      case Some((live, meta, target, txns)) =>
        collectPruned(live, meta, target, txns, keep(meta))
    }
  }

  /** Complete a [[liveAddsFrame]] resolution into a planning Snapshot:
    * filter the live frame, collect ONLY matches. Lets a caller that
    * already aggregated over the frame (e.g. the latest-partition max)
    * finish against the SAME resolution instead of replaying the log
    * a second time. */
  private[lake] def collectPruned(live: org.apache.spark.sql.DataFrame,
      meta: Meta, target: Long, txns: Map[String, Long],
      keep: org.apache.spark.sql.Column): Snapshot = {
    val matched = live.where(keep).as(addEncoder).collect().toVector
    lastResolve.set(("distributed-prune", matched.size.toLong))
    Snapshot(target, meta, matched, txns)
  }

  /** The live Add set at `asOf` AS A DATAFRAME (flattened [[Add]]
    * columns) — Some only on the distributed path ([[prunedSnapshot]]'s
    * gate: large pointer entry count, readable parquet checkpoint,
    * active session). Callers aggregate or filter it in Catalyst before
    * collecting anything; None means "fold in memory, it's cheaper". */
  private[lake] def liveAddsFrame(fs: FileSystem, root: Path,
      asOf: Option[Long])
      : Option[(org.apache.spark.sql.DataFrame, Meta, Long,
        Map[String, Long])] = {
    val latest = latestVersion(fs, root)
    require(latest >= 0, s"no transaction log at $root")
    val target = asOf.getOrElse(latest)
    val ptr = readLastCheckpoint(fs, root)
    val big = ptr.exists(p => p.version <= target &&
      p.entries.exists(_ >= driverSnapshotMaxFiles) &&
      parquetCheckpointReadable(fs, root, p.version))
    if (!big) return None
    val (live, meta, txns) =
      frameFromCheckpoint(fs, root, ptr.get.version, target)
    Some((live, meta, target, txns))
  }

  /** [[liveAddsFrame]] generalized to ANY version with a readable
    * parquet checkpoint at or before it — the distributed RESTORE
    * diff's way of resolving the TARGET version's live set without a
    * driver fold. None when no readable parquet checkpoint precedes
    * `version` (a JSON checkpoint means the live set was small when
    * written — the in-memory fold is the right path there anyway). */
  private[lake] def addsFrameAt(fs: FileSystem, root: Path,
      version: Long): Option[(org.apache.spark.sql.DataFrame, Meta)] =
    newestCheckpointAtOrBefore(fs, root, version)
      .filter(v => parquetCheckpointReadable(fs, root, v))
      .map { ckptV =>
        val (live, meta, _) = frameFromCheckpoint(fs, root, ckptV, version)
        (live, meta)
      }

  /** Shared distributed-resolution core: checkpoint parquet scanned as
    * a DataFrame, the tail commits (ckptV, target] folded on the driver
    * as a small overlay — net-new adds appended, dead paths anti-joined
    * away (a removed-then-re-added path is live under its newest
    * entry). */
  private def frameFromCheckpoint(fs: FileSystem, root: Path,
      ckptV: Long, target: Long)
      : (org.apache.spark.sql.DataFrame, Meta, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = activeSession.get
    var tailMeta: Option[Meta] = None
    val tailLive = scala.collection.mutable.LinkedHashMap[String, Add]()
    val dead = scala.collection.mutable.HashSet[String]()
    val txns = scala.collection.mutable.HashMap[String, Long]()
    tailBatches(fs, root, ckptV + 1, target).foreach(_.foreach { e =>
      e.meta.foreach(m => tailMeta = Some(m))
      e.add.foreach { a => tailLive(a.path) = a; dead -= a.path }
      e.remove.foreach { r => tailLive.remove(r.path); dead += r.path }
      e.txn.foreach(t => txns(t.appId) =
        math.max(txns.getOrElse(t.appId, Long.MinValue), t.version))
    })
    val pq = checkpointParquetDir(root, ckptV).toString
    val entriesDF = spark.read.schema(logEntryEncoder.schema).parquet(pq)
    val meta = tailMeta.getOrElse {
      // one small columnar job: the meta column of the checkpoint only
      entriesDF.where(col("meta").isNotNull).select(col("meta.*"))
        .as(metaEncoder).head()
    }
    val alien = meta.features.filterNot(supportedReaderFeatures)
    require(alien.isEmpty,
      s"table at $root (v$target) requires reader feature(s) " +
        s"${alien.mkString(", ")} this client does not implement")
    // checkpoint txn watermarks (one small columnar job — the txn rows
    // are one per writer app): without them a distributed-planning
    // mutation's idempotence check would miss watermarks recorded
    // before the checkpoint and replay an absorbed batch
    entriesDF.where(col("txn").isNotNull)
      .select(col("txn.appId"), col("txn.version"))
      .collect().foreach { r =>
        val app = r.getString(0)
        txns(app) = math.max(txns.getOrElse(app, Long.MinValue), r.getLong(1))
      }
    val refs = sidecarRefs(fs, root, ckptV)
    val ckptAdds =
      if (refs.isEmpty)
        entriesDF.where(col("add").isNotNull).select(col("add.*"))
      else sidecarLiveAdds(spark, fs, root, refs)
    val excluded = (dead ++ tailLive.keys).toSeq
    val base =
      if (excluded.isEmpty) ckptAdds
      else ckptAdds.join(
        broadcast(spark.createDataset(excluded)(
          org.apache.spark.sql.Encoders.STRING).toDF("path")),
        Seq("path"), "left_anti")
    val live =
      if (tailLive.isEmpty) base
      else base.unionByName(
        spark.createDataset(tailLive.values.toSeq)(addEncoder).toDF())
    (live, meta, txns.toMap)
  }

  /** The live Add frame of a V2 sidecar chain, DISTRIBUTED: each
    * sidecar reads under its generation, the newest entry per path
    * wins (one keyed window — the read-side cost of incremental
    * checkpoints, bounded by [[checkpointV2MaxSidecars]] generations
    * of overlap), tombstoned paths drop. The single-generation case
    * (right after a fold-back rewrite) skips the window entirely. */
  private def sidecarLiveAdds(spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem, root: Path,
      refs: Seq[Sidecar]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}
    refs.foreach(ref => require(fs.exists(sidecarFile(root, ref.path)),
      s"checkpoint references missing sidecar ${ref.path} at $root"))
    def readOne(ref: Sidecar) =
      spark.read.schema(logEntryEncoder.schema)
        .parquet(sidecarFile(root, ref.path).toString)
        .withColumn("__gen", lit(ref.gen))
    if (refs.size == 1)
      readOne(refs.head).where(col("add").isNotNull).select(col("add.*"))
    else {
      val all = refs.map(readOne).reduce(_ unionByName _)
        .where(col("add").isNotNull || col("remove").isNotNull)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(coalesce(col("add.path"), col("remove.path")))
        .orderBy(col("__gen").desc)
      all.withColumn("__rn", row_number.over(w))
        .where(col("__rn") === 1 && col("add").isNotNull)
        .select(col("add.*"))
    }
  }

  /** Canonical single-column fingerprint of a flattened [[Add]] row,
    * comparable across frames: map fields (which Spark refuses to
    * equate directly) render as SORTED entry arrays inside one JSON
    * string, scalars ride along by name. Two Adds fingerprint equal iff
    * the case classes are equal — what the RESTORE diff joins on. */
  private[lake] def addCanon: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    to_json(struct(
      col("rows"), col("dv"), col("dvFile"), col("dvCount"),
      col("bytes"), col("zcube"),
      array_sort(map_entries(col("partitionValues"))).as("pv"),
      array_sort(map_entries(col("stats"))).as("st"),
      array_sort(map_entries(col("bloom"))).as("bl")))
  }

  /** Collect a frame of flattened Add rows back to case classes. */
  private[lake] def collectAdds(
      df: org.apache.spark.sql.DataFrame): Vector[Add] =
    df.as(addEncoder).collect().toVector

  /** ZCube ids whose LIVE row total is under `minRows` — the merge
    * candidates for incremental clustering maintenance (Delta's ZCube
    * size filter). O(cubes) on the driver: aggregated over the live
    * frame in Catalyst when the table plans distributed, folded in
    * memory otherwise (where the fold is the cheaper path anyway). */
  def undersizedCubes(fs: FileSystem, root: Path,
      minRows: Long): Set[String] =
    liveAddsFrame(fs, root, None) match {
      case Some((live, _, _, _)) =>
        import org.apache.spark.sql.functions.{col, sum}
        live.where(col("zcube").isNotNull).groupBy(col("zcube"))
          .agg(sum(col("rows")).as("__rows"))
          .where(col("__rows") < minRows)
          .select("zcube").collect().map(_.getString(0)).toSet
      case None =>
        snapshot(fs, root).adds.filter(_.zcube.isDefined)
          .groupBy(_.zcube.get)
          .collect { case (c, as) if as.map(_.rows).sum < minRows => c }
          .toSet
    }

  def snapshot(fs: FileSystem, root: Path, asOf: Option[Long] = None): Snapshot = {
    val latest = latestVersion(fs, root)
    require(latest >= 0, s"no transaction log at $root")
    val target = asOf.getOrElse(latest)
    require(target >= 0 && target <= latest,
      s"version $target out of range [0, $latest] at $root")
    val ckpt = newestCheckpointAtOrBefore(fs, root, target)
    var meta: Option[Meta] = None
    val live = scala.collection.mutable.LinkedHashMap[String, Add]()
    val txns = scala.collection.mutable.HashMap[String, Long]()
    def fold(e: LogEntry, withRemoves: Boolean): Unit = {
      e.meta.foreach(m => meta = Some(m))
      e.add.foreach(a => live(a.path) = a)
      if (withRemoves) e.remove.foreach(r => live.remove(r.path))
      e.txn.foreach(t => txns(t.appId) =
        math.max(txns.getOrElse(t.appId, Long.MinValue), t.version))
    }
    val start = ckpt match {
      case Some(v) =>
        // withRemoves = true: a classic checkpoint carries no removes
        // (same fold), while a V2 sidecar chain carries TOMBSTONES a
        // later generation uses to retract an earlier one's add
        readCheckpointEntries(fs, root, v)
          .foreach(fold(_, withRemoves = true))
        v + 1
      case None => 0L
    }
    tailBatches(fs, root, start, target)
      .foreach(_.foreach(fold(_, withRemoves = true)))
    lastReplay.set((target - start + 1, ckpt.isDefined))
    val m = meta.getOrElse(sys.error(s"no metaData in log at $root"))
    // protocol gate: refuse, at THIS version's meta, any reader feature
    // we do not implement — time travel before the upgrade still works
    val alien = m.features.filterNot(supportedReaderFeatures)
    require(alien.isEmpty,
      s"table at $root (v$target) requires reader feature(s) " +
        s"${alien.mkString(", ")} this client does not implement " +
        s"(supported: ${supportedReaderFeatures.toSeq.sorted.mkString(", ")})" +
        " — upgrade the reader or time-travel behind the upgrade commit")
    Snapshot(target, m, live.values.toVector, txns.toMap)
  }

  /** Every action of one commit — the change-data-feed building block
    * ([[graft.lake.TxTable.readChanges]] derives row-level changes from
    * the per-commit add/remove file diff). */
  def commitEntries(fs: FileSystem, root: Path, version: Long): Seq[LogEntry] = {
    val p = commitFile(root, version)
    require(fs.exists(p), s"missing commit $version at $root (vacuumed?)")
    parseCached(fs, p)
  }

  /** The commitInfo action of one commit, if recorded. */
  def commitInfo(fs: FileSystem, root: Path, version: Long): Option[Info] = {
    val p = commitFile(root, version)
    require(fs.exists(p), s"missing commit $version at $root")
    parseCached(fs, p).flatMap(_.info).headOption
  }

  /** [[commitInfo]] in O(64 KB) instead of O(commit size): every
    * writer appends its Info line LAST, so a bounded TAIL read finds it
    * without parsing the possibly-massive Add list before it — the
    * in-commit-timestamp stamp, TIMESTAMP AS OF's binary-search probes
    * and DESCRIBE HISTORY's per-version walk all stop re-reading a
    * 100 MB overwrite commit to learn one line. A seek can tear the
    * first tail line (skipped by the per-line parse guard); if no info
    * parses from the tail and the tail was partial, the full read
    * decides.
    */
  private[lake] def commitInfoFast(fs: FileSystem, root: Path,
      version: Long): Option[Info] = {
    val p = commitFile(root, version)
    require(fs.exists(p), s"missing commit $version at $root")
    val len = fs.getFileStatus(p).getLen
    val start = math.max(0L, len - 65536L)
    val in = fs.open(p)
    val tail =
      try {
        in.seek(start)
        val n = (len - start).toInt
        val buf = new Array[Byte](n)
        in.readFully(buf)
        new String(buf, "UTF-8")
      } finally in.close()
    val found = tail.split('\n').reverseIterator
      .map(_.trim).filter(_.nonEmpty)
      .flatMap(l => scala.util.Try(Serialization.read[LogEntry](l))
        .toOption.flatMap(_.info))
      .nextOption()
    if (found.isDefined || start == 0L) found
    else commitInfo(fs, root, version) // info not in the tail: full read
  }

  /** A parquet checkpoint is usable only once its `_SUCCESS` marker
    * exists: Spark creates the directory BEFORE job commit, so a bare
    * directory may be a partial write (first checkpoint of a table, or
    * a crashed writer) — basing a snapshot on it would silently drop
    * adds/meta. Delta guards the same hole with validated multi-part
    * names; a committed marker is the single-file equivalent. A session
    * is also required — parquet is unreadable without one. */
  private def parquetCheckpointReadable(fs: FileSystem, root: Path,
      v: Long): Boolean =
    fs.exists(new Path(checkpointParquetDir(root, v), "_SUCCESS")) &&
      activeSession.isDefined

  private def newestCheckpointAtOrBefore(fs: FileSystem, root: Path,
      target: Long): Option[Long] = {
    // Fast path: the _last_checkpoint pointer (one small read); fall back
    // to a listing only when time-travelling behind it.
    val hinted = readLastCheckpoint(fs, root).map(_.version).filter(_ <= target)
    hinted.orElse {
      if (!fs.exists(logDir(root))) None
      else fs.listStatus(logDir(root)).iterator.map(_.getPath.getName)
        .filter(n => n.endsWith(".checkpoint.json") ||
          n.endsWith(".checkpoint.parquet"))
        .map(_.stripSuffix(".checkpoint.parquet")
          .stripSuffix(".checkpoint.json").toLong)
        .filter(_ <= target)
        .foldLeft(-1L)(math.max) match {
          case -1L => None
          case v   => Some(v)
        }
    }.filter(v =>
      // an unusable checkpoint (partial parquet write, or parquet with
      // no session) is treated as absent and the log replays from 0 —
      // always correct, just slower
      fs.exists(checkpointFile(root, v)) ||
        parquetCheckpointReadable(fs, root, v))
  }

  /** Fold-order entry batches covering commits [start..target]: where
    * an ALIGNED compacted range file covers the next
    * [[checkpointInterval]] versions entirely within the target it is
    * read INSTEAD of its member commits (one file in place of ten);
    * everything else reads per-commit. Folding a compacted batch with
    * the ordinary withRemoves fold is equivalent to folding its member
    * commits in order ([[writeCompacted]] preserves carried removes and
    * cancels only range-internal add/remove pairs). An unreadable or
    * torn compacted file falls back to the per-commit reads — always
    * correct, just slower. */
  private def tailBatches(fs: FileSystem, root: Path, start: Long,
      target: Long): Seq[Seq[LogEntry]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[LogEntry]]()
    var v = start
    while (v <= target) {
      val end = v + checkpointInterval - 1
      val compacted =
        if ((v - 1) % checkpointInterval == 0 && end <= target)
          scala.util.Try {
            val f = compactedFile(root, v, end)
            if (fs.exists(f)) Some(parseCached(fs, f)) else None
          }.toOption.flatten
        else None
      compacted match {
        case Some(es) => out += es; v = end + 1
        case None =>
          val p = commitFile(root, v)
          require(fs.exists(p), s"missing commit $v at $root (vacuumed?)")
          out += parseCached(fs, p)
          v += 1
      }
    }
    out.toSeq
  }

  /** Log compaction (Delta's `{start}.{end}.compacted.json`): ONE file
    * holding the net effect of commits start..end — the latest meta,
    * per-app max txn watermarks, removes carried for files that predate
    * the range, and the range's net-new adds; add/remove pairs internal
    * to the range cancel. Written opportunistically (a failure or a
    * lost race leaves the per-commit path intact); deterministic
    * content, so concurrent writers of the same range write identical
    * bytes. Returns the entry count, or -1 when a member commit is
    * already gone. */
  private def writeCompacted(fs: FileSystem, root: Path, start: Long,
      end: Long): Long = {
    var meta: Option[Meta] = None
    val live = scala.collection.mutable.LinkedHashMap[String, Add]()
    val dead = scala.collection.mutable.LinkedHashMap[String, Remove]()
    val txns = scala.collection.mutable.HashMap[String, Long]()
    var v = start
    while (v <= end) {
      val p = commitFile(root, v)
      if (!fs.exists(p)) return -1L
      parseCached(fs, p).foreach { e =>
        e.meta.foreach(m => meta = Some(m))
        e.add.foreach { a => live(a.path) = a; dead.remove(a.path) }
        e.remove.foreach { r => live.remove(r.path); dead(r.path) = r }
        e.txn.foreach(t => txns(t.appId) =
          math.max(txns.getOrElse(t.appId, Long.MinValue), t.version))
      }
      v += 1
    }
    val entries = meta.map(m => LogEntry(meta = Some(m))).toSeq ++
      txns.toSeq.sortBy(_._1).map { case (app, tv) =>
        LogEntry(txn = Some(Txn(app, tv))) } ++
      dead.values.map(r => LogEntry(remove = Some(r))) ++
      live.values.map(a => LogEntry(add = Some(a)))
    // ATOMIC publication (temp + claim, tryCommit's convention): a
    // compacted file torn on a line boundary would PARSE clean and
    // silently drop the missing range actions from every later replay
    // (tailBatches prefers it over the still-present member commits),
    // so a partially-written file must never become visible under the
    // compacted name. Concurrent writers produce identical bytes; the
    // claim loser's temp is simply discarded.
    scala.util.Try {
      val tmpDir = new Path(logDir(root), ".tmp")
      fs.mkdirs(tmpDir)
      val tmp = new Path(tmpDir,
        java.util.UUID.randomUUID.toString + ".compacted.json")
      writeString(fs, tmp,
        entries.map(e => Serialization.write(e)).mkString("\n"))
      LogStore.claimFor(fs).claim(fs, tmp, compactedFile(root, start, end))
      if (fs.exists(tmp)) fs.delete(tmp, false)
    }
    entries.size.toLong
  }

  /** One checkpoint's entries, either format. JSON is preferred when
    * present — a driver-side string parse with zero Spark jobs, which
    * is how every checkpoint below [[checkpointParquetMinEntries]] is
    * written; PARQUET (distributed columnar IO, no single JSON string
    * through the driver) serves the large-live-set tables, and only
    * once its `_SUCCESS` marker proves the write completed. */
  private def readCheckpointEntries(fs: FileSystem, root: Path,
      v: Long): Seq[LogEntry] = {
    val json = checkpointFile(root, v)
    if (fs.exists(json)) parseCached(fs, json)
    else {
      val pq = checkpointParquetDir(root, v)
      require(fs.exists(new Path(pq, "_SUCCESS")),
        s"parquet checkpoint at $pq has no _SUCCESS marker (partial write)")
      val spark = activeSession.getOrElse(sys.error(
        s"parquet checkpoint at $pq needs an active SparkSession"))
      val manifest = spark.read.schema(logEntryEncoder.schema)
        .parquet(pq.toString).as(logEntryEncoder).collect().toSeq
      val refs = manifest.flatMap(_.sidecar).sortBy(_.gen)
      if (refs.isEmpty) manifest
      else {
        // sidecar entries concatenate in GENERATION order; the
        // caller's ordinary withRemoves fold applies later adds over
        // earlier ones and drops tombstoned paths — exactly the
        // commit-replay semantics
        val sides = refs.flatMap { ref =>
          val f = sidecarFile(root, ref.path)
          require(fs.exists(f),
            s"checkpoint v$v references missing sidecar ${ref.path}")
          spark.read.schema(logEntryEncoder.schema).parquet(f.toString)
            .as(logEntryEncoder).collect().toSeq
        }
        manifest.filter(_.sidecar.isEmpty) ++ sides
      }
    }
  }

  /** Observable behind the bounded-driver CHECKPOINT-WRITE contract:
    * (mode, Add entries materialized on the driver) for this thread's
    * last [[maybeCheckpoint]] that actually wrote one — "distributed"
    * (previous checkpoint frame + tail overlay written straight back to
    * parquet, ZERO Adds through the driver) or "driver-fold" (in-memory
    * replay, the small-table path). Thread-local like [[lastResolve]]. */
  object lastCheckpointWrite {
    private val tl = new ThreadLocal[(String, Long)] {
      override def initialValue(): (String, Long) = ("", 0L)
    }
    private[lake] def set(v: (String, Long)): Unit = tl.set(v)
    def get(): (String, Long) = tl.get()
  }

  private def maybeCheckpoint(fs: FileSystem, root: Path, version: Long): Unit =
    if (version > 0 && version % checkpointInterval == 0) {
      // LOG COMPACTION in place of most full checkpoints on LARGE
      // tables: when the previous checkpoint says the live set is big
      // (≥ checkpointParquetMinEntries, readable parquet) and this is
      // not a fullCheckpointMultiple boundary, write ONE compacted
      // range file for the interval's commits instead of rewriting the
      // whole live set — per-interval log bytes ∝ churn. Replay stays
      // bounded: ≤ fullCheckpointMultiple compacted files + interval
      // tail past the last full checkpoint.
      val compactInstead =
        version % (checkpointInterval * fullCheckpointMultiple) != 0L &&
          readLastCheckpoint(fs, root).exists(p =>
            p.entries.exists(_ >= checkpointParquetMinEntries) &&
              parquetCheckpointReadable(fs, root, p.version))
      if (compactInstead) {
        val n = writeCompacted(fs, root,
          version - checkpointInterval + 1, version)
        if (n >= 0) { lastCheckpointWrite.set(("compacted", n)); return }
        // a member commit already vacuumed: fall through to the full
        // checkpoint, which replays from the previous one
      }
      // DISTRIBUTED WRITE PATH — the commit path's last O(files) driver
      // surface, closed: when a readable PARQUET checkpoint precedes
      // this version and its pointer says the live set is at or above
      // [[checkpointParquetMinEntries]], the new checkpoint is composed
      // from the previous checkpoint frame + the ≤[[checkpointInterval]]
      // tail commits (the exact [[prunedSnapshot]] machinery) and
      // written back to parquet WITHOUT ever collecting an Add to the
      // driver. Pointer count + checksum re-seed come from ONE columnar
      // aggregate over the just-written checkpoint.
      val distributed = activeSession.flatMap { spark =>
        readLastCheckpoint(fs, root)
          .filter(p => p.version < version &&
            p.entries.exists(_ >= checkpointParquetMinEntries) &&
            parquetCheckpointReadable(fs, root, p.version))
          .map(p => (spark, frameFromCheckpoint(fs, root, p.version, version)))
      }
      distributed match {
        case Some((spark, (live, meta, txns))) =>
          import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
          val pq = checkpointParquetDir(root, version)
          val head = LogEntry(meta = Some(meta)) +:
            txns.toSeq.sortBy(_._1).map { case (app, v) =>
              LogEntry(txn = Some(Txn(app, v))) }
          // V2 (SIDECAR) SHAPE when enabled: the manifest at
          // <v>.checkpoint.parquet holds meta/txns + sidecar refs; the
          // live set lives in immutable _sidecars/ parquet. Incremental
          // when the previous checkpoint already has a chain with room:
          // ONE tail-sized sidecar (net adds + remove tombstones) is
          // written and the rest re-referenced — checkpoint write
          // bytes ∝ interval churn. Chain full or absent → fold back
          // to a single fresh sidecar from the composed live frame.
          val prevV = readLastCheckpoint(fs, root).map(_.version)
          val prevRefs = prevV.filter(_ => checkpointV2Enabled)
            .map(sidecarRefs(fs, root, _)).getOrElse(Nil)
          val newRefs: Seq[Sidecar] =
            if (!checkpointV2Enabled) Nil
            else if (prevRefs.nonEmpty &&
                prevRefs.size < checkpointV2MaxSidecars) {
              // net tail entries, already folded by frameFromCheckpoint's
              // own machinery? No — refold here from the tail commits
              // (≤ interval × fullCheckpointMultiple, driver-bounded by
              // the same contract the overlay fold rides)
              val tailLive =
                scala.collection.mutable.LinkedHashMap[String, Add]()
              val dead = scala.collection.mutable.HashSet[String]()
              tailBatches(fs, root, prevV.get + 1, version)
                .foreach(_.foreach { e =>
                  e.add.foreach { a =>
                    tailLive(a.path) = a; dead -= a.path }
                  e.remove.foreach { r =>
                    tailLive.remove(r.path); dead += r.path }
                })
              val net = tailLive.values.toSeq
                .map(a => LogEntry(add = Some(a))) ++
                dead.toSeq.sorted.map(p =>
                  LogEntry(remove = Some(Remove(p))))
              val name = f"$version%020d-" +
                java.util.UUID.randomUUID.toString.take(12) + ".parquet"
              spark.createDataset(net)(logEntryEncoder).toDF()
                .coalesce(1).write.mode("overwrite")
                .parquet(sidecarFile(root, name).toString)
              prevRefs :+ Sidecar(name, prevRefs.last.gen + 1L)
            } else {
              // fold-back (or first V2): the WHOLE live frame into one
              // fresh sidecar — distributed write, zero Adds through
              // the driver
              val name = f"$version%020d-" +
                java.util.UUID.randomUUID.toString.take(12) + ".parquet"
              live.as(addEncoder)
                .map(a => LogEntry(add = Some(a)))(logEntryEncoder).toDF()
                .write.mode("overwrite")
                .parquet(sidecarFile(root, name).toString)
              Seq(Sidecar(name, 1L))
            }
          if (newRefs.nonEmpty) {
            // feature-gate the manifest shape (Delta's v2Checkpoints is
            // a GATED reader feature): an older client pointed here by
            // _last_checkpoint deserializes the manifest WITHOUT the
            // sidecar field — meta/txns and zero adds — and would
            // silently reconstruct a truncated table. Stamping the
            // feature into the manifest's own meta makes its snapshot
            // gate refuse loudly instead (readers that fold this
            // checkpoint see the stamped meta; pre-checkpoint time
            // travel replays unstamped JSON metas and stays open).
            val v2Head = head.map(e => e.meta.fold(e)(m =>
              e.copy(meta = Some(m.withReaderFeature("v2Checkpoints")))))
            val manifest = v2Head ++ newRefs.map(r =>
              LogEntry(sidecar = Some(r)))
            spark.createDataset(manifest)(logEntryEncoder).toDF()
              .coalesce(1).write.mode("overwrite").parquet(pq.toString)
            val marker = new Path(pq, "_SUCCESS")
            if (!fs.exists(marker)) writeString(fs, marker, "")
            // pointer count + checksum from ONE distributed fold over
            // the published chain (read-only; the WRITE stayed ∝ tail)
            val agg = sidecarLiveAdds(spark, fs, root, newRefs).agg(
              count(lit(1)).as("files"),
              sum(coalesce(col("rows"), lit(0L))).as("rows"),
              sum(coalesce(col("bytes"), lit(0L))).as("bytes")).head()
            scala.util.Try(writeString(fs, crcFile(root, version),
              Serialization.write(Crc(version, agg.getLong(0),
                agg.getLong(1), agg.getLong(2)))))
            writeString(fs, lastCheckpointFile(root), Serialization.write(
              CkptPointer(version,
                Some(agg.getLong(0) + manifest.size.toLong))))
            lastCheckpointWrite.set((
              if (newRefs.size > 1) "v2-incremental" else "v2-full",
              if (newRefs.size > 1) 0L else 0L))
          } else {
            val addEntries = live.as(addEncoder)
              .map(a => LogEntry(add = Some(a)))(logEntryEncoder).toDF()
            spark.createDataset(head)(logEntryEncoder).toDF()
              .unionByName(addEntries)
              .write.mode("overwrite").parquet(pq.toString)
            val marker = new Path(pq, "_SUCCESS")
            if (!fs.exists(marker)) writeString(fs, marker, "")
            val agg = spark.read.schema(logEntryEncoder.schema)
              .parquet(pq.toString).agg(
                count(lit(1)).as("n"),
                sum(when(col("add").isNotNull, 1L).otherwise(0L)).as("files"),
                // coalesce like bytes: a stats-less legacy Add counts as
                // 0 rows instead of nulling the whole sum
                sum(when(col("add").isNotNull, coalesce(col("add.rows"),
                  lit(0L))).otherwise(0L)).as("rows"),
                sum(when(col("add").isNotNull, coalesce(col("add.bytes"),
                  lit(0L))).otherwise(0L)).as("bytes")).head()
            scala.util.Try(writeString(fs, crcFile(root, version),
              Serialization.write(Crc(version, agg.getLong(1), agg.getLong(2),
                agg.getLong(3)))))
            writeString(fs, lastCheckpointFile(root), Serialization.write(
              CkptPointer(version, Some(agg.getLong(0)))))
            lastCheckpointWrite.set(("distributed", 0L))
          }
        case None =>
          val snap = snapshot(fs, root, Some(version))
          val entries = (LogEntry(meta = Some(snap.meta)) +:
            snap.adds.map(a => LogEntry(add = Some(a)))) ++
            snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
              LogEntry(txn = Some(Txn(app, v))) }
          // Only the version's winning committer checkpoints it, so plain
          // overwriting writes suffice. FORMAT BY LIVE-SET SIZE: below
          // [[checkpointParquetMinEntries]] the checkpoint is single-string
          // JSON — a driver-side write measured in microseconds, so
          // commit-heavy small tables never pay a Spark job every
          // checkpointInterval commits (round-9's 2–2.7× regression on
          // ext_lake_replay_depth/history/optimize). Above it — the tables
          // where the JSON string IS the driver OOM path — the checkpoint
          // is PARQUET (Delta's design: splittable, columnar, ordinary
          // distributed Spark IO), published by its `_SUCCESS` marker so a
          // concurrent reader never bases a snapshot on a partial write.
          // (A table's FIRST parquet checkpoint takes this fold once;
          // every later one composes distributed above.)
          activeSession match {
            case Some(spark) if entries.size >= checkpointParquetMinEntries =>
              val pq = checkpointParquetDir(root, version)
              spark.createDataset(entries)(logEntryEncoder)
                .write.mode("overwrite").parquet(pq.toString)
              // the job committer writes _SUCCESS by default; a deployment
              // that disabled the marker still needs the publish signal
              val marker = new Path(pq, "_SUCCESS")
              if (!fs.exists(marker)) writeString(fs, marker, "")
            case _ =>
              writeString(fs, checkpointFile(root, version), render(entries))
          }
          // re-seed the checksum chain from the authoritative live set:
          // heals any gap a crashed winner or legacy commit left behind
          scala.util.Try(writeString(fs, crcFile(root, version),
            Serialization.write(crcOf(snap))))
          writeString(fs, lastCheckpointFile(root), Serialization.write(
            CkptPointer(version, Some(entries.size.toLong))))
          lastCheckpointWrite.set(("driver-fold", snap.adds.size.toLong))
      }
    }

  /** Delete data files no longer referenced by any snapshot newer than
    * `latest − keepVersions` (and the log entries before the oldest kept
    * checkpointable point stay — the log is cheap, the data is not).
    * Returns the deleted relative paths. Time travel behind the horizon
    * may stop resolving; [[snapshot]] fails with a clear message.
    *
    * `minAgeMs` guards in-flight writers: a file an active commit has
    * staged but not yet published is unreferenced by ANY snapshot, and
    * deleting it would fail that commit's readers later. Files younger
    * than the threshold are left alone (Delta's retention-window rule —
    * production uses hours; tests that own the table may pass 0).
    */
  /** Oldest commit file still present — 0 on an uncleaned log, the
    * replay-floor checkpoint's version after [[cleanLog]]. One
    * existence probe on the common path; one `_txlog` listing (bounded
    * by the RETAINED log) otherwise. */
  def earliestVersion(fs: FileSystem, root: Path): Long =
    if (fs.exists(commitFile(root, 0L))) 0L
    else {
      val vs = fs.listStatus(logDir(root)).iterator
        .map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.json"))
        .map(_.stripSuffix(".json").toLong)
        .toSeq
      require(vs.nonEmpty, s"no commit files in the log at $root")
      vs.min
    }

  /** LOG retention — the metadata twin of [[vacuum]] (Delta's log
    * cleanup): reclaim commit files and checkpoints STRICTLY BEHIND the
    * newest checkpoint at or before `latest − keepVersions + 1`; that
    * checkpoint stays as the replay floor, so every kept version still
    * resolves in ≤ [[checkpointInterval]] commit reads. Without it a
    * long-lived table's `_txlog/` grows one commit file per write and
    * one FULL-LIVE-SET checkpoint per [[checkpointInterval]] commits —
    * at a million files the checkpoints dwarf the data churn. Time
    * travel, change feeds and restores BEHIND the floor stop resolving
    * (loudly — "missing commit ... vacuumed?"), the same horizon
    * contract as data vacuum; [[earliestVersion]]-aware surfaces
    * (history, timestamp travel) adapt. With no checkpoint at or before
    * the floor nothing is safely reclaimable and the call is a no-op.
    */
  def cleanLog(fs: FileSystem, root: Path, keepVersions: Int)
      : Seq[String] = {
    val latest = latestVersion(fs, root)
    require(latest >= 0, s"no transaction log at $root")
    require(keepVersions >= 1, "cleanLog keeps at least the head version")
    val floor = math.max(0L, latest - keepVersions + 1)
    newestCheckpointAtOrBefore(fs, root, floor) match {
      case None => Nil
      case Some(ckptV) =>
        val doomed = scala.collection.mutable.ArrayBuffer[String]()
        // V2 sidecars: a sidecar referenced ONLY by manifests behind
        // the floor is reclaimable with them; one referenced by any
        // retained manifest must survive (manifests re-reference
        // unchanged sidecars across generations). Unreferenced
        // stragglers (a crashed writer's) are left alone — the age
        // ambiguity is vacuum's problem, not log retention's.
        val manifestVersions = fs.listStatus(logDir(root)).iterator
          .map(_.getPath.getName)
          .filter(_.matches("\\d{20}\\.checkpoint\\.parquet"))
          .map(_.stripSuffix(".checkpoint.parquet").toLong).toSeq
        val (goneV, keptV) = manifestVersions.partition(_ < ckptV)
        val goneRefs = goneV.flatMap(sidecarRefs(fs, root, _))
          .map(_.path).toSet
        val keptRefs = keptV.flatMap(sidecarRefs(fs, root, _))
          .map(_.path).toSet
        (goneRefs -- keptRefs).toSeq.sorted.foreach { rel =>
          if (fs.delete(sidecarFile(root, rel), true))
            doomed += s"_sidecars/$rel"
        }
        fs.listStatus(logDir(root)).foreach { st =>
          val n = st.getPath.getName
          val v: Option[Long] =
            if (n.matches("\\d{20}\\.json"))
              Some(n.stripSuffix(".json").toLong)
            else if (n.matches("\\d{20}\\.checkpoint\\.json"))
              Some(n.stripSuffix(".checkpoint.json").toLong)
            else if (n.matches("\\d{20}\\.checkpoint\\.parquet"))
              Some(n.stripSuffix(".checkpoint.parquet").toLong)
            else if (n.matches("\\d{20}\\.crc"))
              Some(n.stripSuffix(".crc").toLong)
            else if (n.matches("\\d{20}\\.\\d{20}\\.compacted\\.json"))
              // reclaim when the whole RANGE is behind the floor
              Some(n.split('.')(1).toLong)
            else None
          if (v.exists(_ < ckptV)) {
            fs.delete(st.getPath, true) // recursive: parquet dirs
            doomed += n
          }
        }
        doomed.toSeq
    }
  }

  /** Default vacuum age guard: 168 hours, Delta's retention default.
    * Data/CDF/sidecar files are staged to the table directory BEFORE a
    * commit claims its version — a vacuum racing an in-flight writer
    * sees those staged files as unreferenced, and only the age guard
    * keeps it from deleting them out from under the commit. */
  val vacuumDefaultMinAgeMs: Long = 168L * 3600 * 1000

  /** Conf gate (Delta's `retentionDurationCheck.enabled`): while true
    * (the default), [[vacuum]] refuses a `minAgeMs` below
    * [[vacuumDefaultMinAgeMs]] — an explicit `false` is the opt-out a
    * test or a table-owning maintenance job uses for instant reclaim. */
  val retentionDurationCheckKey = "spark.graft.lake.retentionDurationCheck"
  private def retentionDurationCheck: Boolean =
    activeSession.flatMap(_.conf.getOption(retentionDurationCheckKey))
      .forall(_.toBoolean)

  /** `dryRun = true` (Delta's VACUUM ... DRY RUN) reports exactly the
    * paths a real run would reclaim, deleting nothing — same snapshot
    * resolution, same referenced-set math, same age guard. */
  def vacuum(fs: FileSystem, root: Path, keepVersions: Int,
      minAgeMs: Long = vacuumDefaultMinAgeMs,
      dryRun: Boolean = false,
      floorMs: Long = vacuumDefaultMinAgeMs): Seq[String] = {
    require(minAgeMs >= floorMs || !retentionDurationCheck,
      s"vacuum minAgeMs ${minAgeMs}ms is below the " +
        s"${floorMs}ms retention floor (the table-level " +
        s"${propRetentionHours} when set, else the 168 h default); " +
        "files staged by in-flight commits would be reclaimed (silent " +
        s"corruption). Set $retentionDurationCheckKey=false to accept " +
        "a shorter window on a table this process exclusively owns.")
    val latest = latestVersion(fs, root)
    require(latest >= 0, s"no transaction log at $root")
    // clamp to the earliest RETAINED commit: on a log-cleaned table a
    // keep window wider than the log would try to resolve a version
    // cleanLog already reclaimed — the unresolvable prefix holds no
    // additional referenced files (anything still live is in the
    // clamped floor snapshot)
    val floor = math.max(earliestVersion(fs, root),
      math.max(0L, latest - keepVersions + 1))
    // A file live at ANY kept version is either live at the FLOOR
    // snapshot or added by a kept commit — one snapshot resolution plus
    // O(keepVersions) single-commit reads, never a snapshot per kept
    // version (at K kept versions of an F-file table that was K x F
    // driver folds). Change-data files of KEPT commits stay readable
    // (their feed slices must keep resolving); older commits' change
    // data is reclaimable — the change horizon is the vacuum horizon,
    // like time travel itself.
    def refsOf(adds: Iterable[Add]): Iterable[String] =
      adds.flatMap(a => a.path +: (a.dvFile.toSeq ++
        a.bloom.map(_.values.toSeq).getOrElse(Nil)))
    val floorAdds = snapshot(fs, root, Some(floor)).adds
    val referenced = (refsOf(floorAdds) ++
      ((floor + 1) to latest).flatMap(v =>
        refsOf(commitEntries(fs, root, v).flatMap(_.add))) ++
      (floor to latest).flatMap(v =>
        commitEntries(fs, root, v).flatMap(_.cdf).map(_.path))).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // deletions stream off the listing iterator — the only buffered
    // state is the referenced set and the reclaimed names
    val doomed = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(root, true)
    val rootUri = root.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      val reclaimable = rel.endsWith(".parquet") ||
        ((rel.startsWith("_dv/") || rel.startsWith("_bloom/")) &&
          rel.endsWith(".bin"))
      if (!rel.startsWith("_txlog") && reclaimable &&
          f.getModificationTime <= cutoff && !referenced(rel)) {
        if (!dryRun) fs.delete(new Path(root, rel), false)
        doomed += rel
      }
    }
    doomed.toSeq
  }
}
