package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.checks.{Check, Checks}

/** Template-method ETL node — the Scala rebuild of the reference's
  * `TableETL` ABC (etl/utils/base_table.py:53-240). Five-step lifecycle:
  * extractUpstream → transformUpstream → validate → write → read, with
  * `run()` final (reference: base_table.py:222-240). `run()` starts the
  * checks alongside the write's staging job; they gate the log claim
  * that makes the load visible, so a failed check still lands nothing.
  *
  * Deliberate divergences (documented in SURVEY.md §3.4/§7.5):
  *   - lineage execution is memoized via [[RunRegistry]] (the reference
  *     re-runs shared upstreams once per consumer);
  *   - the load timestamp comes from an injectable [[Clock]] (the
  *     reference calls `datetime.now()` inline);
  *   - validation is the [[graft.checks.Check]] ADT instead of Great
  *     Expectations suites (same two rule kinds, no dependency).
  */
abstract class TableEtl(
    val spark: SparkSession,
    val runUpstream: Boolean = true,
    val writeData: Boolean = true,
    val clock: Clock = SystemClock,
    val registry: RunRegistry = new RunRegistry) {

  def name: String
  def primaryKeys: Seq[String]
  def storagePath: String
  def dataFormat: String = "parquet"
  def database: String = "graft"
  /** Every table partitions on the synthetic load timestamp, like the
    * reference (etl/layers/bronze/orders.py:45,105).
    */
  def partitionKeys: Seq[String] = Seq("etl_inserted")
  def upstreams: Seq[TableEtl] = Seq.empty
  def checks: Seq[Check] = Seq.empty

  /** Directory of runtime-loaded GE-style expectation suites: when set
    * and `<dir>/<name>.json` exists, that file REPLACES the compiled
    * `checks` for this node — a data steward edits a threshold without a
    * recompile, exactly the reference's workflow
    * (etl/utils/base_table.py:155-167). Absent file → compiled checks,
    * so code defaults still gate tables nobody wrote a suite for.
    */
  def checkSuiteDir: Option[String] = None

  /** The schema contract: the explicit projection every read() applies
    * (reference pattern: etl/layers/bronze/orders.py:163-170 — "explicitly
    * defined columns for easier debugging", README.md:101).
    */
  def outputColumns: Seq[String]

  /** In-memory result of the last transform, served by read() when
    * writeData=false (the reference's dry-run/test path,
    * etl/layers/bronze/orders.py:133-142).
    */
  protected var currentData: Option[DataFrame] = None

  protected final def dataset(df: DataFrame): EtlDataSet =
    EtlDataSet(name, df, primaryKeys, storagePath, dataFormat, database,
      partitionKeys)

  /** Extract = run-if-asked then read each upstream node, memoized
    * (reference loop: etl/layers/silver/dim_buyer_silver.py:75-87).
    * Upstreams are kicked off CONCURRENTLY (each lineage branch is one
    * [[RunRegistry]] Future), so sibling branches overlap on the cluster
    * instead of executing depth-first one at a time; results are awaited
    * in declaration order, keeping semantics identical.
    */
  def extractUpstream(): Seq[EtlDataSet] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      RunRegistry.sharedExecutionContext
    val fs = upstreams.map { up =>
      Future {
        if (runUpstream) registry.runOnce(up) else registry.readOnce(up)
      }
    }
    fs.map(Await.result(_, Duration.Inf))
  }

  def transformUpstream(upstream: Seq[EtlDataSet]): EtlDataSet

  /** Evaluate this table's checks; empty = pass
    * (replaces base_table.py:140-196).
    */
  /** The checks actually gating this run: the runtime-loaded suite when
    * one exists, else the compiled list. */
  final def effectiveChecks: Seq[Check] =
    checkSuiteDir
      .flatMap(graft.checks.CheckSuites.load(_, name))
      .getOrElse(checks)

  final def validate(ds: EtlDataSet): Seq[graft.checks.CheckViolation] =
    Checks.evaluate(ds.data, effectiveChecks)

  /** Partitioned overwrite, format-parametric
    * (reference: base_table.py:198-220; the reference's Delta
    * `mergeSchema` write option is replaced by the schema sidecar below —
    * same evolution contract, carried as table metadata).
    * Divergence: partitionOverwriteMode=dynamic. The reference's plain
    * overwrite drops ALL prior loads on every run, which makes its
    * "latest etl_inserted partition" read trivially single-valued; dynamic
    * overwrite keeps load history (only same-timestamp partitions are
    * replaced), so the latest-partition read prunes meaningfully and
    * re-runs stay idempotent.
    *
    * The REBALANCE hint sizes write partitions to the data: without it
    * every node writes one file per transform partition (up to
    * shuffle.partitions files for a 150-row dimension — the round-1
    * write-amplification hotspot: 13 lineage nodes × 32 tiny files), and
    * a skewed partition writes one huge file. With AQE, rebalance
    * coalesces small outputs to a single file and splits oversized
    * partitions at the advisory size — the same optimize-on-write shape
    * production lakehouses use.
    */
  /** Per-format reader/writer options: self-describing formats need
    * none; csv needs its header written and read back. Schema inference
    * (csv `inferSchema`, parquet footer merging) only happens on the
    * legacy fallback read of a table that predates the schema sidecar —
    * every table written by this code pins its exact schema at write
    * time and reads never infer.
    */
  private def formatOptions(fmt: String, legacyInfer: Boolean = false)
      : Map[String, String] = fmt match {
    case "csv" if legacyInfer => Map("header" -> "true",
      "inferSchema" -> "true")
    // enforceSchema=false validates each csv file's header against the
    // pinned schema (csv mapping is otherwise POSITIONAL, header ignored):
    // reading an old partition whose schema predates an evolution fails
    // loudly instead of silently shifting that partition's values into
    // the wrong columns. The hot latest-partition read is unaffected —
    // the newest load's header always equals the pinned schema. Csv
    // format limitation, documented; parquet/orc resolve by name.
    case "csv" => Map("header" -> "true", "enforceSchema" -> "false")
    case _ => Map.empty
  }

  // ---- table metadata: the pinned read schema ----
  // The reference carries schema evolution in Delta's transaction log
  // (etl/utils/base_table.py:211-217, mergeSchema on write); on plain
  // files the equivalent is a sidecar: each write() persists the exact
  // written schema (partition columns included), and read() applies it
  // with spark.read.schema(...). That removes BOTH per-read footer
  // merging across the whole partition history (a driver metadata
  // bottleneck as load count × file count grows) and csv re-inference
  // (an extra full scan per read, with lossy round-trip types). Old
  // partitions lacking a later-added column resolve it as NULL under the
  // pinned schema — the same evolution contract mergeSchema gave us,
  // now at O(1) planning cost. The `_`-prefix keeps the sidecar
  // invisible to Spark's file index.

  private def sidecarPath = new Path(storagePath, "_graft_schema.json")

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomic: write to a temp name, then rename OVER the live sidecar in
    * one metadata op (FileContext rename with OVERWRITE — atomic on HDFS
    * and the local fs). A crash mid-write leaves either the previous
    * sidecar or the new one — never a truncated JSON, and never the
    * delete-then-rename window where NO sidecar exists and a concurrent
    * read() silently degrades to the slower legacy mergeSchema plan.
    */
  private def persistSchema(schema: StructType): Unit = {
    val f = fs(sidecarPath)
    val tmp = f.makeQualified(
      new Path(storagePath, s"_graft_schema.json.tmp"))
    val dst = f.makeQualified(sidecarPath)
    val out = f.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** None on missing or CORRUPT sidecar (bad JSON, checksum mismatch,
    * truncation) — those degrade to the legacy mergeSchema read, loudly.
    * Transient I/O and permission failures PROPAGATE: silently falling
    * back there would let one flaky read serve a different schema (and
    * drop the csv header validation) with nothing distinguishing it
    * from a real corruption.
    */
  private def pinnedSchema(): Option[StructType] = {
    val p = sidecarPath
    if (!fs(p).exists(p)) None
    else {
      def corrupt(e: Throwable): Option[StructType] = {
        System.err.println(
          s"[graft] WARN corrupt schema sidecar $p (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); falling back to legacy mergeSchema read")
        None
      }
      try {
        val in = fs(p).open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        try Some(DataType.fromJson(txt).asInstanceOf[StructType])
        catch { case e: Exception => corrupt(e) } // unparseable JSON
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException => corrupt(e)
        case e: java.io.EOFException => corrupt(e)
      }
    }
  }

  /** The latest load's partition directory, by ONE FileSystem listing of
    * the table root — no Spark job, no file enumeration of older loads.
    * Decoded `etl_inserted` strings (`yyyy-MM-dd HH:mm:ss[.f…]`) order
    * lexically = chronologically; only timestamp-shaped values compete
    * (see [[LoadPartitions]]). Single-partition-key layout only (every
    * graft table); multi-key tables fall back to the scalar-max read.
    */
  private def latestPartitionDir(): Option[Path] = {
    val root = new Path(storagePath)
    if (partitionKeys.size != 1) None
    else LoadPartitions
      .timestampDirs(fs(root), root, partitionKeys.head)
      .lastOption.map(_._1)
  }

  /** Returns the committed txlog version for ACID writes (None on the
    * plain-file path, which has no commit identity to report). */
  final def write(ds: EtlDataSet): Option[Long] = write(ds, () => ())

  /** [[write]] held back by `gate`: a warm txlog load calls it after
    * staging and before the log claim; every other path calls it before
    * writing anything. */
  private def write(ds: EtlDataSet, gate: () => Unit): Option[Long] =
    if (ds.dataFormat == "txlog") Some(writeTx(ds, gate))
    else {
      gate()
      ds.data.hint("rebalance").write
        .option("partitionOverwriteMode", "dynamic")
        .options(formatOptions(ds.dataFormat))
        .format(ds.dataFormat)
        .mode("overwrite")
        .partitionBy(ds.partitionKeys: _*)
        .save(ds.storagePath)
      // latest write wins: the pinned schema is always the newest load's
      persistSchema(ds.data.schema)
      None
    }

  /** ACID write path (`dataFormat = "txlog"`): the reference's actual
    * storage is Delta (spark/conf/spark-defaults.conf:14); this lands
    * the load through [[graft.lake.TxTable]] instead of plain files —
    * first load creates the table, every later load is one ATOMIC
    * dynamic-partition-overwrite commit (same-timestamp re-runs replace
    * their own partition, exactly like the parquet path's dynamic mode,
    * but readers can never see a half-written load and the schema rides
    * in the log, not the sidecar). The load's stamp is read off the
    * files the commit staged, so a warm load runs the node's transform
    * once; a load carrying zero or several stamps is refused before it
    * commits.
    */
  private def writeTx(ds: EtlDataSet, gate: () => Unit): Long = {
    val tab = new graft.lake.TxTable(spark, ds.storagePath)
    if (!tab.exists) {
      gate()
      tab.create(ds.data.hint("rebalance"), ds.partitionKeys)
    } else {
      require(ds.partitionKeys.size == 1,
        s"txlog write supports exactly one partition key, got ${ds.partitionKeys}")
      tab.overwritePartition(ds.partitionKeys.head, ds.data.hint("rebalance"),
        gate)
    }
  }

  /** extract → transform → validate (throw on violation) → write-if-enabled
    * (reference: base_table.py:222-240). The checks run as their own
    * Spark action alongside the write's staging job: nothing is visible
    * until the log claim, so the gate holds back the claim, not the
    * stage. A failed check deletes the staged files and throws
    * [[InvalidDataException]] — also when staging failed too, with the
    * staging error attached as suppressed. Paths with no claim to hold
    * back (day-0 create, plain files, `writeData = false`) await the
    * checks before writing.
    */
  final def run(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val transformed = transformUpstream(extractUpstream())
    currentData = Some(transformed.data)
    val nChecks = effectiveChecks.size
    val checked = Future(validate(transformed))(
      RunRegistry.sharedExecutionContext)
    def gate(): Unit = {
      val violations = Await.result(checked, Duration.Inf)
      if (violations.nonEmpty) {
        val texts = violations.map(v => s"${v.check.description}: ${v.detail}")
        LineageRunReport.record(name,
          NodeRunInfo(dataFormat, nChecks, texts, None))
        throw new InvalidDataException(
          s"The $name dataset did not pass validation: ${texts.mkString("; ")}")
      }
    }
    val committed =
      try if (writeData) write(transformed, () => gate()) else { gate(); None }
      catch { case scala.util.control.NonFatal(e)
          if !e.isInstanceOf[InvalidDataException] =>
        scala.util.Try(gate()) match {
          case scala.util.Failure(dq: InvalidDataException) =>
            dq.addSuppressed(e)
            throw dq
          case _ => throw e
        }
      }
    // row count for the report: free log metadata on txlog tables — sum
    // the Add entries of THE COMMIT THIS RUN JUST WROTE (one commit-file
    // read, never a Spark job). Summing the live snapshot instead would
    // report whole-table cardinality for unpartitioned/multi-key tables.
    val rows = committed.flatMap { v =>
      scala.util.Try {
        val root = new Path(storagePath)
        graft.lake.TxLog.commitEntries(fs(root), root, v)
          .flatMap(_.add).map(_.rows).sum
      }.toOption
    }
    LineageRunReport.record(name,
      NodeRunInfo(dataFormat, nChecks, Seq.empty, rows))
  }

  /** Consumption path (reference: etl/layers/bronze/orders.py:121-182):
    * dry-run → cached frame; partitionValues → conjunctive equality filter
    * (partition pruning drops unselected loads at planning); else the
    * latest `etl_inserted` partition, located by directory listing and
    * loaded directly (`basePath` keeps the partition column) — the
    * "latest run" read plans and touches exactly one load's files no
    * matter how much history the table holds, with no Spark job spent
    * finding it. All reads apply the write-time pinned schema: no footer
    * merging, no csv inference (see the sidecar note above); a table
    * written before the sidecar existed falls back to the legacy
    * mergeSchema scalar-max read.
    */
  def read(partitionValues: Map[String, String] = Map.empty): EtlDataSet = {
    val projected: DataFrame =
      if (!writeData) {
        val df = currentData.getOrElse(throw new IllegalStateException(
          s"read() before run() with writeData=false on $name"))
        df.selectExpr(outputColumns: _*)
      } else if (dataFormat == "txlog") {
        // ACID read path: schema and partition values come from the
        // transaction log (no sidecar, no directory listing, no footer
        // merge). The latest-load lookup is pure log metadata, and the
        // equality filter constant-folds per partition-literal scan
        // branch, so unselected loads' files plan away entirely — the
        // same one-load read cost as the listing path, snapshot-isolated.
        val tab = new graft.lake.TxTable(spark, storagePath)
        val filtered =
          if (partitionValues.nonEmpty) {
            // coerce the pin string to the COLUMN's type (the parquet
            // path's `col === lit(v)` semantics): a timestamp pin like
            // "…00:00:00.0" must match however the caller spells it,
            // which a string-vs-string compare would miss
            val df = tab.read()
            df.where(partitionValues
              .map { case (k, v) =>
                col(k) === lit(v).cast(df.schema(k).dataType) }
              .reduce(_ && _))
          }
          else if (partitionKeys.size == 1)
            // one log resolution serves both the latest-load lookup and
            // the read — this is every node's hot read path
            tab.readLatestPartition(partitionKeys.head)
          else tab.read()
        filtered.selectExpr(outputColumns: _*)
      } else {
        val filtered: DataFrame = pinnedSchema() match {
          case Some(st) if partitionValues.isEmpty =>
            val reader = spark.read.schema(st)
              .options(formatOptions(dataFormat)).format(dataFormat)
            latestPartitionDir() match {
              case Some(dir) => reader
                .option("basePath", storagePath).load(dir.toString)
              case None =>
                // No usable partition listing (multi-key layout, only
                // null-load directories, or empty table): latest-load
                // semantics still hold via the scalar-max filter under
                // the pinned schema — never the bare full-history load.
                val full = reader.load(storagePath)
                if (!st.fieldNames.contains("etl_inserted")) full
                else {
                  val latest = full.agg(max(col("etl_inserted"))).first()
                  if (latest.isNullAt(0)) full
                  else full.where(col("etl_inserted") === lit(latest.get(0)))
                }
            }
          case Some(st) =>
            spark.read.schema(st)
              .options(formatOptions(dataFormat)).format(dataFormat)
              .load(storagePath)
              .where(partitionValues
                .map { case (k, v) => col(k) === lit(v) }
                .reduce(_ && _))
          case None =>
            // legacy (pre-sidecar) table: footer-merged union schema +
            // scalar-max latest-partition selection, as the reference
            // does it (etl/layers/bronze/orders.py:143-160)
            val full = spark.read.option("mergeSchema", "true")
              .options(formatOptions(dataFormat, legacyInfer = true))
              .format(dataFormat).load(storagePath)
            if (partitionValues.nonEmpty)
              full.where(partitionValues
                .map { case (k, v) => col(k) === lit(v) }
                .reduce(_ && _))
            else {
              val latest = full.agg(max(col("etl_inserted"))).first()
              if (latest.isNullAt(0)) full
              else full.where(col("etl_inserted") === lit(latest.get(0)))
            }
        }
        filtered.selectExpr(outputColumns: _*)
      }
    dataset(projected)
  }
}
