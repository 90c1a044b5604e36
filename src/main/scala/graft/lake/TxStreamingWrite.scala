package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write.{
  DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DataType, StructType}

import TxLog.Txn

/** The txlog table as a DataSource V2 STREAMING WRITE — the public
  * connector-API sink (`writeStream.toTable("cat.ns.t")` /
  * `writeStream.format("txlog")`): executor tasks land micro-batch
  * rows as immutable parquet under the ordinary `data/<uuid>/` staging
  * convention through the lake's one commit-file writer
  * ([[StageTaskWriter]]) — rows never touch the driver, and each task
  * reports its files' stats, computed while writing, in its commit
  * message. The driver's `commit(epochId)` turns those stats into Add
  * actions (bloom sidecars added on bloom-indexed tables) and claims
  * one atomic commit under the `(queryId, epochId)` writer-transaction
  * watermark.
  * Exactly-once falls out of the log: a replayed epoch is a no-op, an
  * aborted epoch's staged files are never referenced (vacuum reclaims
  * them, like any lost-race staging), and the idempotence key is the
  * STREAMING QUERY ID Spark persists in the checkpoint — stable across
  * restarts, never shared across queries, and gone with a wiped
  * checkpoint (a reprocessing restart lands its batches again).
  *
  * A missing table is created by the first epoch's commit from the
  * stream schema, unpartitioned (Spark hands a path-addressed sink no
  * partitioning): create a partitioned destination before streaming.
  * Staged files carry PHYSICAL names fixed at query start by the same
  * evolution the commit applies, so a column dropped and then re-added
  * lands under a fresh physical name and the dropped bytes never
  * resurrect (batch append's rule).
  *
  * Scope: CHECK / NOT NULL constraints ENFORCE here, executor-side —
  * they validate rows without rewriting them, so each expression is
  * ANALYZER-resolved against the stream schema once at query start
  * (function resolution + type coercion; an unresolvable constraint
  * fails `.start()`) and compiled to a codegen predicate per task; a
  * violating row fails its task and the epoch never commits.
  *
  * Row-REWRITING features ride the same executor-side compile:
  * GENERATED / DEFAULT columns the stream omits are analyzer-resolved
  * value expressions appended by ONE codegen projection per task
  * (rows never widen on the driver), a generated column the stream
  * SUPPLIES is validated per row against its expression (null-safe
  * equality — the batch path's rule), and IDENTITY columns allocate
  * per EPOCH from the logged watermark: Spark wraps every micro-batch
  * in its own `MicroBatchWrite`, so [[createStreamingWriterFactory]]
  * runs on the driver once per epoch, re-reads the watermark, and
  * ships `Literal(start) + MonotonicallyIncreasingID()` — the exact
  * allocation the batch path uses — whose staged max then bumps the
  * watermark inside the same commit
  * ([[TxTable.commitStagedAppend]]'s identity bump, read from the
  * files' own stats). ROW TRACKING rides the same per-epoch
  * allocation: `_row_id` is appended physically (never evolving into
  * the logical schema), its staged max bumps `rowIdWatermark` in the
  * same commit, and the change feed stays consistent because the
  * sink's commits are insert-only — the inserted rows' ids live in
  * the data files the feed reads.
  */
final class TxStreamingWrite(rootStr: String, partitionCols: Seq[String],
    streamSchema: StructType, queryId: String) extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active

  /** Resolve a value expression through the FULL analyzer against an
    * empty frame of the stream schema (function resolution + implicit
    * casts — what the batch path's expr() gets), bound to stream
    * ordinals. Failure refuses at `.start()`, not the Nth batch. */
  private def resolveOnStream(sql: String, what: String)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      streamSchema)
    val analyzed =
      try probe.selectExpr(sql).queryExecution.analyzed
      catch { case e: Exception => sys.error(
        s"txlog DSv2 streaming write to $rootStr: $what ($sql) does " +
          s"not analyze against the stream schema (" +
          s"${streamSchema.fieldNames.mkString(", ")}): ${e.getMessage}") }
    val proj = analyzed.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.getOrElse(sys.error(s"$what ($sql): no Project in analyzed plan"))
    val value = proj.projectList.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(value,
        org.apache.spark.sql.catalyst.expressions.AttributeSeq(
          proj.child.output))
  }

  // resolved ONCE at query start, driver-side: physical mapping and
  // gate refusals (failure locality: a refused table fails .start(),
  // not the Nth micro-batch)
  private val (physSchema, partCols, checkRows, notNullOrdinals,
      appendedCols, statCols, physicalNames) = {
    val tx = new TxTable(spark, rootStr)
    val metaOpt =
      if (tx.exists) {
        val root = new Path(rootStr)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Some(TxLog.snapshot(fs, root).meta)
      } else None
    metaOpt.foreach { m =>
      if (m.tracksRows)
        require(!streamSchema.fieldNames.contains("_row_id"),
          "the table tracks rows — `_row_id` is engine-allocated, " +
            "the stream must not supply it")
      m.identities.keys.foreach(c =>
        require(!streamSchema.fieldNames.contains(c),
          s"identity column $c is GENERATED ALWAYS — the stream " +
            "must not supply it"))
    }
    // columns the table REWRITES onto incoming rows that the stream
    // omits: generated / default columns become analyzer-resolved
    // value expressions (Some(expr)); identity columns get their
    // per-epoch watermark expression later (None — see
    // createStreamingWriterFactory). Appended in table-schema order
    // after the stream's own fields → the AUGMENTED schema every
    // downstream piece (partition routing, physical write schema,
    // validators) is computed over.
    val appended: Seq[(String, DataType,
        Option[org.apache.spark.sql.catalyst.expressions.Expression])] =
      metaOpt.toSeq.flatMap { m =>
        m.schema.fields.toSeq
          .filterNot(f => streamSchema.fieldNames.contains(f.name))
          .flatMap { f =>
            if (m.generated.contains(f.name))
              Some((f.name, f.dataType, Some(resolveOnStream(
                s"CAST((${m.generated(f.name)}) AS ${f.dataType.sql})",
                s"generated column ${f.name}"))))
            else if (m.identities.contains(f.name))
              Some((f.name, f.dataType, None))
            else if (m.defaults.contains(f.name))
              Some((f.name, f.dataType, Some(resolveOnStream(
                s"CAST((${m.defaults(f.name)}) AS ${f.dataType.sql})",
                s"default for column ${f.name}"))))
            else None // plain absent column: ordinary null-fill
          }
      } ++
        // ROW TRACKING rides the identity-column pattern: `_row_id` is
        // a per-epoch watermark allocation (None marker — the factory
        // re-reads `nextRowId` each epoch), physically written like
        // any column but NEVER part of the logical schema (commit()
        // strips it from the evolve schema; the writer tasks still
        // compute its stats so the watermark bump reads the staged
        // max). The change feed stays consistent: the sink's commits
        // are insert-only, and insert rows' ids live in the data files
        // the diff-based feed reads.
        metaOpt.filter(_.tracksRows).map(_ =>
          ("_row_id", org.apache.spark.sql.types.LongType: DataType,
            Option.empty[
              org.apache.spark.sql.catalyst.expressions.Expression]))
    val augSchema = StructType(streamSchema.fields ++
      appended.map { case (n, dt, _) =>
        org.apache.spark.sql.types.StructField(n, dt, nullable = true) })
    // CHECK / NOT NULL are pure VALIDATION (no row rewriting), so the
    // sink enforces them EXECUTOR-SIDE: each constraint is resolved
    // through the FULL ANALYZER against an empty frame of the stream
    // schema — the exact analysis the batch path's expr(sql) gets, so
    // function calls resolve and implicit type coercion runs (a
    // name-only bind would leave UnresolvedFunction / uncoerced literal
    // comparisons that throw in every task) — then the resolved
    // attributes bind to stream ordinals. Analysis or bind failure
    // refuses at .start() (failure locality), not the Nth batch. NULL
    // passes a CHECK (SQL's rule, the batch path's semantics); a
    // violating row fails its task — the epoch never commits, staged
    // files are vacuum-reclaimable orphans, exactly the abort contract
    // every other failure has.
    // validators bind against the AUGMENTED schema (a CHECK may
    // reference a generated column the projection appends)
    def bindPredicate(sql: String, what: String)
        : org.apache.spark.sql.catalyst.expressions.Expression = {
      val probe = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        augSchema)
      val analyzed =
        try probe.where(org.apache.spark.sql.functions.expr(sql))
          .queryExecution.analyzed
        catch { case e: Exception => sys.error(
          s"txlog DSv2 streaming write to $rootStr: $what ($sql) " +
            s"does not analyze against the stream schema (" +
            s"${augSchema.fieldNames.mkString(", ")}): ${e.getMessage}") }
      val filter = analyzed.collectFirst {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl
      }.getOrElse(sys.error(s"$what ($sql): analyzed plan has no Filter"))
      // the probe is a LocalRelation in augmented-schema order, so the
      // child's output attributes ARE the joined-row ordinals
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(filter.condition,
          org.apache.spark.sql.catalyst.expressions.AttributeSeq(
            filter.child.output))
    }
    val checks: Seq[(String, org.apache.spark.sql.catalyst.expressions
        .Expression)] =
      metaOpt.map(_.checkExprs.map { sql =>
        (sql, org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
          bindPredicate(sql, "CHECK"),
          org.apache.spark.sql.catalyst.expressions.Literal(true)))
          : org.apache.spark.sql.catalyst.expressions.Expression)
      }).getOrElse(Nil)
    // a generated column the stream SUPPLIES is validated per row
    // (null-safe equality against its expression — the batch path's
    // applyGenerated rule: a writer can never land a row where the
    // derived key lies about the row)
    val genValidators: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)] =
      metaOpt.toSeq.flatMap { m =>
        m.generated.toSeq.sortBy(_._1)
          .filter { case (c, _) => streamSchema.fieldNames.contains(c) }
          .map { case (c, e) =>
            val dt = m.schema(c).dataType
            (s"generated column $c must equal ($e)",
              bindPredicate(s"`$c` <=> CAST(($e) AS ${dt.sql})",
                s"generated column $c"))
          }
      }
    val requiredOrds: Seq[(String, Int)] =
      metaOpt.map(_.requiredCols.map { c =>
        val idx = augSchema.fieldNames.indexOf(c)
        require(idx >= 0,
          s"stream omits NOT NULL column $c — refused at query start")
        (c, idx)
      }).getOrElse(Nil)
    val parts = metaOpt.map(_.partitionCols.toSeq).getOrElse(partitionCols)
    parts.foreach(c => require(augSchema.fieldNames.contains(c),
      s"partition column $c is not in the stream schema " +
        s"(${augSchema.fieldNames.mkString(", ")})"))
    // the meta the commit lands under: the table's evolved by the
    // stream's columns (a re-added column gets its fresh physical name
    // HERE, and the commit reuses it), or the one the first epoch's
    // commit creates from the stream schema
    val logical = StructType(augSchema.fields.filterNot(_.name == "_row_id"))
    val meta = metaOpt.fold(TxLog.Meta(streamSchema.json, parts.toList))(
      tx.evolve(_, logical))
    // rows arrive in augmented order; files store PHYSICAL names
    val phys = StructType(augSchema.fields.map(f =>
      f.copy(name = meta.physicalOf(f.name))))
    (phys, parts, (checks ++ genValidators).toArray,
      requiredOrds.toArray, appended,
      TxTable.statColsOf(meta, augSchema),
      logical.fieldNames.map(n => n -> meta.physicalOf(n)).toMap)
  }

  /** The staged data's LOGICAL schema: the stream's own columns plus
    * the appended generated/identity/default ones — what the commit
    * evolves/validates against and computes stats over. */
  private val augLogical = StructType(streamSchema.fields ++
    appendedCols.map { case (n, dt, _) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = true) })

  /** Per-query staging root under the table's own data/ convention —
    * an aborted query's files are orphans vacuum reclaims. */
  private val stageRel =
    "data/" + java.util.UUID.randomUUID.toString.take(8)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // identity starts re-read HERE — Spark calls this once per epoch
    // (each micro-batch gets its own MicroBatchWrite), so every epoch
    // allocates past the watermark the previous commit bumped
    val identityStarts: Map[String, Long] =
      if (appendedCols.exists(_._3.isEmpty)) {
        val root = new Path(rootStr)
        val fs = root.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val m = TxLog.snapshot(fs, root).meta
        m.identities ++
          (if (m.tracksRows) Map("_row_id" -> m.nextRowId)
          else Map.empty[String, Long])
      } else Map.empty
    val appendExprs = appendedCols.map {
      case (_, _, Some(e)) => e
      case (n, dt, None) =>
        val alloc: org.apache.spark.sql.catalyst.expressions.Expression =
          org.apache.spark.sql.catalyst.expressions.Add(
            org.apache.spark.sql.catalyst.expressions.Literal(
              identityStarts.getOrElse(n, 1L)),
            org.apache.spark.sql.catalyst.expressions
              .MonotonicallyIncreasingID())
        if (dt == org.apache.spark.sql.types.LongType) alloc
        else Cast(alloc, dt)
    }.toArray
    val root = new Path(rootStr)
    releaseStage()
    val b = spark.sparkContext.broadcast(
      StageWrite.factory(spark, physSchema, physSchema.fieldNames.toSeq,
        new Path(root, stageRel).toString, root.toUri.getPath, partCols,
        statCols, TxTable.statHllLgK))
    stage = Some(b)
    TxStreamWriterFactory(b, checkRows, notNullOrdinals, appendExprs)
  }

  // the current epoch's staging factory: broadcast once per epoch,
  // destroyed when the epoch commits or aborts
  @volatile private var stage: Option[Broadcast[StageWrite.Factory]] = None

  private def releaseStage(): Unit = { stage.foreach(_.destroy()); stage = None }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    releaseStage()
    val stats = messages.toVector.flatMap {
      case m: TxStreamCommitMessage => m.stats
      case other => sys.error(s"unexpected commit message $other")
    }
    val tx = new TxTable(spark, rootStr)
    if (!tx.exists)
      tx.createIfAbsent(streamSchema, partCols): Unit
    val adds =
      if (stats.isEmpty) Vector.empty
      else {
        val root = new Path(rootStr)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        tx.withBloomSidecars(tx.addsFromStats(stats, statCols),
          TxLog.snapshot(fs, root).meta, augLogical.fieldNames.toSet)
      }
    // `_row_id` is physical-only: present in the staged files (and in
    // the stat columns, so the watermark bump sees the staged max) but
    // never in the schema the commit evolves against
    val logical = StructType(
      augLogical.fields.filterNot(_.name == "_row_id"))
    // empty batches still advance the watermark: a replay of this
    // epoch after a restart must no-op even if it held no rows
    tx.commitStagedAppend(logical, physicalNames, adds,
      Txn(s"dsv2:$queryId", epochId)): Unit
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    releaseStage()
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: TxStreamCommitMessage =>
        m.stats.foreach(st =>
          scala.util.Try(fs.delete(new Path(root, st.rel), false)): Unit)
      case _ => ()
    }
  }

  override def toString: String = s"TxStreamingWrite[$rootStr]"
}

/** Files one task landed (root-relative, partition dirs included) with
  * the stats its writer computed while landing them. */
final case class TxStreamCommitMessage(stats: Seq[StagedStat])
    extends WriterCommitMessage

final case class TxStreamWriterFactory(
    stage: Broadcast[StageWrite.Factory],
    checks: Array[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    notNull: Array[(String, Int)],
    appendExprs: Array[org.apache.spark.sql.catalyst.expressions.Expression])
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new TxStreamDataWriter(this, partitionId, taskId)
}

/** One task's writer: appends the table-rewritten columns, validates
  * each row, and hands it to [[StageTaskWriter]], which routes rows to
  * Hive-escaped partition directories exactly like batch staging and
  * reports per-file stats in the commit message. */
final class TxStreamDataWriter(f: TxStreamWriterFactory,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val out = new StageTaskWriter(f.stage.value, partitionId, taskId)

  // constraint predicates compiled ONCE per task from the bound
  // expressions the driver resolved at query start: NOT NULL is a
  // null probe at a fixed ordinal, CHECK a codegen'd predicate whose
  // NULL result passes (SQL's rule — the driver wrapped each in
  // COALESCE(expr, true), so eval() == false IS a violation)
  private lazy val checkPreds = f.checks.map { case (sql, e) =>
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
    p.initialize(partitionId)
    (sql, p)
  }

  private def validate(row: InternalRow): Unit = {
    var i = 0
    while (i < f.notNull.length) {
      if (row.isNullAt(f.notNull(i)._2))
        sys.error(s"streaming write violates NOT NULL " +
          s"(${f.notNull(i)._1}) — batch refused, nothing committed")
      i += 1
    }
    var j = 0
    while (j < checkPreds.length) {
      if (!checkPreds(j)._2.eval(row))
        sys.error(s"streaming write violates CHECK " +
          s"(${checkPreds(j)._1}) — batch refused, nothing committed")
      j += 1
    }
  }

  // generated/default/identity columns appended by ONE codegen
  // projection; the JoinedRow presents (stream ++ appended) under the
  // augmented ordinals every other piece was bound to. Initialized
  // per task: MonotonicallyIncreasingID (identity allocation) embeds
  // the partition ordinal
  private lazy val appendProj = {
    val p = UnsafeProjection.create(f.appendExprs.toIndexedSeq)
    p.initialize(partitionId)
    p
  }
  private val joined =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow

  override def write(row0: InternalRow): Unit = {
    val row =
      if (f.appendExprs.isEmpty) row0
      else joined(row0, appendProj(row0))
    validate(row)
    out.write(row)
  }

  override def commit(): WriterCommitMessage =
    TxStreamCommitMessage(out.finish().toSeq)

  override def abort(): Unit = out.abort()

  override def close(): Unit = ()
}
