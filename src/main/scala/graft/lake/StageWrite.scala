package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** Per-file result of one staged write: the root-relative path plus the
  * stats the commit needs, computed BY THE WRITING TASK while the rows
  * stream through, so the commit never re-reads (or even re-lists) what
  * it just wrote. `mins`/`maxs` carry Catalyst's Cast-to-string
  * rendering (null where the file holds no non-null value); `hlls` the
  * serialized HLL sketch for string stat columns (null elsewhere).
  * Arrays are parallel to the staging call's statCols order. `cdf`
  * marks a change-feed file of a combined data+capture write; it
  * carries rows and bytes only (stat arrays null). */
final case class StagedStat(rel: String, rows: Long, bytes: Long,
    mins: Array[String], maxs: Array[String], nulls: Array[Long],
    hlls: Array[Array[Byte]], cdf: Boolean = false)

/** The one writer that lands lake commit files: a DataFrame staged as
  * partition-routed parquet (byte-compatible with what
  * `DataFrame.write.partitionBy` lands: same Hive-escaped fragments,
  * same `__HIVE_DEFAULT_PARTITION__` nulls, same vectorized parquet
  * writer via Spark's own [[OutputWriterFactory]]), with per-file stats
  * computed in the writer tasks themselves. Batch DML, appends and the
  * DSv2 streaming sink's executor tasks all write through
  * [[StageTaskWriter]].
  *
  * ONE Spark job per commit and zero re-reads. Stats match a read-back
  * aggregation over the landed files by construction:
  *   - min/max tracked with the same orderings Catalyst's Min/Max use
  *     (NaN greatest, ±0.0 equal-first-seen for floats; signed for
  *     integers; binary UTF8String for strings) and rendered through
  *     Catalyst's own Cast-to-string at file close;
  *   - null counts counted per column;
  *   - string-column HLL sketches driven through Spark's own
  *     [[HllSketchAgg]] (identical class, identical lgK, identical
  *     update sequence = the file's own row order).
  *
  * [[stageWithCapture]] lands a commit's change feed in the SAME job
  * (Delta's commit-time CDC design: the capture rides the data write):
  * change rows land flat under their own `_change_data/<uuid>/` dir
  * with `_change_type` kept; data rows land under `data/<uuid>/`.
  *
  * Task-retry safety without a commit protocol: files are named by
  * `TaskContext.taskAttemptId` (unique per attempt), and ONLY the stats
  * returned by the winning attempt reach the commit: a failed or
  * speculative attempt's files are unreferenced orphans in the staging
  * dir, reclaimed by vacuum exactly like a lost optimistic race's.
  */
object StageWrite {

  /** Stat spec for one column: physical name + its (projected-row)
    * ordinal and type; `kind` per [[graft.lake.TxTable]]'s statKind. */
  final case class StatSpec(phys: String, ord: Int, dataType: DataType,
      kind: String)

  /** Everything a writing task needs, built once on the driver. It
    * holds one or two Hadoop confs (~1,000 entries, ~110 KB serialized
    * each), so it reaches tasks as ONE broadcast per staging job or
    * streaming epoch — never inside each task's closure — and each
    * task copies the conf once into its own `JobConf`. */
  final case class Factory(stageAbs: String, rootAbs: String,
      writers: OutputWriterFactory, conf: SerializableConfiguration,
      dataSchema: StructType, partCols: Array[String],
      partIdx: Array[Int], partTypes: Array[DataType],
      dataIdx: Array[Int], dataTypes: Array[DataType], zoneId: String,
      stats: Array[StatSpec], hllLgK: Int, ext: String,
      // change-feed routing (all unset for plain staging); the parquet
      // writer takes its schema from the Hadoop conf, so each side
      // carries its own
      cdfStageAbs: String = null, cdfTagOrdinal: Int = -1,
      cdfSchema: StructType = null, cdfIdx: Array[Int] = null,
      cdfTypes: Array[DataType] = null,
      cdfWriters: OutputWriterFactory = null,
      cdfConf: SerializableConfiguration = null)

  /** Cap on parquet writers a task holds open at once across dynamic
    * partition fragments. Each open writer pins a row-group buffer, so
    * a task spanning many partition values — a date-partitioned
    * backfill, a watermark burst — would otherwise grow its memory
    * with the number of DISTINCT fragments it sees: the executor-OOM
    * shape Spark's own `FileFormatWriter` guards with a sorted
    * single-writer fallback. Here the guard is LRU rotation: past the
    * cap the least-recently-written fragment's file is closed, and a
    * later row for it opens a fresh file in the same directory (several
    * files per partition directory is the normal landed shape, so
    * content is unchanged — unsorted input costs file COUNT, never
    * memory). */
  val MaxOpenWriters = 32

  private val ChangeType = "_change_type"
  private val Tag = "__txlog_cdf"

  /** Stage `physDf` (physical column names; partition columns included)
    * under `stageAbs` and return the per-file stats. One Spark action. */
  def stage(spark: SparkSession, physDf: DataFrame, stageAbs: String,
      rootAbs: String, partCols: Seq[String],
      statCols: Seq[(String, DataType, String)], hllLgK: Int)
      : Vector[StagedStat] =
    run(spark, physDf, factory(spark, physDf.schema, physDf.columns.toSeq,
      stageAbs, rootAbs, partCols, statCols, hllLgK))

  /** Data + change feed in ONE Spark action: `physDf` lands under
    * `stageAbs` with full stats like [[stage]]; `physChanges` (physical
    * names + `_change_type`, partition columns riding as DATA columns —
    * feed files are planned from log metadata, never
    * partition-discovered) lands flat under `cdfStageAbs`, one file per
    * writing task, as `cdf` stats. */
  def stageWithCapture(spark: SparkSession, physDf: DataFrame,
      physChanges: DataFrame, stageAbs: String, cdfStageAbs: String,
      rootAbs: String, partCols: Seq[String],
      statCols: Seq[(String, DataType, String)], hllLgK: Int)
      : Vector[StagedStat] = {
    // one relation for both sides, a boolean tag routes each row; each
    // side projects only its own columns out of the by-name union
    val tagged = physDf
      .withColumn(ChangeType, lit(null).cast(StringType))
      .withColumn(Tag, lit(false))
      .unionByName(physChanges.withColumn(Tag, lit(true)),
        allowMissingColumns = true)
    val full = tagged.schema
    val base = factory(spark, full, physDf.columns.toSeq, stageAbs,
      rootAbs, partCols, statCols, hllLgK)
    val cdfIdx = physChanges.columns.map(full.fieldIndex)
    val cdfSchema = StructType(cdfIdx.map(i =>
      full.fields(i).copy(nullable = true)).toIndexedSeq)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val cdfWriters = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], cdfSchema)
    run(spark, tagged, base.copy(cdfStageAbs = cdfStageAbs,
      cdfTagOrdinal = full.fieldIndex(Tag), cdfSchema = cdfSchema,
      cdfIdx = cdfIdx, cdfTypes = cdfIdx.map(i => full.fields(i).dataType),
      cdfWriters = cdfWriters,
      cdfConf = new SerializableConfiguration(job.getConfiguration)))
  }

  /** Writer-task configuration over rows of schema `full`: `dataCols`
    * name the columns that land (partition columns among them route to
    * directories), `statCols` the per-file stats. Built on the driver,
    * shipped to every writing task. */
  private[lake] def factory(spark: SparkSession, full: StructType,
      dataCols: Seq[String], stageAbs: String, rootAbs: String,
      partCols: Seq[String], statCols: Seq[(String, DataType, String)],
      hllLgK: Int): Factory = {
    val partIdx = partCols.map(full.fieldIndex).toArray
    val partTypes = partIdx.map(i => full.fields(i).dataType)
    val dataIdx = dataCols.filterNot(partCols.contains)
      .map(full.fieldIndex).toArray
    val dataTypes = dataIdx.map(i => full.fields(i).dataType)
    val dataSchema = StructType(dataIdx.map(i =>
      full.fields(i).copy(nullable = true)).toIndexedSeq)
    val dataNames = dataIdx.map(i => full.fields(i).name)
    val stats = statCols.map { case (phys, dt, kind) =>
      val ord = dataNames.indexOf(phys)
      require(ord >= 0, s"stat column $phys absent from staged schema")
      // the writer reads each value under `dt`: it must be the staged
      // column's own type, never a table type the rows were not cast to
      require(dataTypes(ord) == dt, s"stat column $phys: spec type " +
        s"${dt.simpleString} != staged ${dataTypes(ord).simpleString}")
      StatSpec(phys, ord, dt, kind)
    }.toArray
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writers = new ParquetFileFormat().prepareWrite(
      spark, job, Map.empty[String, String], dataSchema)
    val ctx0 = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(
        new org.apache.hadoop.mapreduce.JobID("graftstage", 0),
        TaskType.MAP, 0), 0))
    Factory(stageAbs, rootAbs, writers,
      new SerializableConfiguration(job.getConfiguration), dataSchema,
      partCols.toArray, partIdx, partTypes, dataIdx, dataTypes,
      spark.sessionState.conf.sessionLocalTimeZone, stats, hllLgK,
      writers.getFileExtension(ctx0))
  }

  /** One job over `physDf`'s rows; `f`'s broadcast ends with it. */
  private def run(spark: SparkSession, physDf: DataFrame, f: Factory)
      : Vector[StagedStat] = {
    val rdd = physDf.queryExecution.toRdd
    val bf = spark.sparkContext.broadcast(f)
    try spark.sparkContext.runJob(rdd,
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        if (it.isEmpty) Array.empty[StagedStat]
        else {
          val w = new StageTaskWriter(bf.value, ctx.partitionId(),
            ctx.taskAttemptId())
          try { it.foreach(w.write); w.finish() }
          catch { case t: Throwable => w.abort(); throw t }
        }
      }).flatten.toVector
    finally bf.destroy()
  }

  /** Hive's escapePathName (the inverse of [[TxTable]]'s unescape and
    * the spelling Spark's own dynamic-partition writes use): control
    * chars and filesystem-hostile specials become %XX. */
  private val needsEscape: Char => Boolean = c =>
    c < 0x20 || "\"#%'*/:=?\\{[]^".indexOf(c.toInt) >= 0

  def escape(s: String): String =
    if (!s.exists(needsEscape)) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach { c =>
        if (needsEscape(c)) sb.append(f"%%${c.toInt}%02X")
        else sb.append(c)
      }
      sb.toString
    }
}

/** One task's staging writer: LRU-bounded per-partition-fragment parquet
  * writers, plus a per-open-file stats aggregator updated as rows stream
  * through. Batch staging and the DSv2 streaming sink's tasks both
  * drive it. */
private[lake] final class StageTaskWriter(f: StageWrite.Factory,
    partitionId: Int, taskAttemptId: Long) {

  // one JobConf copy per task (the factory's conf is shared by every
  // task of the executor); the context keeps a JobConf as given
  private def taskCtx(conf: SerializableConfiguration) =
    new TaskAttemptContextImpl(new JobConf(conf.value),
      new TaskAttemptID(new TaskID(
        new org.apache.hadoop.mapreduce.JobID(
          "graftstage", partitionId), TaskType.MAP, partitionId),
        (taskAttemptId % Int.MaxValue).toInt))
  private val ctx = taskCtx(f.conf)
  private lazy val cdfCtx = taskCtx(f.cdfConf)

  private lazy val dataProj = UnsafeProjection.create(
    f.dataIdx.toIndexedSeq.zip(f.dataTypes.toIndexedSeq).map {
      case (i, dt) => BoundReference(i, dt, nullable = true)
    })

  private lazy val cdfProj =
    if (f.cdfIdx == null) null
    else UnsafeProjection.create(
      f.cdfIdx.toIndexedSeq.zip(f.cdfTypes.toIndexedSeq).map {
        case (i, dt) => BoundReference(i, dt, nullable = true)
      })

  // partition values rendered with Catalyst's own Cast — the spelling
  // DataFrame.write's dynamic partitioning uses
  private lazy val partProj = UnsafeProjection.create(
    f.partIdx.toIndexedSeq.zip(f.partTypes.toIndexedSeq).map {
      case (i, dt) =>
        Cast(BoundReference(i, dt, nullable = true), StringType,
          Some(f.zoneId))
    })

  // one HllSketchAgg per string stat column, reused across files (the
  // per-file state is the buffer, not the agg) — Spark's own class, so
  // sketch bytes match the read-back aggregation's exactly
  private lazy val hllAggs: Array[HllSketchAgg] = f.stats.map { s =>
    if (s.kind == "s")
      new HllSketchAgg(
        BoundReference(s.ord, s.dataType, nullable = true),
        Literal(f.hllLgK))
    else null
  }

  /** Per-open-file stats accumulator. Orderings replicate Catalyst's
    * Min/Max update rule (strictly-less/greater replaces, ties keep the
    * first-seen value; NaN greatest, -0.0 == 0.0 for floats). */
  private final class FileAgg {
    private val n = f.stats.length
    val nulls = new Array[Long](n)
    private val seen = new Array[Boolean](n)
    private val minL = new Array[Long](n)
    private val maxL = new Array[Long](n)
    private val minD = new Array[Double](n)
    private val maxD = new Array[Double](n)
    private val minS = new Array[UTF8String](n)
    private val maxS = new Array[UTF8String](n)
    val hllBufs: Array[org.apache.datasketches.hll.HllSketch] =
      hllAggs.map(a => if (a == null) null else a.createAggregationBuffer())

    private def cmpD(x: Double, y: Double): Int =
      if (x < y) -1 else if (x > y) 1 else if (x == y) 0
      else if (java.lang.Double.isNaN(x)) {
        if (java.lang.Double.isNaN(y)) 0 else 1
      } else -1

    def update(row: InternalRow): Unit = {
      var i = 0
      while (i < n) {
        val s = f.stats(i)
        if (row.isNullAt(s.ord)) nulls(i) += 1
        else {
          s.kind match {
            case "l" =>
              val v = s.dataType match {
                case ByteType => row.getByte(s.ord).toLong
                case ShortType => row.getShort(s.ord).toLong
                case IntegerType => row.getInt(s.ord).toLong
                case _ => row.getLong(s.ord)
              }
              if (!seen(i)) { minL(i) = v; maxL(i) = v }
              else {
                if (v < minL(i)) minL(i) = v
                if (v > maxL(i)) maxL(i) = v
              }
            case "d" =>
              val v = s.dataType match {
                case FloatType => row.getFloat(s.ord).toDouble
                case _ => row.getDouble(s.ord)
              }
              if (!seen(i)) { minD(i) = v; maxD(i) = v }
              else {
                if (cmpD(v, minD(i)) < 0) minD(i) = v
                if (cmpD(v, maxD(i)) > 0) maxD(i) = v
              }
            case _ =>
              val v = row.getUTF8String(s.ord)
              if (!seen(i)) {
                val c = v.clone(); minS(i) = c; maxS(i) = c
              } else {
                if (v.compareTo(minS(i)) < 0) minS(i) = v.clone()
                if (v.compareTo(maxS(i)) > 0) maxS(i) = v.clone()
              }
          }
          seen(i) = true
          if (hllBufs(i) != null)
            hllAggs(i).update(hllBufs(i), row): Unit
        }
        i += 1
      }
    }

    /** Stat strings via Catalyst's own Cast — identical rendering to
      * the read-back's `min(col).cast("string")`. */
    def finish(): (Array[String], Array[String], Array[Array[Byte]]) = {
      val mins = new Array[String](n)
      val maxs = new Array[String](n)
      val hlls = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        if (seen(i)) {
          val s = f.stats(i)
          def str(v: Any): String =
            Cast(Literal(v, s.dataType), StringType, Some(f.zoneId))
              .eval(null).asInstanceOf[UTF8String].toString
          s.kind match {
            case "l" =>
              val (lo, hi) = s.dataType match {
                case ByteType => (minL(i).toByte, maxL(i).toByte)
                case ShortType => (minL(i).toShort, maxL(i).toShort)
                case IntegerType => (minL(i).toInt, maxL(i).toInt)
                case _ => (minL(i), maxL(i))
              }
              mins(i) = str(lo); maxs(i) = str(hi)
            case "d" =>
              s.dataType match {
                case FloatType =>
                  mins(i) = str(minD(i).toFloat)
                  maxs(i) = str(maxD(i).toFloat)
                case _ =>
                  mins(i) = str(minD(i)); maxs(i) = str(maxD(i))
              }
            case _ =>
              mins(i) = minS(i).toString; maxs(i) = maxS(i).toString
              hlls(i) = hllAggs(i).eval(hllBufs(i))
                .asInstanceOf[Array[Byte]]
          }
        }
        i += 1
      }
      (mins, maxs, hlls)
    }
  }

  private final class OpenFile(
      val writer: org.apache.spark.sql.execution.datasources.OutputWriter,
      val abs: String, val isCdf: Boolean) {
    var rows = 0L
    val agg: FileAgg = if (isCdf) null else new FileAgg
  }

  // Open writers, least-recently-WRITTEN first (re-inserted on every
  // access so the head is always the coldest fragment), bounded at
  // StageWrite.MaxOpenWriters. Rotated files land in `done` like
  // finished ones.
  private val open = mutable.LinkedHashMap[String, OpenFile]()
  private val done = mutable.ArrayBuffer[StagedStat]()
  private var fileSeq = 0
  // consecutive rows overwhelmingly share a fragment, so the hot path is
  // a string compare, not an LRU map touch per row
  private var lastFrag: String = null
  private var lastFile: OpenFile = null

  private def dirFragment(row: InternalRow): String = {
    if (f.partCols.isEmpty) return ""
    val rendered = partProj(row)
    f.partCols.indices.map { i =>
      val v =
        if (rendered.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
        else StageWrite.escape(rendered.getUTF8String(i).toString)
      s"${f.partCols(i)}=$v"
    }.mkString("/")
  }

  private def fsOf(p: Path) = p.getFileSystem(f.conf.value)

  private def closeFile(of: OpenFile): Unit = {
    of.writer.close()
    val p = new Path(of.abs)
    val bytes = fsOf(p).getFileStatus(p).getLen
    val rootPrefix = f.rootAbs.stripSuffix("/") + "/"
    val ap = p.toUri.getPath
    val rel =
      if (ap.startsWith(rootPrefix)) ap.stripPrefix(rootPrefix) else ap
    if (of.isCdf)
      done += StagedStat(rel, of.rows, bytes, null, null, null, null,
        cdf = true)
    else {
      val (mins, maxs, hlls) = of.agg.finish()
      done += StagedStat(rel, of.rows, bytes, mins, maxs, of.agg.nulls,
        hlls)
    }
  }

  def write(row: InternalRow): Unit = {
    val isCdf = f.cdfTagOrdinal >= 0 &&
      !row.isNullAt(f.cdfTagOrdinal) && row.getBoolean(f.cdfTagOrdinal)
    // change rows carry partition values as DATA columns and land flat:
    // one feed file per task, under a key no fragment can spell
    val frag = if (isCdf) "/cdf" else dirFragment(row)
    val of =
      if (frag == lastFrag) lastFile
      else open.remove(frag) match {
        case Some(entry) => // touch: re-insert at the tail
          open.put(frag, entry): Unit
          entry
        case None =>
          if (open.size >= StageWrite.MaxOpenWriters) {
            // the hot-path shortcut skips the LRU touch, so re-insert
            // the current fragment before picking the coldest victim
            if (lastFrag != null && open.size > 1)
              open.remove(lastFrag).foreach(e =>
                open.put(lastFrag, e): Unit)
            val (coldFrag, cold) = open.head
            closeFile(cold)
            open.remove(coldFrag): Unit
            if (coldFrag == lastFrag) { lastFrag = null; lastFile = null }
          }
          val name = f"part-$partitionId%05d-$taskAttemptId-$fileSeq${f.ext}"
          fileSeq += 1
          val dir =
            if (isCdf) f.cdfStageAbs
            else if (frag.isEmpty) f.stageAbs
            else s"${f.stageAbs}/$frag"
          val abs = s"$dir/$name"
          val nw =
            if (isCdf) f.cdfWriters.newInstance(abs, f.cdfSchema, cdfCtx)
            else f.writers.newInstance(abs, f.dataSchema, ctx)
          val entry = new OpenFile(nw, abs, isCdf)
          open.put(frag, entry): Unit
          entry
      }
    lastFrag = frag
    lastFile = of
    of.rows += 1
    if (of.isCdf) of.writer.write(cdfProj(row))
    else {
      val projected = dataProj(row)
      of.agg.update(projected)
      of.writer.write(projected)
    }
  }

  def finish(): Array[StagedStat] = {
    open.values.foreach(closeFile)
    open.clear()
    done.toArray
  }

  def abort(): Unit = {
    open.values.foreach(of => scala.util.Try(of.writer.close()): Unit)
    val all = open.values.map(_.abs) ++ done.map(s =>
      f.rootAbs.stripSuffix("/") + "/" + s.rel)
    open.clear()
    all.foreach { abs =>
      val p = new Path(abs)
      scala.util.Try(fsOf(p).delete(p, false)): Unit
    }
  }
}
