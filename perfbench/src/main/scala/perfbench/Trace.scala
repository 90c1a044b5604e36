package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Times are epoch milliseconds with sub-ms digits, so
  * spans line up with the wall-clock stamps Spark's listeners report. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Span recorder. Spans nest per thread (the parent is the innermost open
  * span of the calling thread), stay in memory, and are written out at
  * exit. Timing itself is always on: the end-to-end numbers come from
  * the same spans whether or not the listeners run. */
final class Spans {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val done = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial(() => List.empty[Int])
  @volatile var op: Long = -1L

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def apply[A](name: String)(body: => A): A = {
    val id = nextId.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val start = nowMs
    try body
    finally {
      done.add(Span(id, parents.headOption.getOrElse(0), name, op, start,
        nowMs))
      stack.set(parents)
    }
  }

  def all: Vector[Span] = done.asScala.toVector.sortBy(_.id)
  def named(name: String): Vector[Span] = all.filter(_.name == name)
}

/** Engine observations, registered only in a traced run: job intervals,
  * per-task shuffle bytes, and Catalyst phase intervals. Everything is
  * stamped with wall-clock time and attributed to spans after the run,
  * so the asynchronous listener bus cannot misattribute an event. */
final class EngineListeners(spark: SparkSession) {
  final case class Job(startMs: Long, endMs: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Task(finishMs: Long, shuffleBytes: Long)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile private var on = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(Job(s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null)
        tasks.add(Task(e.taskInfo.finishTime,
          e.taskMetrics.shuffleWriteMetrics.bytesWritten))
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) qe.tracker.phases.foreach { case (n, p) =>
        phases.add(Phase(n, p.startTimeMs, p.endTimeMs))
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  def stop(): Unit = {
    on = false
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Lets queued listener events land: waits until the job count stops
    * changing for a few polls. */
  def settle(): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val n = jobs.size + phases.size + tasks.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Per window [startMs, endMs]: jobs started, job-busy ms (union of job
    * intervals), driver gap ms (window not covered by any job), Catalyst
    * phase ms by phase name, and shuffle bytes. */
  def window(startMs: Double, endMs: Double): Map[String, Double] = {
    val inWin = jobs.asScala.filter(j => j.startMs >= startMs - 1 &&
      j.startMs <= endMs).toVector
    val clipped = inWin.map(j => (math.max(j.startMs.toDouble, startMs),
      math.min(j.endMs.toDouble, endMs))).filter(c => c._2 > c._1)
      .sortBy(_._1)
    var busy = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) busy += curE - curS
    val ph = phases.asScala
      .filter(p => p.startMs >= startMs - 1 && p.startMs <= endMs)
      .groupMapReduce(_.name)(p => (p.endMs - p.startMs).toDouble)(_ + _)
    val shuffle = tasks.asScala
      .filter(t => t.finishMs >= startMs && t.finishMs <= endMs + 1)
      .map(_.shuffleBytes).sum
    Map(
      "jobs" -> inWin.size.toDouble,
      "job_busy_ms" -> busy,
      "driver_gap_ms" -> math.max(0.0, (endMs - startMs) - busy),
      "analysis_ms" -> ph.getOrElse("analysis", 0.0),
      "optimization_ms" -> ph.getOrElse("optimization", 0.0),
      "planning_ms" -> ph.getOrElse("planning", 0.0),
      "shuffle_bytes" -> shuffle.toDouble)
  }
}

/** Process-wide counters read before and after an operation: the
  * process's read/write system calls (the local filesystem keeps no
  * operation counts of its own), Hadoop FileSystem byte statistics of the
  * local scheme, codegen compiles and compile time, GC time. */
object Counters {
  private def fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file")

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** `syscr`/`syscw` of /proc/self/io; zeros where it does not exist. */
  private def syscalls: (Double, Double) = {
    val f = java.nio.file.Paths.get("/proc/self/io")
    if (!java.nio.file.Files.isReadable(f)) (0.0, 0.0)
    else {
      val kv = java.nio.file.Files.readAllLines(f).asScala
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.toDouble }
        .toMap
      (kv.getOrElse("syscr", 0.0), kv.getOrElse("syscw", 0.0))
    }
  }

  def read(): Map[String, Double] = {
    val (reads, writes) = syscalls
    Map(
      "fs.read_ops" -> reads,
      "fs.write_ops" -> writes,
      "fs.bytes_read" -> fsStats.map(_.getBytesRead).sum.toDouble,
      "fs.bytes_written" -> fsStats.map(_.getBytesWritten).sum.toDouble,
      "spark.codegen_compiles" -> org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "spark.codegen_compile_ms" -> org.apache.spark.sql.catalyst.expressions
        .codegen.CodeGenerator.compileTime / 1e6,
      "spark.gc_ms" -> gcMs.toDouble)
  }

  def delta(before: Map[String, Double], after: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Heap the run still holds: heap in use right after a full collection,
  * as that collection reports it (a read of the heap afterwards would also
  * count what other threads allocated since). The pause between two
  * collections lets Spark's cleaner drop what the first one found
  * unreachable. */
object LiveHeap {
  def mb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean
          if b.getLastGcInfo != null => b.getLastGcInfo
    }.maxBy(_.getEndTime)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    last.getMemoryUsageAfterGc.asScala.collect {
      case (pool, usage) if heapPools(pool) => usage.getUsed
    }.sum / 1048576.0
  }
}

/** Named sample lists of one run. */
final class Metrics {
  private val samples =
    mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def get(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
}

object Stat {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
