package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite (mirrors the reference's session-scoped
  * conftest fixture, etl/test/conftest.py:6-77 — but with codegen left ON
  * and UTC forced).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs `op` runs, counted between two marker jobs (listener
    * events arrive in posting order, so the end marker's arrival means
    * every job of `op` has been seen). */
  def jobsOf(op: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def marker(g: String): Unit = {
      spark.sparkContext.setJobGroup(g, g)
      try spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
      finally spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      marker("stage-jobs-begin")
      op
      marker("stage-jobs-end")
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("stage-jobs-end") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val seq = groups.toArray(Array.empty[String]).toSeq
      assert(seq.contains("stage-jobs-end"), "listener never caught up")
      seq.indexOf("stage-jobs-end") - seq.indexOf("stage-jobs-begin") - 1
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // SessionTuning here too: every suite then exercises the NIO local
    // filesystem the benched engine runs on (a regression in it fails
    // the whole suite, not just the bench)
    val s = SessionTuning(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      // suites own every table they vacuum and want instant reclaim;
      // the retention guard's own spec re-enables the check explicitly
      .config("spark.graft.lake.retentionDurationCheck", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
