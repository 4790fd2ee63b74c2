package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole ScalaTest run. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.functions.TypedArgExtremum.FallbackThresholdKey,
      graft.functions.TypedArgExtremum.FallbackThreshold)
    // bucketed artifacts' sortBy is trusted at scan (single-file buckets)
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .getOrCreate()

  def resourcePath(name: String): String =
    getClass.getResource(name).getPath

  /** `body`'s result and the number of Spark jobs it submitted (AQE's
    * map-stage jobs included). Jobs are told apart by a job group; listener
    * events arrive asynchronously but in order, so once a sentinel job run
    * after `body` has been seen, every job `body` started has been counted.
    */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
