package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-forked once by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Descriptions of the Spark jobs `f` starts on this thread, in start
   * order. The jobs are told apart by a local property of their own; a
   * marker job run afterwards flushes the listener bus, since a listener
   * sees events in the order they were posted. */
  def jobDescriptions(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty(key), e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "counted")
      try f finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.stream().anyMatch(_._1 == "marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.stream().anyMatch(_._1 == "marker"), "listener never saw the marker job")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.filter(_._1 == "counted").map(_._2)
    } finally sc.removeSparkListener(listener)
  }
}
