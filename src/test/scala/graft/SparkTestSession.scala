package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
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
   * order. */
  def jobDescriptions(f: => Unit): Seq[String] = jobs(f).map(_._1)

  /** The Spark jobs `f` starts on this thread, in start order: each one's
   * description and the number of its stages that ran (a stage whose
   * shuffle output already exists is skipped, and not counted). The jobs
   * are told apart by a local property of their own; a marker job run
   * afterwards flushes the listener bus, since a listener sees events in
   * the order they were posted. */
  def jobs(f: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty(key), e.properties.getProperty("spark.job.description"),
          e.stageInfos.map(_.stageId)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        ran.add(e.stageInfo.stageId)
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
      seen.asScala.toSeq.filter(_._1 == "counted").map(j => (j._2, j._3.count(ran.contains(_))))
    } finally sc.removeSparkListener(listener)
  }
}
