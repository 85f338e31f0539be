package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate ⇒ one JVM-wide
  * session; sbt forks a single test JVM so suites reuse it).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder(4)
    // static conf: saveAsTable output (BucketingSpec) goes to tmp, not cwd
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .getOrCreate()

  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"

  /** Run `f` with runtime confs set on the shared session, then restore them. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The WARN-or-worse messages `owner` logs while `f` runs, under the
    * logger name Spark's `Logging` gives it (its class name without `$`).
    */
  def warnsDuring(owner: AnyRef)(f: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger(owner.getClass.getName.stripSuffix("$"))
      .asInstanceOf[Logger]
    logger.addAppender(app)
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    try f finally {
      logger.setLevel(level)
      logger.removeAppender(app)
      app.stop()
    }
    seen.asScala.toSeq
  }

  /** Spark jobs started by `f` on this thread: tagged with a job group
    * and counted by a listener; a fence job in a second group marks the
    * point where the listener bus has delivered every earlier job start.
    */
  def jobsRunBy(f: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val fence = s"fence-$group"
    val starts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => starts.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!starts.containsKey(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.containsKey(fence), "listener bus never delivered the fence job")
      Option(starts.get(group)).map(_.intValue).getOrElse(0)
    } finally sc.removeSparkListener(listener)
  }

  /** Single-column helper: evaluate a Column over one-row input. */
  def evalRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
