package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM; suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it submitted (suites run one at a
    * time, so every job started meanwhile is its own). */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and every message the named log4j logger logged at
    * WARN or above while it ran (adaptive execution re-plans each stage,
    * so this covers planning and execution). */
  def warningsOf[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spec-" + logger, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val level = log.getLevel
    log.addAppender(appender)
    log.setLevel(Level.WARN)
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      log.removeAppender(appender)
      log.setLevel(level)
      appender.stop()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.build("graft-tests", 4, Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
