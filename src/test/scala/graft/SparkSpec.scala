package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** Messages the root logger receives, from any thread, while `f` runs. */
  def logMessagesDuring(f: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try f finally { root.removeAppender(capture); capture.stop() }
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }
}
