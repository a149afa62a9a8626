package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The log4j2 events emitted (through the root logger) while a body runs. */
object LogCapture {
  def during(body: => Unit): Seq[LogEvent] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("graft-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
    events.asScala.toSeq
  }
}
