package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The log events carrying an exception that `body` emits, as
  * `logger: throwable` lines, captured through an appender on the root
  * logger for the duration of `body`. */
object LogCapture {
  def thrownIn[T](body: => T): (T, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val name = s"capture-${System.nanoTime()}"
    val appender = new AbstractAppender(name, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThrown != null) seen.add(s"${e.getLoggerName}: ${e.getThrown}")
    }
    appender.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      root.removeAppender(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
