package graft

import java.io.StringWriter

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.WriterAppender
import org.apache.logging.log4j.core.layout.PatternLayout

/** Captures what log4j's root logger prints (messages and their stack
  * traces) while a body runs. */
object LogCapture {
  def during[T](body: => T): (String, T) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val out = new StringWriter
    val app = WriterAppender.createAppender(
      PatternLayout.newBuilder().withPattern("%p %c: %m%n").build(), null, out,
      s"capture-${System.nanoTime}", false, true)
    app.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, null, null)
    ctx.updateLoggers()
    try {
      val r = body
      (out.toString, r)
    } finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }
}
