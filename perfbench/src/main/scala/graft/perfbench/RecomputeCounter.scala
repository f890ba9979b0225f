package graft.perfbench

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import java.util.concurrent.atomic.AtomicLong

/** Counts, without muting, the log events that mark silent
  * recomputation: an accumulator update from a recomputed task of a
  * finished execution, and a cached block computed twice. */
object RecomputeCounter {
  val Markers = Seq("Failed to update accumulator", "already exists on this machine")

  def attach(): AtomicLong = {
    val count = new AtomicLong
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-recompute", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = if (e.getMessage == null) null else e.getMessage.getFormattedMessage
        if (m != null && Markers.exists(m.contains)) count.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    count
  }
}
