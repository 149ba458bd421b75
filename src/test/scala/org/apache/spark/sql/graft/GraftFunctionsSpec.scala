package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {

  /** WARN-or-worse events logged on this thread while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    val thread = Thread.currentThread().getName
    val seen = new ConcurrentLinkedQueue[String]
    val spy = new AbstractAppender("graft-functions-spy", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThreadName == thread)
          seen.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    spy.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(spy, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(spy.getName)
      ctx.updateLoggers()
      spy.stop()
    }
    seen.asScala.toSeq
  }

  test("register twice on one session logs no warning and resolves all natives") {
    val s = spark.newSession() // a fresh function registry
    val warnings = warningsDuring {
      GraftFunctions.register(s)
      GraftFunctions.register(s)
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
    val reg = s.sessionState.functionRegistry
    GraftFunctions.natives.foreach { case (name, cls, _) =>
      assert(reg.lookupFunction(FunctionIdentifier(name)).map(_.getClassName)
        .contains(cls.getName), name)
    }
    assert(s.sql("SELECT graft_cosine(CAST(array(3, 4) AS ARRAY<FLOAT>), " +
      "CAST(array(3, 4) AS ARRAY<FLOAT>))").head().getDouble(0) == 1.0)
  }
}
