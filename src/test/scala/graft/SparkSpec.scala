package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs (one per JVM — tests fork once),
  * graft installed before the first spec runs. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest graded scale — unit/golden tests run here. */
  val sf: String = "/root/testdata/sf0.001"

  /** Messages logged at WARN or above while `f` runs. */
  def warnings(f: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("graft-spec-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try f finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    lines.asScala.toSeq
  }
}
