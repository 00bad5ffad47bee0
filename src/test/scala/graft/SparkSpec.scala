package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per JVM — tests fork once),
  * graft installed before the first spec runs. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest graded scale — unit/golden tests run here. */
  val sf: String = "/root/testdata/sf0.001"
}
