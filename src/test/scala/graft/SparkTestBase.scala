package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Prop, Test => Check}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs a scalacheck property for 8 cases on one worker (each case may
    * run Spark jobs on the shared session).
    */
  protected def check(p: Prop): Unit = {
    val r = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), p)
    assert(r.passed, Pretty.pretty(r))
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
