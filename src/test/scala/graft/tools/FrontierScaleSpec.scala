package graft.tools

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The frontier-scale smoke at fixture size: the same production chain the
  * main drives at 10^7-10^8 ids.
  */
class FrontierScaleSpec extends SparkTestBase {
  private val N = 20000L

  test("frontier-scale smoke: every frontier row is scheduled; pos is 1..k " +
      "within each (host, salt)") {
    val stages = FrontierScale.run(spark, N)
    assert(stages.map(_.name) == Seq("frontier", "schedule"))
    val Seq(frontierRows, scheduledRows) = stages.map(_.rows)
    assert(frontierRows == N)
    assert(scheduledRows == frontierRows)
    // the smoke passes no salts, so each host is one politeness stream
    val (_, schedule) = FrontierScale.stages(spark, N)
    val bad = schedule.groupBy("hosting_id")
      .agg(count(lit(1)).as("k"), min("pos").as("lo"), max("pos").as("hi"),
        countDistinct("pos").as("distinct"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("k") || col("distinct") =!= col("k"))
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }
}
