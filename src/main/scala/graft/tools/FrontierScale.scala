package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.fetch.{FetchLogRow, FetchStage}
import graft.pipeline.CrawlPipeline

/** Frontier-cardinality smoke: a payload-free synthetic frontier of `n` ids
  * driven through the crawl's own frontier chain (`CrawlPipeline.frontierOf`
  * and the robots gate) and its fetch schedule (`FetchStage.toTasks` →
  * `FetchStage.run`: the per-host politeness window and virtual-clock fold).
  * Each stage runs from scratch into the `noop` sink. Reports rows and wall
  * time per stage and the total shuffle and spill bytes; completing at all
  * shows the driver heap holds at that frontier size.
  *
  * Not part of the driver contract. Usage:
  *   SPARK_GRAFT_FRONTIER_N=100000000 sbt "runMain graft.tools.FrontierScale"
  */
object FrontierScale {
  final case class Stage(name: String, rows: Long, seconds: Double)

  /** The frontier over ids `0 until n` and its fetch schedule. */
  def stages(spark: SparkSession, n: Long): (DataFrame, Dataset[FetchLogRow]) = {
    val frontier = CrawlPipeline.robotsAllowed(
      CrawlPipeline.frontierOf(spark.range(n).toDF()))
    (frontier, FetchStage.run(spark, FetchStage.toTasks(spark, frontier)))
  }

  def run(spark: SparkSession, n: Long): Seq[Stage] = {
    val (frontier, schedule) = stages(spark, n)
    Seq(measure("frontier", frontier), measure("schedule", schedule.toDF()))
  }

  /** Runs `df` into the `noop` sink, counting its rows in the same pass. */
  private def measure(name: String, df: DataFrame): Stage = {
    val rows = Observation(name)
    val t0 = System.nanoTime()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    Stage(name, rows.get("rows").asInstanceOf[Long], (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_FRONTIER_N", "100000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Bench.session(cpus)
    spark.conf.set("spark.sql.shuffle.partitions", (cpus * 4).toString)

    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var spillDisk = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          spillDisk += m.diskBytesSpilled
        }
      }
    })

    run(spark, n).foreach { s =>
      println(f"[frontier-scale] ${s.name}%-8s rows=${s.rows}%d ${s.seconds}%8.2f s")
    }
    val heapMax = Runtime.getRuntime.maxMemory() / (1024.0 * 1024 * 1024)
    println(f"[frontier-scale] n=$n shuffle_write=${shuffleWrite / 1e9}%.2f GB " +
      f"shuffle_read=${shuffleRead / 1e9}%.2f GB disk_spill=${spillDisk / 1e9}%.2f GB " +
      f"driver_heap_max=$heapMax%.1f GiB (no OOM)")
    spark.stop()
  }
}
