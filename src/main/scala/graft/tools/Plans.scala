package graft.tools

/** Dump `.explain("formatted")` for declared queries into a directory
  * (plans/r06/<name>_<tag>.txt) — the optimization-round evidence files.
  * Not part of the driver contract.
  *
  * Usage: runMain graft.tools.Plans <outDir> <tag> [q1,q2,...]
  * (defaults: all Bench.headline queries).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r06")
    val tag = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Bench.session(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        // lookup inside the try: an unknown name prints FAILED and moves
        // on instead of aborting the whole dump
        val fn = graft.SparkEntry.queries(name)
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plans] wrote $name")
      } catch {
        case e: Exception => println(s"[plans] FAILED $name: ${e.getMessage}")
      }
    }
    graft.PlanCache.clear(spark)
    spark.stop()
  }
}
