package krawlbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.PlanCache

/** Benchmark entry point. Runs one workload through the program's public
  * functions and writes one JSON object of measured values and correctness
  * counts to `--out`:
  *
  * {{{
  * Main --workload crawl_cold|crawl_resume --seed N
  *      --seconds S --trace 0|1 --work DIR --cache DIR --out FILE
  * }}}
  *
  * Everything the run writes stays under `--work` and `--cache`. See README.md for what
  * each workload and metric is for.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cache: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cache"), need("out"))
  }

  // ---- results ----------------------------------------------------------
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  def check(ok: Boolean, what: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[krawlbench] CHECK FAILED: $what") }
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[krawlbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  // ---- session and timing -------------------------------------------------
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val threads4N: Int = nproc
  val threadsN: Int = math.max(1, nproc / 4)
  var work: String = _
  /** Generated inputs kept across runs of one checkout. */
  var cache: String = _
  private var live: SparkSession = _
  def current(): SparkSession = live

  /** A local session at `threads`; the previous session is stopped first. */
  def session(threads: Int): SparkSession = {
    if (live != null && live.sparkContext.defaultParallelism == threads &&
        !live.sparkContext.isStopped) return live
    if (live != null) { PlanCache.clear(live); live.stop() }
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"krawlbench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).count() // first job outside any timed region
    live = s
    note(s"session at $threads threads")
    s
  }

  def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def med(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def fresh(name: String): String = {
    val p = Paths.get(work, name)
    deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }
  def treeBytes(p: String): (Long, Long) = {
    val files = Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  // ---- host --------------------------------------------------------------
  /** CPU capacity in work units per second with `n` busy threads: the same
    * integer loop as the program's bench calibration, shorter.
    */
  def calibrate(n: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val t0 = System.nanoTime()
    val fs = (0 until n).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        var x = 0L; var i = 0L
        while (i < 100000000L) { x ^= i * 0x9E3779B9L; i += 1 }
        x
      }
    }))
    fs.foreach(_.get()); pool.shutdown()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap still in use after a full GC. */
  def liveHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetPeakHeap(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  // ---- main --------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    work = o.work
    cache = o.cache
    Files.createDirectories(Paths.get(work))
    values("host.nproc") = nproc
    values("host.cpu_units_per_s_1") = calibrate(1)
    values("host.cpu_units_per_s_all") = calibrate(nproc)
    o.workload match {
      case "crawl_cold" => Crawls.cold(o)
      case "crawl_resume" => Crawls.resume(o)
      case w => sys.error(s"unknown workload $w")
    }
    values("peak_heap_mb") = peakHeapMb()
    if (live != null) { PlanCache.clear(live); live.stop() }
    val body = values.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")
    Files.writeString(Paths.get(o.out),
      s"""{"attempted": $attempted, "failed": $failed, "values": {$body}}""")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
