package krawlbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticStore
import graft.frontier.SeenFilters
import graft.functions.TextNormalize
import graft.pipeline.CrawlPipeline
import Main._

/** The two crawl workloads, measured the same way:
  *
  *  - `crawl_cold`: one operation is a full `CrawlPipeline.run(limit = None)`
  *    over a fresh table root and a store of decode-bound images;
  *  - `crawl_resume`: one operation is a `run(limit = Some(SliceUnits))`
  *    slice on a fresh copy of one committed crawl history.
  *
  * Operations run at 4N = nproc threads for `--seconds` (at least three),
  * each on the same state. The finished roots are checked against the
  * north-rule invariants and the per-host fetch order.
  */
object Crawls {

  final case class Shape(units: Long, minPx: Int, maxPx: Int)

  /** Decode-bound images of 32..160 px, as in the program's bench store. */
  val ColdStore = Shape(6000L, 32, 160)
  /** Fixture-scale 8..64 px images: a slice decodes few of them. */
  val ResumeStore = Shape(3000L, 8, 64)
  /** Units per resume slice. Fixed: with a handful of slices per run, a
    * varying size would dominate the run-to-run spread of URLs/s.
    */
  val SliceUnits = 500L
  /** Units the crawl history commits before the slices: fewer than a
    * slice, so every slice's commit also runs the incremental
    * auto-compaction of the url_seen summary.
    */
  val HistoryUnits = 400L
  val SetupRepeats = 3
  val sketch = SeenFilters.bloom

  /** First store id of the seeded contiguous range: one of `Ranges`
    * ranges below 10^6, all with the same host mix and salting.
    */
  val Ranges = 4
  def baseId(seed: Long): Long =
    1L + Math.floorMod(SyntheticStore.mix64(seed), Ranges.toLong) * 250000L

  // ---- inputs and set-up ---------------------------------------------------

  /** Generate store ids [base, base + units) with the public row builder. */
  def generate(spark: SparkSession, dir: String, base: Long, shape: Shape): Unit = {
    import spark.implicits._
    spark.range(base, base + shape.units, 1, 32).as[Long]
      .map(id => SyntheticStore.row(id, shape.minPx, shape.maxPx))
      .toDF().write.mode("overwrite").parquet(dir)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  /** The seeded store, generated once per checkout and range (later runs
    * with a seed on the same range reuse the files), then set up on a
    * fresh copy `SetupRepeats` times: the program's one-time bucketed
    * ingest (with its key sidecar) and the skew salts. `setup_s` is the
    * median.
    */
  def setup(spark: SparkSession, seed: Long, shape: Shape): (String, Map[String, Int]) = {
    val base = baseId(seed)
    val gen = s"$cache/store-${shape.units}-${shape.minPx}-${shape.maxPx}-$base"
    if (!Files.exists(Paths.get(gen, "_SUCCESS")) ||
        spark.read.parquet(gen).count() != shape.units) {
      deleteTree(Paths.get(gen))
      values("generate_s") = secs(generate(spark, gen, base, shape))._1
    }
    val reps = (1 to SetupRepeats).map { k =>
      val dir = fresh(s"stores/s$k")
      copyTree(gen, dir)
      System.gc()
      secs {
        CrawlPipeline.ensureBucketedStore(spark, dir)
        (dir, CrawlPipeline.autoSalts(CrawlPipeline.frontier(spark, dir)))
      }
    }
    values("setup_s") = med(reps.map(_._1))
    note(s"set-ups ${reps.map(r => f"${r._1}%.2f").mkString(" ")}")
    reps.last._2
  }

  private var roots = 0
  def newRoot(): String = { roots += 1; fresh(s"roots/r$roots") }

  def run(spark: SparkSession, store: String, root: String, limit: Option[Long],
      salts: Map[String, Int]): (Double, CrawlPipeline.RunSummary) = {
    CrawlPipeline.ensureBucketedStore(spark, store) // catalog registration only
    secs(CrawlPipeline.run(spark, store, root, limit, salts, seenFilters = sketch))
  }

  // ---- measurement ---------------------------------------------------------

  /** Run `op` at 4N = nproc threads for `--seconds`, at least `min`
    * times, each after a full GC. Records wall and process CPU time per
    * operation; the end-to-end figures use the fastest operation, which
    * both the JIT warm-up of the first operations and the shared host's
    * slow spells only ever lengthen. Traced runs also record, after each
    * operation, the live heap and a full read of the CrawlingMeta view of
    * `metaRoot`.
    */
  def measure(o: Opts, metaRoot: () => String, min: Int)(
      op: SparkSession => (Double, Long)): Unit = {
    val s = session(threads4N)
    val times = ArrayBuffer.empty[Double]
    val meta = ArrayBuffer.empty[Double]
    var units = 0L
    var cpu = 0.0
    var live = 0.0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (times.size < min || System.nanoTime() < deadline) {
      System.gc()
      val c0 = processCpuS()
      val (t, n) = op(s)
      cpu += processCpuS() - c0
      times += t
      units += n
      if (o.trace) {
        live = math.max(live, liveHeapMb())
        meta += secs(noop(CrawlPipeline.crawlingMetaCompacted(s, metaRoot()).get))._1
      }
    }
    note(s"runs ${times.map(t => f"$t%.2f").mkString(" ")}")
    values("crawl_urls_per_s") = units / times.size / times.min
    values("cpu_s_per_kurl") = cpu / (units / 1000.0)
    values("run_s_min") = times.min
    values("run_s_p50") = med(times.toSeq)
    values("run_s_p90") = quantile(times.toSeq, 0.9)
    values("runs") = times.size
    if (o.trace) {
      values("meta_read_s_p50") = med(meta.toSeq)
      values("live_heap_mb") = live
    }
  }

  /** N-vs-4N scaling (traced runs only): one operation at N = nproc / 4
    * threads against the fastest 4N operation of the same size.
    */
  def scaling(op: SparkSession => (Double, Long)): Unit = {
    val (t, n) = op(session(threadsN))
    session(threads4N)
    val perS4N = n / values("run_s_min")
    values("scaling.crawl_urls_per_s_n1") = n / t
    values("scaling.efficiency") = perS4N / (n / t) / (threads4N.toDouble / threadsN)
  }

  /** Attach the tracer around `f` and record the layer timeline. */
  def traced[A](spark: SparkSession)(f: => A): A = {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    val w0 = System.currentTimeMillis()
    val r = f
    val w1 = System.currentTimeMillis()
    tracer.settle(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    Layers.timeline(tracer, w0, w1)
    r
  }

  // ---- correctness ---------------------------------------------------------

  private val idOf = regexp_extract(col("image_id"), "^thing:(\\d+)/", 1).cast("long")
  private val expectedCaption = udf((id: Long) =>
    TextNormalize.normalizeCaption(SyntheticStore.caption(id)))

  /** The politeness bucket a fetch task lands in (FetchStage's salting). */
  def saltOf(salts: Map[String, Int]) = salts.foldLeft(lit(0L)) { case (acc, (h, k)) =>
    when(col("hosting_id") === h, pmod(col("id"), lit(k.toLong))).otherwise(acc)
  }

  /** Bytes under a table root, and image payload bytes in its results. */
  def footprint(spark: SparkSession, root: String): (Long, Long) =
    (treeBytes(root)._2, CrawlPipeline.resultsStore(root).read(spark)
      .map(_.select(sum(length(col("bytes")))).head().getLong(0)).getOrElse(0L))

  /** Write amplification since `before`: bytes added under the root per
    * image payload byte added to its results.
    */
  def writeAmp(spark: SparkSession, root: String, before: (Long, Long) = (0L, 0L)): Unit = {
    val (disk, payload) = footprint(spark, root)
    values("write_amp") = (disk - before._1).toDouble / math.max(1L, payload - before._2)
  }

  /** Check a finished root: every results row keeps `phash_check == phash`
    * and the normalized fixture caption; every fetch-log row's per-host
    * position is its (priority, seq) rank within its run. Records the
    * invariant pass rate.
    */
  def checkRoot(spark: SparkSession, root: String, salts: Map[String, Int]): Unit = {
    val r = CrawlPipeline.resultsStore(root).read(spark).get.select(count(lit(1)),
      sum(when(col("phash_check") === col("phash") &&
        col("caption") === expectedCaption(idOf), 1).otherwise(0))).head()
    val (rows, pass) = (r.getLong(0), r.getLong(1))
    check(rows > 0, s"$root: no results rows")
    check(pass == rows, s"$root: ${rows - pass} of $rows results rows break an invariant")
    values("invariant_pass_rate") = pass.toDouble / math.max(1L, rows)

    // each run commits its fetch log into its own data/<commit> directory
    val commit = regexp_extract(input_file_name(), "/data/([^/]+)/", 1)
    val w = Window.partitionBy(col("commit"), col("hosting_id"), col("salt"))
      .orderBy(col("priority"), col("seq"))
    val bad = CrawlPipeline.fetchLogStore(root).read(spark).get
      .withColumn("commit", commit).withColumn("salt", saltOf(salts))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") =!= col("pos")).count()
    check(bad == 0, s"$root: $bad fetch-log rows out of (priority, seq) order")
  }

  /** The resumed root must hold what one cold run over the same units
    * holds: the same url_seen unit set and the same results rows, with no
    * unit fetched twice.
    */
  def compareWithCold(spark: SparkSession, store: String, root: String,
      salts: Map[String, Int]): Unit = {
    val seen = CrawlPipeline.urlSeenStore(root).read(spark).get
    val units = seen.select("unit_path").distinct().count()
    val coldRoot = newRoot()
    run(spark, store, coldRoot, Some(units), salts)
    def diff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count() + b.exceptAll(a).count()
    val coldSeen = CrawlPipeline.urlSeenStore(coldRoot).read(spark).get
    val seenDiff = diff(seen.select("unit_path").distinct(),
      coldSeen.select("unit_path").distinct())
    check(seenDiff == 0, s"resumed url_seen differs from a cold run in $seenDiff units")
    val cols = Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash",
      "phash_check", "unit_path", "id_group").map(col)
    val rowDiff = diff(CrawlPipeline.resultsStore(root).read(spark).get.select(cols: _*),
      CrawlPipeline.resultsStore(coldRoot).read(spark).get.select(cols: _*))
    check(rowDiff == 0, s"resumed results differ from a cold run in $rowDiff rows")
    val twice = seen.filter(col("status") === "ok").groupBy("unit_path").count()
      .filter(col("count") > 1).count()
    check(twice == 0, s"$twice units fetched twice")
  }

  // ---- crawl_cold ----------------------------------------------------------

  def cold(o: Opts): Unit = {
    val spark = session(threads4N)
    val (store, salts) = setup(spark, o.seed, ColdStore)
    resetPeakHeap()

    var last = ""
    def full(s: SparkSession): (Double, Long) = {
      if (last.nonEmpty) deleteTree(Paths.get(last))
      last = newRoot()
      val (t, sum) = run(s, store, last, None, salts)
      check(sum.attempted == ColdStore.units,
        s"cold run attempted ${sum.attempted} of ${ColdStore.units}")
      check(sum.resultRows == sum.ok, s"cold run wrote ${sum.resultRows} rows for ${sum.ok} ok")
      (t, sum.attempted)
    }
    measure(o, () => last, min = 3)(full)
    checkRoot(current(), last, salts)
    writeAmp(current(), last)
    note("checked")

    if (o.trace) {
      scaling(full)
      val root = newRoot()
      // the layer functions see the state the traced run starts from
      Layers.probes(current(), store, root, salts, None)
      val t = traced(current())(run(current(), store, root, None, salts)._1)
      values("trace.overhead_s") = t - values("run_s_min")
      Layers.tables(current(), root)
    }
  }

  // ---- crawl_resume --------------------------------------------------------

  def resume(o: Opts): Unit = {
    val spark = session(threads4N)
    val (store, salts) = setup(spark, o.seed, ResumeStore)
    // the committed crawl history every slice resumes from
    val history = newRoot()
    values("history_s") = secs(run(spark, store, history, Some(HistoryUnits), salts))._1
    note("history committed")
    val before = footprint(spark, history)
    resetPeakHeap()

    // each slice resumes a fresh copy of the history: every timed
    // operation is the same one, on the same state
    var root = ""
    def resumeCopy(): String = {
      if (root.nonEmpty) deleteTree(Paths.get(root))
      root = newRoot()
      copyTree(history, root)
      root
    }
    def slice(s: SparkSession, on: String): (Double, Long) = {
      val (t, sum) = run(s, store, on, Some(SliceUnits), salts)
      check(sum.attempted == SliceUnits, s"slice attempted ${sum.attempted} of $SliceUnits")
      check(sum.resultRows == sum.ok, s"slice wrote ${sum.resultRows} rows for ${sum.ok} ok")
      (t, sum.attempted)
    }
    measure(o, () => root, min = 3)(s => slice(s, resumeCopy()))
    checkRoot(current(), root, salts)
    writeAmp(current(), root, before)
    note("checked")

    if (o.trace) {
      // a second slice on the same root: the url_seen and results of two
      // resumed slices must equal one cold run over the same units
      slice(current(), root)
      compareWithCold(current(), store, root, salts)
      scaling(s => slice(s, resumeCopy()))
      val on = resumeCopy()
      Layers.probes(current(), store, on, salts, Some(SliceUnits))
      val (f0, b0) = treeBytes(on)
      val t = traced(current())(slice(current(), on)._1)
      values("trace.overhead_s") = t - values("run_s_min")
      val (f1, b1) = treeBytes(on)
      Layers.tables(current(), on)
      values("tables.files_written") = f1 - f0
      values("tables.bytes_written") = b1 - b0
    }
  }
}
