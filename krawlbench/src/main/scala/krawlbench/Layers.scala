package krawlbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{ImageFunctions, TextNormalize}
import graft.pipeline.CrawlPipeline
import graft.fetch.FetchStage
import Main._

/** Per-layer numbers of a traced crawl: the job timeline split by layer,
  * and the layer functions timed directly on cached inputs.
  */
object Layers {

  /** Phases the timeline can attribute a crawl job to (see `Tracer.label`). */
  val Phases = Seq("pipeline.status_counts", "tables.results_append",
    "tables.fetch_log_append", "tables.url_seen_append",
    "frontier.filter_update", "frontier.compact", "pipeline.other_jobs")

  def timeline(t: Tracer, w0: Long, w1: Long): Unit = {
    val self = t.selfTimes(w0, w1)
    values("pipeline.wall_s") = (w1 - w0) / 1000.0
    values("pipeline.unattributed_s") = self.getOrElse("pipeline.unattributed", 0.0)
    val c = t.counterMap
    Phases.foreach { p =>
      values(s"${p}_s") = self.getOrElse(p, 0.0)
      val k = c.get(p)
      values(s"$p.exec_run_s") = k.map(_.runMs / 1000.0).getOrElse(0.0)
      values(s"$p.gc_s") = k.map(_.gcMs / 1000.0).getOrElse(0.0)
      values(s"$p.shuffle_write_mb") = k.map(_.shuffleWrite / 1048576.0).getOrElse(0.0)
      values(s"$p.spill_mb") = k.map(_.spill / 1048576.0).getOrElse(0.0)
      values(s"$p.tasks") = k.map(_.tasks.toDouble).getOrElse(0.0)
    }
  }

  /** Layer functions timed on their own, each on inputs cached beforehand,
    * against the state `root` holds now. `slice` bounds the frontier the
    * way a `run(limit = slice)` would.
    */
  def probes(spark: SparkSession, store: String, root: String,
      salts: Map[String, Int], slice: Option[Long]): Unit = {
    val filterDir = s"$root/${Crawls.sketch.dirName}"
    val frontier = CrawlPipeline.robotsAllowed(CrawlPipeline.frontier(spark, store))
      .persist(StorageLevel.MEMORY_ONLY)
    val frontierRows = frontier.count()
    values("frontier.scan_s") = secs(noop(CrawlPipeline.frontier(spark, store)))._1
    val seen = CrawlPipeline.urlSeenStore(root).read(spark)
    // exclusion and the seen-filter prefilter only exist once url_seen does
    val candidates = seen match {
      case None =>
        values("frontier.exclusion_s") = 0.0
        values("frontier.prefilter_pass_ratio") = 0.0
        frontier
      case Some(_) =>
        val c = CrawlPipeline.selectCandidates(spark, root, frontier, seen, Crawls.sketch)
        values("frontier.exclusion_s") = secs(noop(c))._1
        values("frontier.prefilter_pass_ratio") =
          frontier.filter(Crawls.sketch.predicate(filterDir)).count().toDouble / frontierRows
        c
    }
    val sliced = slice.fold(candidates)(n =>
      candidates.orderBy(col("priority"), col("seq")).limit(n.toInt))
    val tasks = FetchStage.toTasks(spark, sliced).persist(StorageLevel.MEMORY_ONLY)
    tasks.count()
    val log = FetchStage.run(spark, tasks, salts = salts)
    values("fetch.schedule_s") = secs(noop(log.toDF()))._1
    // rows of the largest politeness bucket (host, salt) per mean bucket
    val perBucket = log.toDF().groupBy(col("hosting_id"), Crawls.saltOf(salts)).count()
      .collect().map(_.getLong(2))
    values("fetch.partition_skew") =
      if (perBucket.isEmpty) 0.0 else perBucket.max / (perBucket.sum.toDouble / perBucket.length)

    // decode + caption normalisation on payload rows already joined and cached
    val fetched = log.filter(col("status") === "ok")
      .select(col("unit_path"), col("id"), col("pos"), col("scheduled_ms"))
    val payload = CrawlPipeline.payloadJoin(spark, store, fetched, slice)
      .select(col("bytes"), col("caption")).persist(StorageLevel.MEMORY_ONLY)
    val images = payload.count()
    val decodeS = secs(noop(payload.select(ImageFunctions.phash64(col("bytes")),
      TextNormalize.normalizeCaptionUdf(col("caption")))))._1
    values("functions.decode_s") = decodeS
    values("functions.images_per_s") = images / decodeS
    Seq(frontier, tasks, payload).foreach(_.unpersist())
  }

  /** Read cost, the CrawlingMeta fold and on-disk footprint of a table root. */
  def tables(spark: SparkSession, root: String): Unit = {
    // the full CrawlingMeta fold over the event log (operators: CrawlOps)
    values("operators.crawling_meta_s") =
      secs(noop(CrawlPipeline.crawlingMeta(spark, root).get))._1
    values("tables.read_s") = secs {
      Seq(CrawlPipeline.urlSeenStore(root), CrawlPipeline.resultsStore(root),
        CrawlPipeline.fetchLogStore(root)).foreach(_.read(spark).foreach(noop))
    }._1
    val (files, bytes) = treeBytes(root)
    values("tables.files_written") = files
    values("tables.bytes_written") = bytes
  }
}
