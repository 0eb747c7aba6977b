package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.fetch.FetchStage
import graft.fetch.FetchStage.PacerState

/** Structured-Streaming surface (SURVEY §2.10). The reference is
  * batch-with-resume; the streaming twin exists for incremental crawl runs:
  * a frontier/event stream with watermarked windowed aggregation and a
  * per-host politeness pacer as custom state (flatMapGroupsWithState keyed
  * by host: state = last-fetch timestamp + remaining budget — R1/R2 in
  * streaming form).
  */
object EventStream {

  /** Watermarked tumbling-window aggregation over the events stream —
    * the streaming twin of RelOps.eventWindows.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      // event-time watermarks require TIMESTAMP (the parquet column is NTZ)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value_cents"))

  /** Streaming URL-seen dedup — the frontier's J6/P4 in incremental form:
    * first-wins per unit_path across ALL micro-batches via
    * `mapGroupsWithState` (the Bloom+anti-join batch dedup's streaming
    * twin; state = one boolean per seen unit, partitioned by unit_path so
    * state shards scale with the key space).
    */
  final case class FrontierUrl(unit_path: String, url: String, seq: Long)

  /** The shared first-wins state machine of every streaming dedup twin:
    * one boolean of state per seen key, the first arriving micro-batch
    * emits its best row (`pick` — order is data, W2), every later batch
    * is suppressed. Kept in ONE place so a state-policy change (e.g. a
    * timeout) cannot drift between the url / image / fingerprint /
    * sitemap twins.
    */
  private def firstWins[K, T](ds: Dataset[T])(key: T => K)(
      pick: Iterator[T] => T)(implicit ek: org.apache.spark.sql.Encoder[K],
      et: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    implicit val eb: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    ds.groupByKey(key)
      .flatMapGroupsWithState[Boolean, T](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // key emitted in a prior batch
          else {
            state.update(true)
            Iterator.single(pick(rows))
          }
      }
  }

  def streamingUrlSeen(frontier: Dataset[FrontierUrl]): Dataset[FrontierUrl] = {
    import frontier.sparkSession.implicits._
    firstWins(frontier)(_.unit_path)(_.minBy(_.seq))
  }

  /** Streaming IMAGE-ingest dedup — the multimodal family's incremental
    * form: first-wins per 64-bit perceptual hash across all micro-batches
    * (state = one boolean per seen pHash, sharded by hash key). Because
    * pixel-preserving transforms — exact copy, lossless re-encode,
    * container change, uniform brightness shift — all map to the SAME
    * aHash (the `q_image_neardup` clone classes), this one exact-hash
    * state drops every such duplicate as it arrives, without the batch
    * pigeonhole join. Hash the payloads UPSTREAM (`withImagePhash`):
    * state and shuffles then carry (id, hash, seq) rows, never bytes.
    */
  final case class ImageArrival(image_id: String, phash: Long, seq: Long)

  /** Decode → pHash projection for an incoming image stream: the only
    * bytes-touching step, so everything stateful downstream is 24 bytes a
    * row.
    */
  def withImagePhash(images: DataFrame): Dataset[ImageArrival] = {
    import images.sparkSession.implicits._
    images
      .select(col("image_id"),
        graft.functions.ImageFunctions.phash64(col("bytes")).as("phash"),
        col("seq"))
      .filter(col("phash").isNotNull)
      .as[ImageArrival]
  }

  def streamingImageDedup(images: Dataset[ImageArrival]): Dataset[ImageArrival] = {
    import images.sparkSession.implicits._
    firstWins(images)(_.phash)(_.minBy(_.seq))
  }

  /** Streaming twin of `TextOps.trainingMix` — the training-corpus gate
    * as documents ARRIVE: the gates, metrics, fingerprint, and frozen md5
    * split are the same stateless scan projection the batch path uses
    * (`TextOps.trainingGate` — literally shared code, so the two engines
    * cannot drift), and the fingerprint dedup becomes first-wins state
    * keyed by the digest (24-byte state rows; text never enters state).
    * Batch/streaming canonical parity: batch keeps min doc_id per
    * fingerprint, streaming keeps the first arrival — identical whenever
    * arrival order follows doc_id (the spec pins row-level equality on
    * such a stream, dup suppression across micro-batches included).
    */
  final case class GatedDoc(doc_id: Long, fp: String, pred_lang: String,
      split: String, n_tokens: Long, n_chars_m: Long, alpha_permille: Long,
      seq: Long)

  def withTrainingGate(docsStream: DataFrame): Dataset[GatedDoc] = {
    import docsStream.sparkSession.implicits._
    graft.operators.TextOps.trainingGate(docsStream)
      .select(col("doc_id"), col("fp"), col("pred_lang"), col("split"),
        col("n_tokens"), col("n_chars_m"), col("alpha_permille"), col("seq"))
      .as[GatedDoc]
  }

  def streamingTrainingDedup(docs: Dataset[GatedDoc]): Dataset[GatedDoc] = {
    import docs.sparkSession.implicits._
    firstWins(docs)(_.fp)(_.minBy(_.seq))
  }

  /** One frontier row from a streamed sitemap document (the batch
    * `Sitemaps.sitemapFrontier` row shape).
    */
  final case class SitemapUrlRow(host: String, url: String,
      lastmod_day: Option[Long], changefreq: Option[String],
      priority_permille: Option[Long], sitemap_url: String)

  /** Stateless streaming projection of the sitemap feed: `Sitemaps.parse`
    * applied verbatim to a stream of fetched documents (host,
    * sitemap_url, xml) — `from_xml` and the field normalizations are pure
    * expressions, so the SAME code parses both paths. Index documents
    * yield no url rows here: in a streaming world child-sitemap discovery
    * is the fetch layer's job (a discovered child is just another
    * document arriving later), where the batch path joins instead.
    */
  def withSitemapEntries(docsStream: DataFrame): Dataset[SitemapUrlRow] = {
    import docsStream.sparkSession.implicits._
    graft.sources.Sitemaps.parse(docsStream)
      .filter(col("kind") === "url")
      .select(col("host"), col("url"), col("lastmod_day"), col("changefreq"),
        col("priority_permille"), col("sitemap_url"))
      .as[SitemapUrlRow]
  }

  /** Streaming twin of the frontier's per-URL dedup: first-wins per url
    * across micro-batches; WITHIN a batch the winner is the batch rule —
    * freshest lastmod, then smallest sitemap_url — so the only divergence
    * from `sitemapFrontier` is the inherent cross-batch one (a fresher
    * row arriving after its url was emitted is suppressed; arrival order
    * wins across batches, a documented difference).
    */
  def streamingSitemapDedup(entries: Dataset[SitemapUrlRow]): Dataset[SitemapUrlRow] = {
    import entries.sparkSession.implicits._
    firstWins(entries)(_.url)(
      _.minBy(r => (-r.lastmod_day.getOrElse(-1L), r.sitemap_url)))
  }

  /** Incremental frontier ingestion: streaming discovery → stateful
    * URL-seen dedup → snapshot-store commits per micro-batch (foreachBatch
    * = the streaming twin of `CrawlPipeline.run`'s slice loop; the store's
    * versioned manifests make each micro-batch a resumable commit with
    * lineage, exactly like batch slices).
    */
  /** Latest committed batch_id across the store's snapshot chain: walk
    * parent links from CURRENT until a snapshot carries the metric. Bounded
    * by chain length (snapshot manifests are tiny driver-side JSON reads).
    * The walk stops at the oldest RETAINED snapshot: manifests dropped by
    * `SnapshotStore.expire` read as "no further history", not an error —
    * conservatively no batch_id, so a replayed batch re-appends at worst
    * (at-least-once, never a crash loop).
    */
  def highWaterBatchId(store: graft.tables.SnapshotStore): Option[Long] = {
    var v = store.currentVersion
    while (v.exists(_ >= 0)) {
      val snap =
        try store.readSnapshot(v.get)
        // ONLY missing manifests read as expired history; any other IO
        // error stays loud (swallowing it would silently disable the
        // replay guard and double-append a committed batch)
        catch { case _: java.nio.file.NoSuchFileException => return None }
      snap.metrics.get("batch_id") match {
        case some @ Some(_) => return some
        case None => v = Some(snap.parentVersion).filter(_ >= 0)
      }
    }
    None
  }

  def incrementalFrontierSink(deduped: Dataset[FrontierUrl],
      store: graft.tables.SnapshotStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    deduped.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[FrontierUrl], batchId: Long) =>
        // foreachBatch is at-least-once: a crash between the append and the
        // checkpoint commit replays the batch — skip batch ids the store
        // already committed (the streaming form of the slice_id idempotency).
        // The high-water batch_id is searched back through the snapshot
        // CHAIN, not just the newest snapshot: another writer (e.g. the
        // batch pipeline, whose commits carry no batch_id metric) appending
        // between a streaming commit and its replay must not hide the guard.
        val alreadyCommitted = highWaterBatchId(store).exists(_ >= batchId)
        if (!alreadyCommitted) {
          // persist: the emptiness probe and the write share one compute
          batch.persist()
          try {
            if (!batch.isEmpty) {
              val rows = graft.pipeline.CrawlPipeline.withSeenKeys(batch.toDF())
              store.append(batch.sparkSession, rows, "bucket",
                Map("batch_id" -> batchId), clusterBeforeWrite = true)
            }
          } finally batch.unpersist()
        }
        ()
      }
      .start()
  }

  // ---- stateful politeness pacing ----

  final case class FetchRequest(host: String, unit_path: String, ts: Timestamp)
  final case class ScheduledFetch(host: String, unit_path: String,
      scheduled_ms: Long, position: Long, completed_ms: Long)

  /** Per-host pacing over one micro-batch: `FetchStage.pace`, the batch
    * fetch stage's own step, folded over the requests in arrival order with
    * the carried state. Each request costs attempts + 1 slots, attempts =
    * min(transient failures, maxRetries) as in the batch stage.
    *
    * Parity scope: equal to the batch stage's schedule for UNSALTED hosts
    * whenever arrival times never outrun the virtual clock (the batch
    * stage has no arrival times); batch salting splits one host across
    * politeness streams, which streaming models as distinct state keys.
    */
  def paceBatch(requests: Iterator[FetchRequest], state: PacerState,
      minIntervalMs: Long, budgetRequests: Int = 0,
      windowMs: Long = 0L, attemptsOf: FetchRequest => Int = _ => 0,
      maxRetries: Int = Int.MaxValue): (Seq[ScheduledFetch], PacerState) = {
    var s = state
    val out = requests.map { r =>
      val cost = math.min(math.max(0, attemptsOf(r)), maxRetries) + 1L
      val (start, next) = FetchStage.pace(s, r.ts.getTime, cost, minIntervalMs,
        budgetRequests, windowMs)
      s = next
      ScheduledFetch(r.host, r.unit_path, start, s.scheduledCount, s.nextFreeMs)
    }.toSeq
    (out, s)
  }

  /** Interval-only pacer: every host at `minIntervalMs`, no window budget,
    * no retries.
    */
  def politenessPacer(requests: Dataset[FetchRequest],
      minIntervalMs: Long): Dataset[ScheduledFetch] =
    politenessPacer(requests, graft.CrawlConfig(politeness = Map.empty,
      fallbackPoliteness = FetchStage.Politeness(minIntervalMs, 0)))

  /** Config-driven pacer as streaming state (flatMapGroupsWithState keyed
    * by host): per-host interval (R2) and window budget (R1) from the
    * validated `CrawlConfig`, unconfigured hosts at the fallback.
    * `attemptsOf` reports the transient failures a request will see (the
    * batch stage's `outcome` injector), so the streaming schedule equals
    * the batch schedule under the same outcomes, window budgets included
    * (EventStreamSpec pins the equality on a budget that actually trips).
    */
  def politenessPacer(requests: Dataset[FetchRequest],
      config: graft.CrawlConfig,
      attemptsOf: FetchRequest => Int = _ => 0): Dataset[ScheduledFetch] = {
    import requests.sparkSession.implicits._
    val c = config.validated
    val (hostPol, fallback) = (c.politeness, c.fallbackPoliteness)
    requests
      .groupByKey(_.host)
      .flatMapGroupsWithState[PacerState, ScheduledFetch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (host, rows, state: GroupState[PacerState]) =>
          val prev = state.getOption.getOrElse(PacerState(Long.MinValue, 0L))
          // deterministic order within the micro-batch
          val ordered = rows.toSeq.sortBy(r => (r.ts.getTime, r.unit_path))
          val p = hostPol.getOrElse(host, fallback)
          val (out, next) = paceBatch(ordered.iterator, prev,
            p.minIntervalMs, p.budgetRequests, p.windowMs,
            attemptsOf, p.maxRetries)
          state.update(next)
          out.iterator
      }
  }
}
