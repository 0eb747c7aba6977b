package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase

class EventStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming sitemap feed: the streamed parse + cross-batch URL dedup " +
      "over the planted corpus equals the batch sitemapFrontier row set " +
      "(duplicate-route docs arrive in DIFFERENT batches)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val (robots, docs) =
      graft.fixtures.PlantedFixtures.sitemapCorpus(spark, sfDir)

    // the documents each batch-path level parses, fed as two micro-batches:
    // level 0 (index docs + the hosts>=4 DIRECT sm_0 refs) first, the
    // index-discovered children second — so the duplicated sm_0 content
    // crosses the batch boundary and the stateful dedup must catch it
    val level0 = graft.sources.Sitemaps.sitemapRefs(robots).join(docs, "sitemap_url")
    val children = graft.sources.Sitemaps.parse(level0)
      .filter(col("kind") === "sitemap")
      .select(col("url").as("sitemap_url"), col("host"))
    val level1 = children.join(docs, "sitemap_url")
    def docRows(df: org.apache.spark.sql.DataFrame) = df
      .select("host", "sitemap_url", "xml").as[(String, String, String)]
      .collect().toSeq

    val input = MemoryStream[(String, String, String)]
    val entries = EventStream.withSitemapEntries(
      input.toDS().toDF("host", "sitemap_url", "xml"))
    val q = EventStream.streamingSitemapDedup(entries)
      .writeStream.outputMode("append").format("memory")
      .queryName("sitemap_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-sitemap").toString)
      .start()
    input.addData(docRows(level0): _*)
    q.processAllAvailable()
    input.addData(docRows(level1): _*)
    q.processAllAvailable()
    // collect as a Seq FIRST: the planted duplicate-route rows are
    // byte-identical, so a Set would collapse a failed cross-batch dedup's
    // double emission and make the assertion vacuous
    val gotRows = spark.table("sitemap_stream_out")
      .as[EventStream.SitemapUrlRow].collect().toSeq
    q.stop()
    assert(gotRows.length == gotRows.map(_.url).distinct.length,
      "streaming emitted a url twice")

    val got = gotRows.toSet
    val batch = graft.sources.Sitemaps.sitemapFrontier(robots, docs)
      .as[EventStream.SitemapUrlRow].collect().toSet
    assert(got == batch,
      s"streaming-batch row-set mismatch: ${(got diff batch).take(3)} / ${(batch diff got).take(3)}")
  }

  test("windowed agg over a streamed batch equals the batch twin (SURVEY §2.10)") {
    val sfDir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // file streaming sources need a directory; glob-filter to the one table
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val q = EventStream.windowedCounts(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only closed windows (watermark); check a subset
    // against the batch computation
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n_events", "sum_value_cents")
      .as[(Timestamp, String, Long, Long)].collect().toSet
    val batch = graft.operators.RelOps.eventWindows(spark, sfDir)
      .select("window_start", "event_type", "n_events", "sum_value_cents")
      .as[(Timestamp, String, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), "streamed windows must agree with batch values")
  }

  test("politeness pacer state machine: slots >= minInterval apart per host") {
    val t0 = 1000000L
    val reqs = (0 until 10).map(i =>
      EventStream.FetchRequest("thingiverse.com", s"u$i", new Timestamp(t0 + i * 100)))
    val (out, state) = EventStream.paceBatch(reqs.iterator,
      graft.fetch.FetchStage.PacerState(Long.MinValue, 0L), 1000L)
    assert(out.head.scheduled_ms == t0)
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(b.scheduled_ms - a.scheduled_ms >= 1000L)
    }
    assert(state.scheduledCount == 10L)
    // a late burst after an idle gap starts at its arrival time, not earlier
    val (out2, _) = EventStream.paceBatch(
      Iterator(EventStream.FetchRequest("thingiverse.com", "z", new Timestamp(t0 + 100000))),
      state, 1000L)
    assert(out2.head.scheduled_ms == t0 + 100000)
  }

  test("streaming URL-seen dedup: first-wins per unit ACROSS micro-batches " +
      "(J6/P4 incremental twin)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.FrontierUrl]
    val deduped = EventStream.streamingUrlSeen(input.toDS())
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("seen_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    // batch 1: two aliases of unit A (first-wins by seq) + unit B
    input.addData(
      EventStream.FrontierUrl("thingiverse.com/0/7", "https://t/thing:7?x=1", 12L),
      EventStream.FrontierUrl("thingiverse.com/0/7", "https://t/thing:7", 3L),
      EventStream.FrontierUrl("github.com/o/r", "https://g/o/r", 5L))
    q.processAllAvailable()
    // batch 2: A re-discovered (must NOT re-emit) + new unit C
    input.addData(
      EventStream.FrontierUrl("thingiverse.com/0/7", "https://t/thing:7?y=2", 99L),
      EventStream.FrontierUrl("oshwa.org/us000001", "https://o/us000001", 8L))
    q.processAllAvailable()
    val rows = spark.table("seen_out").as[EventStream.FrontierUrl].collect()
    q.stop()
    assert(rows.length == 3, s"expected 3 first-wins units, got ${rows.toSeq}")
    val bySeq = rows.map(r => r.unit_path -> r.seq).toMap
    assert(bySeq("thingiverse.com/0/7") == 3L) // first-wins within the batch
    assert(bySeq("github.com/o/r") == 5L)
    assert(bySeq("oshwa.org/us000001") == 8L)
  }

  test("incremental frontier → snapshot store: micro-batches commit as " +
      "versioned slices, dedup holds across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.FrontierUrl]
    val store = new graft.tables.SnapshotStore(
      Files.createTempDirectory("graft-inc-store").toString)
    val q = EventStream.incrementalFrontierSink(
      EventStream.streamingUrlSeen(input.toDS()), store,
      Files.createTempDirectory("graft-ckpt4").toString)
    input.addData(
      EventStream.FrontierUrl("thingiverse.com/0/1", "https://t/thing:1", 1L),
      EventStream.FrontierUrl("github.com/a/b", "https://g/a/b", 2L))
    q.processAllAvailable()
    val v1 = store.currentVersion.get
    input.addData(
      EventStream.FrontierUrl("thingiverse.com/0/1", "https://t/thing:1?again", 9L),
      EventStream.FrontierUrl("oshwa.org/us000002", "https://o/us000002", 3L))
    q.processAllAvailable()
    q.stop()
    // two non-empty micro-batches → two commits; versions advanced
    assert(store.currentVersion.get > v1)
    val rows = store.read(spark).get
      .select("unit_path").as[String].collect().toSeq
    // the re-discovered unit did not re-commit
    assert(rows.sorted == Seq("github.com/a/b", "oshwa.org/us000002",
      "thingiverse.com/0/1"))
    // per-partition lineage accumulated across the streaming commits
    assert(store.currentSnapshot.get.lineage.values.sum == 3L)
  }

  test("replay guard: high-water batch_id survives an interleaved batch commit") {
    import org.apache.spark.sql.functions._
    val store = new graft.tables.SnapshotStore(
      Files.createTempDirectory("graft-hw-store").toString)
    val row = Seq(("u1", 0L)).toDF("unit_path", "bucket")
    // streaming commit with batch_id=5
    store.append(spark, row, "bucket", Map("batch_id" -> 5L))
    assert(EventStream.highWaterBatchId(store).contains(5L))
    // a BATCH-pipeline append (no batch_id metric) lands on top — the guard
    // must still see batch_id=5 by scanning back the snapshot chain
    store.append(spark, row.withColumn("bucket", lit(1L)), "bucket",
      Map("slice_id" -> 0L))
    assert(store.currentSnapshot.get.metrics.get("batch_id").isEmpty)
    assert(EventStream.highWaterBatchId(store).contains(5L),
      "replayed micro-batch 5 would be appended twice")
    // empty store → no high water
    val empty = new graft.tables.SnapshotStore(
      Files.createTempDirectory("graft-hw-empty").toString)
    assert(EventStream.highWaterBatchId(empty).isEmpty)
  }

  test("politeness pacer as a streaming query (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.FetchRequest]
    val paced = EventStream.politenessPacer(input.toDS(), 1000L)
    val q = paced.writeStream.outputMode("append")
      .format("memory").queryName("paced_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt2").toString)
      .start()
    val t0 = 5000000L
    input.addData(
      EventStream.FetchRequest("a.com", "u1", new Timestamp(t0)),
      EventStream.FetchRequest("a.com", "u2", new Timestamp(t0 + 10)),
      EventStream.FetchRequest("b.com", "v1", new Timestamp(t0 + 20)))
    q.processAllAvailable()
    input.addData(EventStream.FetchRequest("a.com", "u3", new Timestamp(t0 + 30)))
    q.processAllAvailable()
    val rows = spark.table("paced_out")
      .as[EventStream.ScheduledFetch].collect().sortBy(r => (r.host, r.position))
    q.stop()
    val aRows = rows.filter(_.host == "a.com")
    assert(aRows.map(_.unit_path).toSeq == Seq("u1", "u2", "u3"))
    aRows.sliding(2).foreach { case Array(x, y) =>
      assert(y.scheduled_ms - x.scheduled_ms >= 1000L, "per-host budget violated across micro-batches")
    }
    assert(rows.count(_.host == "b.com") == 1)
  }

  test("config-driven pacer: per-host intervals from CrawlConfig, " +
      "fallback for unconfigured hosts") {
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.CrawlConfig.default.copy(
      politeness = Map(
        "slow.com" -> graft.fetch.FetchStage.Politeness(7000L, 3),
        "fast.com" -> graft.fetch.FetchStage.Politeness(500L, 3)),
      fallbackPoliteness = graft.fetch.FetchStage.Politeness(2000L, 3))
    val input = MemoryStream[EventStream.FetchRequest]
    val paced = EventStream.politenessPacer(input.toDS(), cfg)
    val q = paced.writeStream.outputMode("append")
      .format("memory").queryName("paced_cfg_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    val t0 = 9000000L
    input.addData(
      (for (h <- Seq("slow.com", "fast.com", "other.com"); i <- 1 to 3)
        yield EventStream.FetchRequest(h, s"$h/u$i", new Timestamp(t0 + i))): _*)
    q.processAllAvailable()
    val rows = spark.table("paced_cfg_out")
      .as[EventStream.ScheduledFetch].collect()
    q.stop()
    // every host emitted all its rows — the gap checks below must never
    // pass vacuously on an empty sequence
    for (h <- Seq("slow.com", "fast.com", "other.com"))
      assert(rows.count(_.host == h) == 3, s"$h rows missing")
    def gaps(h: String): Seq[Long] = rows.filter(_.host == h).sortBy(_.position)
      .map(_.scheduled_ms).sliding(2).map { case Array(a, b) => b - a }.toSeq
    assert(gaps("slow.com").forall(_ >= 7000L), s"slow gaps ${gaps("slow.com")}")
    assert(gaps("fast.com").forall(g => g >= 500L && g < 7000L),
      s"fast host paced at the wrong interval: ${gaps("fast.com")}")
    assert(gaps("other.com").forall(g => g >= 2000L && g < 7000L),
      s"fallback host paced at the wrong interval: ${gaps("other.com")}")
  }

  import EventStreamSpec.residueAttempts

  test("R1 retry parity: streaming pacer schedule EQUALS the batch " +
      "FetchStage schedule under transient failures with a tripping " +
      "window budget (VERDICT r4 #1; rate_limit.py charges per request, " +
      "retries included)") {
    val n = 500L
    val pol = graft.fetch.FetchStage.Politeness(100L, 3,
      budgetRequests = 5, windowMs = 2000L)
    def path(id: Long) = f"gh.com/u$id%05d" // zero-padded: lexicographic = id order

    // batch golden schedule: the REAL fetch stage over a single-host frontier
    val tasks = spark.createDataset((1L to n).map(id =>
      graft.fetch.FetchTask(path(id), "gh.com", id, 1, id, 0L, 0L, 0L, false)))
    val batch = graft.fetch.FetchStage.run(spark, tasks,
      politeness = Map("gh.com" -> pol)).collect()
      .map(r => r.unit_path -> ((r.pos, r.scheduled_ms, r.completed_ms))).toMap

    // the budget must actually TRIP in this fixture: a budget sleep shows
    // as an idle gap (scheduled > previous completed; with ts=0 arrivals
    // nothing else can create one)
    val ordered = batch.values.toSeq.sortBy(_._1)
    val trips = ordered.sliding(2).count {
      case Seq((_, _, c1), (_, s2, _)) => s2 > c1; case _ => false
    }
    assert(trips > 0, "fixture must trip the window budget")
    // and retries must be present (cost-3 fetches: completed - scheduled = 300)
    assert(ordered.exists { case (_, s, c) => c - s == 300L })

    // streaming twin: same outcomes via attemptsOf, same budget via config
    val (out, _) = EventStream.paceBatch(
      (1L to n).iterator.map(id =>
        EventStream.FetchRequest("gh.com", path(id), new Timestamp(0L))),
      graft.fetch.FetchStage.PacerState(Long.MinValue, 0L),
      pol.minIntervalMs, pol.budgetRequests, pol.windowMs,
      r => residueAttempts(r.unit_path.drop(8).toLong), pol.maxRetries)
    val streaming = out.map(f =>
      f.unit_path -> ((f.position, f.scheduled_ms, f.completed_ms))).toMap
    assert(streaming == batch,
      "streaming pacer schedule diverges from the batch golden schedule")
  }

  test("R1 retry parity holds ACROSS micro-batches through the streaming " +
      "query (state carry-over with a tripping budget)") {
    implicit val sqlCtx = spark.sqlContext
    val n = 300L
    val pol = graft.fetch.FetchStage.Politeness(100L, 3,
      budgetRequests = 5, windowMs = 2000L)
    def path(id: Long) = f"gh.com/u$id%05d"
    val tasks = spark.createDataset((1L to n).map(id =>
      graft.fetch.FetchTask(path(id), "gh.com", id, 1, id, 0L, 0L, 0L, false)))
    val batch = graft.fetch.FetchStage.run(spark, tasks,
      politeness = Map("gh.com" -> pol)).collect()
      .map(r => r.unit_path -> ((r.pos, r.scheduled_ms, r.completed_ms))).toMap

    val cfg = graft.CrawlConfig.default.copy(politeness = Map("gh.com" -> pol))
    val input = MemoryStream[EventStream.FetchRequest]
    val paced = EventStream.politenessPacer(input.toDS(), cfg,
      r => residueAttempts(r.unit_path.drop(8).toLong))
    val q = paced.writeStream.outputMode("append")
      .format("memory").queryName("paced_parity_out")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt5").toString)
      .start()
    input.addData((1L to n / 2).map(id =>
      EventStream.FetchRequest("gh.com", path(id), new Timestamp(0L))): _*)
    q.processAllAvailable()
    input.addData((n / 2 + 1 to n).map(id =>
      EventStream.FetchRequest("gh.com", path(id), new Timestamp(0L))): _*)
    q.processAllAvailable()
    val streaming = spark.table("paced_parity_out")
      .as[EventStream.ScheduledFetch].collect()
      .map(f => f.unit_path -> ((f.position, f.scheduled_ms, f.completed_ms))).toMap
    q.stop()
    assert(streaming.size == n)
    assert(streaming == batch,
      "cross-micro-batch streaming schedule diverges from batch")
  }

  test("pacer honors the R1 window budget: requests beyond the per-window " +
      "budget sleep until the window resets (FetchStage parity)") {
    // budget 3 per 10 s window, 1 s interval: slots 0,1000,2000 fill the
    // first window's budget; the 4th sleeps to 10000, the 5th paces from
    // there
    val reqs = (1 to 5).map(i =>
      EventStream.FetchRequest("gh.com", s"u$i", new Timestamp(0L)))
    val (out, st) = EventStream.paceBatch(reqs.iterator,
      graft.fetch.FetchStage.PacerState(Long.MinValue, 0L),
      minIntervalMs = 1000L, budgetRequests = 3, windowMs = 10000L)
    assert(out.map(_.scheduled_ms) == Seq(0L, 1000L, 2000L, 10000L, 11000L))
    assert(st.windowStartMs == 10000L && st.windowUsed == 2L)
    // without a budget the same stream paces purely by interval
    val (noBudget, _) = EventStream.paceBatch(reqs.iterator,
      graft.fetch.FetchStage.PacerState(Long.MinValue, 0L), minIntervalMs = 1000L)
    assert(noBudget.map(_.scheduled_ms) == Seq(0L, 1000L, 2000L, 3000L, 4000L))
  }

  test("streaming image dedup: clone classes collapse to one emission per " +
      "pHash across micro-batches; equals the batch first-wins twin") {
    implicit val sqlCtx = spark.sqlContext
    val P = graft.fixtures.PlantedFixtures
    import graft.functions.ImageFunctions
    // three distinct noise images; per image: base + exact copy +
    // re-encode + brightness shift (all pHash-equal by construction)
    def arrivals(id: Long, seqBase: Long): Seq[EventStream.ImageArrival] = {
      val base = ImageFunctions.encode(P.noiseImagePixels(id), 32, 32, "png")
      val variants = Seq(
        base,
        base.clone(),
        graft.operators.MultimodalOps.resizeImage(base, 4096).get,
        P.brightnessShifted(base))
      variants.zipWithIndex.map { case (b, i) =>
        EventStream.ImageArrival(s"img:$id/v$i",
          ImageFunctions.phashOfBytes(b).get, seqBase + i)
      }
    }
    val batch1 = arrivals(1L, 10L) ++ arrivals(2L, 20L).take(2)
    val batch2 = arrivals(2L, 24L).drop(2) ++ arrivals(3L, 30L) ++
      arrivals(1L, 90L) // image 1 re-arrives later: must NOT re-emit
    val input = MemoryStream[EventStream.ImageArrival]
    val q = EventStream.streamingImageDedup(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("img_dedup_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-img").toString)
      .start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val got = spark.table("img_dedup_out").as[EventStream.ImageArrival]
      .collect().map(a => a.phash -> a.seq).toMap
    q.stop()
    // the batch twin over the union (first-wins by seq per phash)
    val all = batch1 ++ batch2
    val expected = all.groupBy(_.phash).map { case (ph, as) =>
      ph -> as.map(_.seq).min
    }
    assert(got == expected, s"streaming != batch first-wins: $got vs $expected")
    assert(got.size == 3, "clone classes must collapse to one row per image")
  }

  test("streaming training gate: gated rows equal TextOps.trainingMix " +
      "row-for-row when arrival order follows doc_id; cross-batch " +
      "fingerprint dups suppressed; gate rejections never enter state") {
    implicit val sqlCtx = spark.sqlContext
    val en = "the cat and the dog is here and the weather is fine today again"
    val rows = Seq(
      (1L, en, 1L),
      (3L, "der hund und die katze und der rest sind alle hier und da", 3L),
      (4L, "the cat and dog is", 4L), // short: gate-rejected
      (6L, "zzz qqq xxx yyy vvv www mmm nnn ooo ppp qqq rrr sss ttt uuu", 6L))
    val lateDup = // fingerprint dup of doc 1 arriving in a LATER batch
      (20L, "THE cat and the DOG   is here and the weather is fine today again", 20L)
    val fresh = (21L, s"$en indeed", 21L)
    val input = MemoryStream[(Long, String, Long)]
    val gated = EventStream.withTrainingGate(
      input.toDS().toDF("doc_id", "text", "seq"))
    val q = EventStream.streamingTrainingDedup(gated)
      .writeStream.outputMode("append").format("memory")
      .queryName("train_gate_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt-train").toString)
      .start()
    input.addData(rows: _*)
    q.processAllAvailable()
    input.addData(lateDup, fresh)
    q.processAllAvailable()
    val got = spark.table("train_gate_out").as[EventStream.GatedDoc]
      .collect().map(g => g.doc_id ->
        (g.pred_lang, g.split, g.n_tokens, g.n_chars_m, g.alpha_permille))
      .toMap
    q.stop()
    // batch twin over the SAME corpus (arrival order = doc_id order, so
    // min-doc_id canonical ≡ first arrival)
    val dir = Files.createTempDirectory("graft-train-stream").toString
    (rows :+ lateDup :+ fresh).map { case (id, t, _) => (id, t, "x", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val batch = graft.operators.TextOps.trainingMix(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got == batch, s"streaming $got != batch $batch")
    assert(got.keySet == Set(1L, 3L, 21L)) // 4,6 gated out; 20 deduped
  }

  test("withImagePhash: bytes leave the plan at the projection; undecodable " +
      "payloads dropped") {
    val P = graft.fixtures.PlantedFixtures
    val rows = Seq(
      ("a", graft.functions.ImageFunctions.encode(
        P.noiseImagePixels(7L), 32, 32, "png"), 1L),
      ("bad", Array[Byte](1, 2, 3), 2L)).toDF("image_id", "bytes", "seq")
    val out = EventStream.withImagePhash(rows).collect()
    assert(out.length == 1 && out(0).image_id == "a")
  }
}

object EventStreamSpec {
  /** The outcome residues of FetchStage.defaultOutcome, as the attempts
    * the pacer charges (transient failures; the maxRetries cap is the
    * pacer's). Lives on the serializable companion: the streaming query
    * ships the attemptsOf closure to executors.
    */
  def residueAttempts(id: Long): Int =
    if (id % 101 == 0) 0
    else if (id % 97 == 0) 2
    else if (id % 997 == 0) Int.MaxValue
    else 0
}
