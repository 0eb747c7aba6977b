package graft

import graft.operators._

/** Physical-plan assertions: the optimizations the 100 TB posture depends on
  * must actually appear in the plan — filter/column pushdown into the
  * parquet scan, broadcast joins for dimension tables, whole-stage codegen
  * around the hot expressions, and partial (map-side) aggregation.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    // execute THROUGH the same QueryExecution so AQE finalizes this plan
    // (df.write would build a fresh one and leave this one isFinalPlan=false)
    val qe = df.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    qe.executedPlan.toString + "\n" +
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1_pricing: shipdate filter + column pruning pushed into the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // pruned read schema: no partkey/suppkey/comment columns
    assert(p.contains("l_returnflag") && !p.contains("l_partkey"), "column pruning failed")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), "no codegen span")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q1_pricing: partial aggregation before the exchange (map-side combine)") {
    val p = plan("q1_pricing")
    val exchangeIdx = p.indexOf("Exchange")
    val firstAgg = p.lastIndexOf("HashAggregate")
    assert(exchangeIdx >= 0 && firstAgg > exchangeIdx,
      "no partial HashAggregate below the shuffle")
  }

  test("q5_region: dimension joins are broadcast, fact table never shuffles for the join") {
    val p = plan("q5_region")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    // lineitem side must not be exchanged before its first join
    val firstJoin = p.indexOf("BroadcastHashJoin")
    val factScan = p.indexOf("lineitem")
    assert(factScan > 0 && firstJoin > 0)
  }

  test("q3_shipping: customer side broadcast; selective filters pushed") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)") ||
      p.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter not pushed:\n$p")
  }

  test("q_license_join + q_mime_join: dimension joins broadcast (J4/J5)") {
    assert(plan("q_license_join").contains("BroadcastHashJoin"))
    assert(plan("q_mime_join").contains("BroadcastHashJoin"))
  }

  test("q_frontier_dedup: hash aggregation (no sort-based dedup, no global sort)") {
    val p = plan("q_frontier_dedup")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Sort [unit_path"), "dedup must not globally sort")
  }

  test("q_token_count/q_quality/q_vision_prep: single scan, codegen'd projections, no shuffle") {
    for (q <- Seq("q_token_count", "q_quality", "q_vision_prep")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be shuffle-free:\n$p")
      assert(p.contains("WholeStageCodegen") || p.contains("*("), s"$q lost codegen")
    }
  }

  test("q_training_mix: ONE shuffle (the fingerprint window over gate " +
      "survivors), gates evaluated scan-stage, no join") {
    val p = plan("q_training_mix")
    // keyed exchange lines only — the formatted section repeats each
    // Exchange as a bare "(n) Exchange" header with the keys in Arguments
    val keyed = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Exchange SinglePartition") ||
        l.contains("Arguments: hashpartitioning") ||
        l.contains("Arguments: rangepartitioning")).toVector
    assert(keyed.nonEmpty && keyed.forall(_.contains("partitioning(fp")),
      s"expected only the fp window exchange:\n${keyed.mkString("\n")}")
    assert(!p.contains("Join"), s"no join expected:\n$p")
    assert(p.contains("Window"), "fingerprint dedup should be a window")
  }

  test("q_sitemap_frontier: XML parse is scan-stage — shuffles only on the " +
      "doc key (joins), the url dedup window, and the fixture's corpus " +
      "grouping; no cartesian, no UDF") {
    val p = plan("q_sitemap_frontier")
    val keyed = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Arguments: hashpartitioning") ||
        l.contains("Arguments: rangepartitioning")).toVector
    // allowed keys: sitemap_url (the two doc joins), url (first-wins
    // window), s/c/host + k (PLANTED-CORPUS construction: the urlset
    // groupBy and the hosts distinct — fixture cost, not operator cost)
    assert(keyed.nonEmpty && keyed.forall(l =>
      l.contains("sitemap_url") || l.contains("partitioning(url") ||
        l.contains("partitioning(s") || l.contains("partitioning(host") ||
        l.contains("partitioning(k")),
      s"unexpected shuffle key:\n${keyed.mkString("\n")}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "no pair-space joins in the frontier feed")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "parse must stay codegen (from_xml is an expression, not a UDF)")
  }

  test("q_pack_sequences: exactly the two windows shuffle — the mix " +
      "fingerprint dedup and the (split, stratum) packing cumsum; no join") {
    val p = plan("q_pack_sequences")
    val keyed = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning") ||
        l.contains("Arguments: hashpartitioning") ||
        l.contains("Arguments: rangepartitioning")).toVector
    assert(keyed.nonEmpty && keyed.forall(l =>
      l.contains("partitioning(fp") || l.contains("partitioning(split")),
      s"expected only the fp and (split, stratum) window exchanges:\n${keyed.mkString("\n")}")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("planted near-dup queries: inverted-index joins only — no cartesian, " +
      "no nested-loop, pair space never materializes") {
    // the LSH family over the planted corpora must keep the same scale
    // shape as the path-based operators: candidates come from band/block
    // bucket joins, so the only join strategies are hash joins on keys
    for (q <- Seq("q_minhash_lsh", "q_simhash_pairs", "q_ann_lsh", "q_ann_ivf",
        "q_multimodal_ann", "q_image_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q: pair space materialized:\n${p.take(2000)}")
    }
  }

  test("q_ann_cosine: the vector side is broadcast (no shuffled cross join)") {
    val p = plan("q_ann_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ANN baseline should broadcast the candidate vectors:\n$p")
    assert(!p.contains("CartesianProduct"), "unbroadcast cartesian product")
  }

  test("CanonicalUnitPath expression: codegen'd, inside the WholeStageCodegen span, equals interpreted eval") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val urls = Seq(
      "https://www.thingiverse.com/thing:3062487",
      "https://github.com/o/r/blob/main/okh.toml",
      "https://raw.githubusercontent.com/o/r/main/okh.toml",
      "https://certification.oshwa.org/us000123.html",
      "https://www.appropedia.org/X_Y",
      "https://example.com/unknown",
      "not a url", null).toDF("url")
    val out = urls.select(col("url"),
      graft.functions.CanonicalUnitPath(col("url")).as("p")).collect()
    out.foreach { r =>
      val expected = Option(r.getString(0))
        .flatMap(graft.model.UrlCanonicalizer.canonicalPath).orNull
      assert(r.getString(1) == expected, s"mismatch for ${r.getString(0)}")
    }
    // the expression must live inside a codegen stage (not a fallback) —
    // use a file-backed source so the optimizer can't constant-fold it away
    val df = spark.read.parquet(s"$sf/part.parquet")
      .select(graft.functions.CanonicalUnitPath(
        concat(lit("https://www.thingiverse.com/thing:"), col("p_partkey"))).as("p"))
    val qe = df.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    val formatted = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), s"expression fell out of codegen:\n$formatted")
    assert(formatted.contains("canonical_unit_path"), "expression missing from plan")
  }

  test("q_crawl_meta: one shuffle key (unit_path) shared by window and aggregations") {
    val p = plan("q_crawl_meta")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"crawl-meta must stay key-joined:\n$p")
    // every Exchange in the plan partitions on unit_path (no stray keys)
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toVector
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(_.contains("unit_path")),
      s"unexpected shuffle key:\n${exchanges.mkString("\n")}")
  }

  test("q_crawl_order: distributed global rank — sort+zipWithIndex lineage, " +
      "no single-partition window (VERDICT r1 watch item)") {
    val p = plan("q_crawl_order")
    // the rank is produced by zipWithIndex over the range-sorted RDD
    // lineage, so the surfaced plan is a scan of that RDD — what must NOT
    // appear is any single-partition collapse or a global window
    assert(p.contains("ExistingRDD"), s"expected the zipWithIndex lineage:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"golden-order rank collapsed to a single partition:\n$p")
    assert(!p.contains("Window"), s"rank must not use a global window:\n$p")
  }

  test("globalRank ≡ single-partition window rank on multi-partition input " +
      "(the sf0.1 resampled-boundaries regression)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    // enough rows that the range sort genuinely spans many partitions
    val df = spark.range(1, 50001)
      .select((col("id") % 7).cast("int").as("priority"), col("id").as("seq"))
      .repartition(16)
    val got = CrawlOps.globalRank(df, "rank", col("priority"), col("seq"))
      .select(col("priority"), col("seq"), col("rank"))
    val expected = df.withColumn("rank",
      row_number().over(W.orderBy(col("priority"), col("seq"))).cast("long"))
    assert(got.join(expected, Seq("priority", "seq"))
      .filter(got("rank") =!= expected("rank")).count() == 0L)
    assert(got.count() == 50000L)
  }

  test("frontier stage: fully codegen'd, no Scala UDFs on the hot path (VERDICT r1 #9)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // seedUrlCol must agree with the driver-side pure function for every id,
    // INCLUDING ids past 6 digits (lpad would truncate; format_string pads)
    val ids = spark.range(1, 2001).union(spark.range(999_995, 1_000_025))
      .toDF("id")
    val mismatches = ids
      .withColumn("url", graft.pipeline.CrawlPipeline.seedUrlCol(col("id")))
      .as[(Long, String)].collect()
      .filter { case (id, url) => url != graft.pipeline.CrawlPipeline.seedUrl(id) }
    assert(mismatches.isEmpty, s"seedUrlCol diverges: ${mismatches.take(3).mkString}")

    // the frontier plan must contain no Scala UDF (everything codegen'd)
    val store = graft.fixtures.SyntheticStore.generate(spark, 100, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-f").toString
    store.write.mode("overwrite").parquet(dir)
    val f = graft.pipeline.CrawlPipeline.frontier(spark, dir)
    val qe = f.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    val p = qe.executedPlan.toString
    assert(!p.contains("UDF"), s"frontier still carries a Scala UDF:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"frontier lost codegen:\n$p")
  }

  test("crawl payload join, bounded slice: fetched side broadcast (bytes never shuffle)") {
    import org.apache.spark.sql.functions._
    val store = graft.fixtures.SyntheticStore.generate(spark, 200, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    store.write.mode("overwrite").parquet(dir)
    val frontier = graft.pipeline.CrawlPipeline.robotsAllowed(
      graft.pipeline.CrawlPipeline.frontier(spark, dir))
    val tasks = graft.fetch.FetchStage.toTasks(spark, frontier.filter(!col("robots_denied")))
    val log = graft.fetch.FetchStage.run(spark, tasks)
    val fetched = log.filter(col("status") === "ok")
      .select(col("unit_path"), col("id"), col("pos"), col("scheduled_ms"))
    val results = graft.pipeline.CrawlPipeline.payloadJoin(spark, dir, fetched.toDF(),
      limit = Some(150L))
    val p = results.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"payload join not broadcast:\n$p")
  }

  test("crawl payload join, limit=None: storage-partitioned — no broadcast of the " +
      "fetched side, no Exchange on the bytes side (VERDICT r1 #1)") {
    import org.apache.spark.sql.functions._
    val store = graft.fixtures.SyntheticStore.generate(spark, 200, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString + "/store"
    store.write.mode("overwrite").parquet(dir)
    val frontier = graft.pipeline.CrawlPipeline.robotsAllowed(
      graft.pipeline.CrawlPipeline.frontier(spark, dir))
    val tasks = graft.fetch.FetchStage.toTasks(spark, frontier.filter(!col("robots_denied")))
    val log = graft.fetch.FetchStage.run(spark, tasks)
    val fetched = log.filter(col("status") === "ok")
      .select(col("unit_path"), col("id"), col("pos"), col("scheduled_ms"))
    val results = graft.pipeline.CrawlPipeline.payloadJoin(spark, dir, fetched.toDF(),
      limit = None)
    // execute through this QueryExecution so AQE finalizes the plan
    val qe = results.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    val p = qe.executedPlan.toString + "\n" +
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastExchange"),
      s"fetched side must not broadcast at limit=None:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected a shuffled join:\n$p")
    // the store scan must be bucketed (storage-partitioned side, no shuffle)
    assert(p.contains("Bucketed: true"), s"store scan not bucketed:\n$p")
    // the store (left) subtree of the join must contain NO Exchange — only
    // the small fetched-key side shuffles (into the store's bucketing)
    val tree = qe.executedPlan.toString
    val lines = tree.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("ShuffledHashJoin"))
    assert(joinIdx >= 0, s"join missing from final plan:\n$tree")
    val leftLines = lines.drop(joinIdx + 1).takeWhile(_.trim.startsWith(":"))
    assert(leftLines.nonEmpty, s"unexpected plan shape:\n$tree")
    assert(!leftLines.exists(_.contains("Exchange")),
      s"bytes (store) side of the payload join shuffled:\n$tree")
    assert(leftLines.exists(_.contains("Bucketed: true")),
      s"store side is not the bucketed scan:\n$tree")
  }

  test("compaction fold (metaState): one shared key — every " +
      "shuffle on unit_path, no cartesian/NLJ, base↔ok join needs no realignment") {
    import spark.implicits._
    val events = (1L to 5000L).map { i =>
      val unit = s"host${i % 3}.org/u${i % 500}"
      val status = if (i % 11 == 0) "error" else "ok"
      (unit, status, i / 500, i % 7, i % 32)
    }.toDF("unit_path", "status", "run_seq", "content_hash", "bucket")
    val qe = graft.operators.CrawlOps.metaState(events).queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    val p = qe.executedPlan.toString + "\n" +
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"compaction fold must stay key-joined:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toVector
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(_.contains("unit_path")),
      s"compaction fold shuffled on an unexpected key:\n${exchanges.mkString("\n")}")
  }

  test("URL-seen exclusion plan (summary-first): key joins only — no cartesian, " +
      "no nested loop, every shuffle on bucket/unit_path") {
    import org.apache.spark.sql.functions._
    val P = graft.pipeline.CrawlPipeline
    val store = graft.fixtures.SyntheticStore.generate(spark, 300, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-sum").toString + "/store"
    store.write.mode("overwrite").parquet(dir)
    val root = java.nio.file.Files.createTempDirectory("graft-plan-root").toString
    // two slices + a compaction so BOTH the summary AND a non-empty event
    // delta feed the exclusion fold
    P.run(spark, dir, root, Some(120L))
    assert(P.compactUrlSeen(spark, root).contains(0L))
    P.run(spark, dir, root, Some(120L))
    val fullFrontier = P.robotsAllowed(P.frontier(spark, dir))
    val candidates = P.selectCandidates(spark, root, fullFrontier,
      P.urlSeenStore(root).read(spark), graft.frontier.SeenFilters.bloom)
    val qe = candidates.queryExecution
    qe.executedPlan.execute().foreachPartition((_: Iterator[_]) => ())
    val p = qe.executedPlan.toString + "\n" +
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"exclusion must stay key-joined:\n$p")
    // every hash shuffle keys on the frontier routing or the unit key
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toVector
    assert(exchanges.forall(l => l.contains("bucket") || l.contains("unit_path")),
      s"unexpected shuffle key:\n${exchanges.mkString("\n")}")
    // the delta read filters on run_seq BEFORE joining (not post-join)
    assert(p.contains("run_seq"), s"summary delta filter missing:\n$p")
    // the sketch predicate runs above the bucket routing: no routing
    // exchange has it below (it would load every bucket's filter per task)
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => n.children.flatMap(nodes)
    })
    def sketch(n: SparkPlan) = n.expressions.exists(_.exists {
      case u: ScalaUDF => u.function.isInstanceOf[graft.frontier.MightContainFromFiles[_]]
      case _ => false
    })
    val all = nodes(qe.executedPlan)
    val routings = all.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "bucket"))
        case _ => false
      }) => e
    }
    assert(routings.nonEmpty && all.exists(sketch), s"no bucket routing or sketch:\n$p")
    assert(!routings.exists(r => nodes(r.child).exists(sketch)),
      s"the sketch predicate is below the bucket routing:\n$p")
    // semantics: 240 units are resolved (no 997-class errors at N=300, so
    // every attempt was permanent) → exactly the other 60 remain eligible
    val remaining = candidates.select("unit_path").distinct().count()
    assert(remaining == 60L, s"exclusion selected $remaining, expected 60")
  }
}
