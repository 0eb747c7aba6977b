package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * Array[Float]`). Brute-force cosine top-k is the exact baseline; the
  * LSH-bucketed variant is the 100 TB scale path (candidates from
  * sign-pattern buckets, exact re-rank within buckets only).
  *
  * Dot products run through `aggregate`/`zip_with` builtin higher-order
  * functions (codegen'd, sequential left-to-right accumulation in double —
  * deterministic and matching the DuckDB oracle's accumulation order).
  */
object VectorOps {

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))

  private def norm(a: String): Column =
    sqrt(expr(s"aggregate(transform($a, x -> x * x), 0D, (acc, v) -> acc + v)"))

  /** Shared exact cosine re-rank over candidate pairs
    * (qid, qemb, qnrm, neighbor_id, nemb, nnrm) → (qid, neighbor_id,
    * rank ≤ k), deterministic tie-break on neighbor id. One definition —
    * brute-force, LSH, and IVF all rank with identical semantics.
    */
  private def exactRerank(pairs: DataFrame, k: Int): DataFrame = {
    val sim = pairs
      .filter(col("qid") =!= col("neighbor_id"))
      .withColumn("sim",
        expr("aggregate(zip_with(qemb, nemb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
          (col("qnrm") * col("nnrm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("neighbor_id"))
    sim.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Brute-force cosine top-k: queries = vec_id < nQueries; exact ranking
    * over all vectors. O(Q×N) — the correctness baseline the LSH path is
    * validated against. Output (qid, neighbor_id, rank), rank 1..k,
    * deterministic tie-break on neighbor id.
    */
  def annBruteForce(spark: SparkSession, sfDir: String,
      nQueries: Int = 20, k: Int = 3): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .withColumn("nrm", norm("emb"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    exactRerank(queries.crossJoin(broadcast(emb.select(
      col("vec_id").as("neighbor_id"), col("emb").as("nemb"),
      col("nrm").as("nnrm")))), k)
  }

  /** Sign-pattern LSH bucketing with `nPlanes` hyperplanes (random ±1
    * components): bucket id = bit pattern of sign(v · plane_p). The scale
    * path for ANN — candidates only within equal buckets, then exact cosine
    * re-rank. Recall is tested against `annBruteForce` in VectorOpsSpec.
    */
  def lshBuckets(spark: SparkSession, sfDir: String, nPlanes: Int = 8): DataFrame =
    lshBucketsOf(embeddings(spark, sfDir), nPlanes)

  /** `lshBuckets` over an explicit embeddings DataFrame (`vec_id`,
    * `embedding: array<float>`).
    */
  def lshBucketsOf(embDf: DataFrame, nPlanes: Int = 8): DataFrame = {
    val proj = (0 until nPlanes).map { p =>
      // v · plane_p  with plane components ±1 derived from (p, dim index)
      val s = expr(
        s"""aggregate(
           |  zip_with(emb, sequence(0, size(emb) - 1), (x, j) ->
           |    x * (CASE WHEN pmod(xxhash64($p, j), 2) = 0 THEN 1.0D ELSE -1.0D END)),
           |  0D, (acc, v) -> acc + v)""".stripMargin)
      when(s >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    ScanFloor(embDf)
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("emb"), proj.as("bucket"))
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-family member over
    * vectors: candidates blocked by the SIGN PATTERN of the first `nBits`
    * embedding components (a deterministic, engine-replicable blocking key —
    * near-identical vectors share component signs), exact cosine within
    * blocks, pairs kept at `minPermille` similarity. One shuffle on the
    * block key; no all-pairs join ever materializes (the blocking is the
    * same family as SimHash block keys for text).
    */
  def embedNearDup(spark: SparkSession, sfDir: String,
      nBits: Int = 8, minPermille: Int = 900): DataFrame =
    embedNearDupOf(embeddings(spark, sfDir), nBits, minPermille)

  /** [[embedNearDup]] over an arbitrary (vec_id, emb) corpus — the
    * DataFrame-in flavor the dedup-clustering pipeline composes with
    * (planted corpora, featurized image embeddings, …).
    */
  def embedNearDupOf(embDf: DataFrame,
      nBits: Int = 8, minPermille: Int = 900): DataFrame = {
    val blockKey = (0 until nBits).map { i =>
      when(expr(s"emb[$i]") >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val emb = ScanFloor(embDf)
      .withColumn("nrm", norm("emb"))
      .withColumn("block", blockKey)
    val a = emb.select(col("block"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = emb.select(col("block"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        expr("aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)") /
          (col("nrm_a") * col("nrm_b")))
      .withColumn("cos_permille", floor(col("cos") * 1000).cast("long"))
      .filter(col("cos_permille") >= minPermille)
      .select(col("id_a"), col("id_b"), col("cos_permille"))
  }

  private[operators] final case class Anchor(j: Int, v: Array[Double], nrm: Double)

  /** Deterministic anchor rows standing in for an offline-trained coarse
    * quantizer (tiny: nCentroids × dim doubles, inlined as literals).
    */
  private def ivfAnchors(embDf: DataFrame, nCentroids: Int,
      anchorBase: Long): Array[Anchor] = {
    val anchors = embDf
      .filter(col("vec_id") >= anchorBase &&
        col("vec_id") < anchorBase + nCentroids)
      .orderBy("vec_id")
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .collect().zipWithIndex
      .map { case (r, j) =>
        val v = r.getSeq[Double](0).toArray
        Anchor(j, v, math.sqrt(v.map(x => x * x).sum))
      }
    require(anchors.length == nCentroids,
      s"anchor rows missing: got ${anchors.length}, want $nCentroids")
    anchors
  }

  // per-anchor cosine as a codegen'd expression over array literals; the
  // anchor norm is a positive constant so it never flips a comparison
  // between a vector and its power-of-two multiples
  private def cosTo(a: Anchor): Column =
    expr(s"aggregate(zip_with(emb, array(${a.v.mkString("D,")}D), " +
      "(x, y) -> x * y), 0D, (acc, v) -> acc + v)") / (col("nrm") * lit(a.nrm))

  /** All anchor cosines as ONE array column — each cosine is evaluated
    * exactly once (a when-chain argmax would nest every prior cosine
    * expression per step: exponential expression-tree growth).
    * `array_position(…, array_max(…)) - 1` is the argmax with the
    * FIRST (lowest-index) anchor winning exact ties, deterministically.
    */
  private def ivfListsOf(embDf: DataFrame, anchors: Array[Anchor]): DataFrame =
    ScanFloor(embDf)
      .withColumn("emb", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nrm", norm("emb"))
      .withColumn("cos_arr", array(anchors.map(cosTo).toSeq: _*))
      .withColumn("list_id", expr(
        "cast(array_position(cos_arr, array_max(cos_arr)) - 1 as int)"))
      .select("vec_id", "emb", "nrm", "cos_arr", "list_id")

  /** Test seam: list assignment only (pins the scale-invariance the
    * planted oracle rests on).
    */
  def annIvfListsForTest(spark: SparkSession, embDf: DataFrame,
      nCentroids: Int, anchorBase: Long = 100L): DataFrame =
    ivfListsOf(embDf, ivfAnchors(embDf, nCentroids, anchorBase))

  /** Test seam: list assignment under a TRAINED quantizer. */
  def annIvfTrainedListsForTest(spark: SparkSession, embDf: DataFrame,
      nCentroids: Int, nIter: Int, anchorBase: Long = 100L): DataFrame =
    ivfListsOf(embDf, trainIvfAnchors(embDf, nCentroids, nIter, anchorBase))

  // fixed-point scale for centroid accumulation: component sums are taken
  // over round(x * 2^20) longs, so the per-list reduction is exact integer
  // arithmetic — commutative and associative — and the trained centroids
  // are bit-identical regardless of partition count or merge order (a
  // plain double sum would drift with Spark's nondeterministic partial-
  // aggregate order, making the quantizer irreproducible run to run)
  private val CentroidFp = 1L << 20

  /** Lloyd-iterated spherical k-means coarse quantizer (MacQueen 1967;
    * Dhillon & Modha, "Concept decompositions for large sparse text data
    * using clustering", Machine Learning 42, 2001 — the cosine-objective
    * variant): seeds = the deterministic `ivfAnchors` rows, then `nIter`
    * rounds of (assign every vector to its max-cosine centroid) →
    * (centroid := mean of its vectors). The mean's DIRECTION is the
    * maximizer of the within-list cosine sum, so the quantization
    * objective is monotone non-decreasing per round (pinned in
    * VectorOpsSpec); cosine ignores the norm, so dividing by n is only
    * for numerical headroom.
    *
    * Distribution shape: each round is one codegen'd assignment scan +
    * `posexplode` to (list, dim) cells + ONE hash aggregation on the
    * (list_id, j) key — nCentroids×dim groups, map-side combined, so the
    * shuffle carries ~nCentroids×dim×partitions longs no matter the
    * corpus size. Only nCentroids rows ever reach the driver; at 10^10
    * vectors this trains offline on a sample and broadcasts, exactly like
    * the published IVF recipe. Empty lists keep their previous centroid.
    */
  private[operators] def trainIvfAnchors(embDf: DataFrame, nCentroids: Int, nIter: Int,
      anchorBase: Long = 100L): Array[Anchor] = {
    var cur = ivfAnchors(embDf, nCentroids, anchorBase)
    val dim = cur.head.v.length
    for (_ <- 0 until nIter) {
      val cells = ivfListsOf(embDf, cur)
        .select(col("list_id"), posexplode(col("emb")).as(Seq("j", "x")))
        .groupBy(col("list_id"), col("j"))
        .agg(sum(expr(s"cast(round(x * ${CentroidFp}d) as long)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(nCentroids)(new Array[Long](dim))
      val counts = new Array[Long](nCentroids)
      cells.foreach { r =>
        sums(r.getInt(0))(r.getInt(1)) = r.getLong(2)
        counts(r.getInt(0)) = r.getLong(3)
      }
      cur = cur.map { a =>
        if (counts(a.j) == 0L) a
        else {
          val v = sums(a.j).map(_.toDouble / (CentroidFp * counts(a.j)))
          val nrm = math.sqrt(v.map(x => x * x).sum)
          if (nrm == 0.0) a else Anchor(a.j, v, nrm)
        }
      }
    }
    cur
  }

  /** Mean max-cosine of the corpus to its assigned centroid — the
    * spherical k-means objective, in permille. Test seam for the
    * monotone-improvement property.
    */
  def ivfObjectivePermilleForTest(embDf: DataFrame,
      anchors: Array[Anchor]): Long = {
    val r = ivfListsOf(embDf, anchors)
      .agg(floor(avg(expr("array_max(cos_arr)")) * 1000).cast("long"))
      .head.getLong(0)
    r
  }

  /** IVF (inverted-file) ANN — the second scale path next to hyperplane
    * LSH, the classical coarse-quantizer + inverted-list design (Sivic &
    * Zisserman, "Video Google", ICCV 2003; the IVF-Flat index family
    * popularized by the public FAISS docs — implemented here from the
    * published method, not any codebase): a small coarse quantizer of
    * `nCentroids` anchor vectors
    * partitions the corpus into inverted lists (one shuffle on the list
    * id); a query probes only its `nProbe` nearest lists and re-ranks
    * exactly inside them. At 10^10 vectors the quantizer is trained
    * offline and broadcast (here: deterministic anchor rows from the
    * corpus itself — vec_id ∈ [anchorBase, anchorBase+nCentroids)), the
    * list id is the only shuffle key, and probe cost is nProbe/nCentroids
    * of the corpus instead of all of it.
    *
    * Assignment is by COSINE to the anchor (scale-invariant: a vector and
    * its ×2^k copy see bit-identical cosines to every anchor — the same
    * exact power-of-two fp argument as the planted ANN clones — so
    * assignment is stable under normalization differences). Ties break on
    * the lower anchor index, deterministically.
    */
  def annIvfOf(spark: SparkSession, embDf: DataFrame, cacheKey: String,
      nQueries: Int = 20, k: Int = 3, nCentroids: Int = 16,
      nProbe: Int = 2, anchorBase: Long = 100L): DataFrame = {
    // SESSION-scoped anchor memo (PlanCache.memoValue) — the anchors and
    // the cached inverted lists below share one lifecycle, so they can
    // never come from different corpus epochs, and a JVM-global map can't
    // accumulate stale quantizers across sessions
    val anchors = graft.PlanCache.memoValue(spark,
      s"ann-ivf-anchors:$cacheKey:$nCentroids:$anchorBase")(
      ivfAnchors(embDf, nCentroids, anchorBase))
    // anchorBase is part of the key: two quantizers over the same corpus
    // must never share inverted lists
    annIvfWith(spark, embDf, anchors,
      s"ann-ivf-lists:$cacheKey:$nCentroids:$anchorBase",
      nQueries, k, nCentroids, nProbe)
  }

  /** IVF ANN with the Lloyd-TRAINED coarse quantizer — same probe +
    * exact-re-rank machinery as `annIvfOf`, but the inverted lists come
    * from `trainIvfAnchors` instead of raw corpus rows. Assignment stays
    * cosine-based, so the scale-invariance the planted oracle rests on
    * (a vector and its ×2^k copy always share a list) holds for ANY
    * centroid set — the trained path is oracle-checked by the identical
    * closed form (`q_ann_ivf_trained`).
    */
  def annIvfTrainedOf(spark: SparkSession, embDf: DataFrame,
      cacheKey: String, nQueries: Int = 20, k: Int = 3,
      nCentroids: Int = 16, nProbe: Int = 2, nIter: Int = 3,
      anchorBase: Long = 100L): DataFrame = {
    val anchors = graft.PlanCache.memoValue(spark,
      s"ann-ivf-trained-anchors:$cacheKey:$nCentroids:$nIter:$anchorBase")(
      trainIvfAnchors(embDf, nCentroids, nIter, anchorBase))
    annIvfWith(spark, embDf, anchors,
      s"ann-ivf-trained-lists:$cacheKey:$nCentroids:$nIter:$anchorBase",
      nQueries, k, nCentroids, nProbe)
  }

  private def annIvfWith(spark: SparkSession, embDf: DataFrame,
      anchors: Array[Anchor], listCacheKey: String, nQueries: Int, k: Int,
      nCentroids: Int, nProbe: Int): DataFrame = {
    val base = graft.PlanCache.cached(spark, listCacheKey)(
      ivfListsOf(embDf, anchors))
    // query side probes its nProbe nearest lists (the first probe is its
    // own list, so planted same-direction neighbors are always reachable):
    // sort (cos desc, anchor index asc) over the precomputed cosine array,
    // take the first nProbe indices — all inside one codegen'd expression
    val topProbes = expr(
      s"""transform(slice(array_sort(
         |  transform(sequence(0, ${nCentroids - 1}),
         |    j -> struct(cos_arr[j] AS c, j AS j)),
         |  (l, r) -> CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1
         |                 WHEN l.j < r.j THEN -1 WHEN l.j > r.j THEN 1
         |                 ELSE 0 END),
         |  1, $nProbe), s -> s.j)""".stripMargin)
    val queries = base.filter(col("vec_id") < nQueries)
      .withColumn("probe", explode(topProbes))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"), col("probe").as("list_id"))
    exactRerank(queries.join(base.select(col("vec_id").as("neighbor_id"),
      col("emb").as("nemb"), col("nrm").as("nnrm"), col("list_id")),
      Seq("list_id")), k)
  }

  /** LSH-accelerated ANN: same output shape as `annBruteForce` but
    * candidates restricted to the query's bucket. At 10^10 vectors the
    * bucket key is the shuffle key; no cross join ever materializes.
    */
  def annLsh(spark: SparkSession, sfDir: String,
      nQueries: Int = 20, k: Int = 3, nPlanes: Int = 8): DataFrame =
    annLshOf(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"),
      s"dir:$sfDir", nQueries, k, nPlanes)

  /** `annLsh` over an explicit embeddings DataFrame; `cacheKey` names the
    * session-memoized bucketed-vector cache.
    */
  def annLshOf(spark: SparkSession, embDf: DataFrame, cacheKey: String,
      nQueries: Int = 20, k: Int = 3, nPlanes: Int = 8): DataFrame = {
    val b = graft.PlanCache.cached(spark, s"ann-lsh-buckets:$cacheKey:$nPlanes")(
      lshBucketsOf(embDf, nPlanes).withColumn("nrm", norm("emb")))
    val queries = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"), col("bucket"))
    exactRerank(queries.join(b.select(col("vec_id").as("neighbor_id"),
      col("emb").as("nemb"), col("nrm").as("nnrm"), col("bucket")),
      Seq("bucket")), k)
  }
}
