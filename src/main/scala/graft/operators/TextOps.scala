package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators over the `documents` table —
  * the training-data-pipeline surface (exact dedup, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash, language id, quality scoring, token counting,
  * fingerprinting). All built from codegen'd builtin functions — no Scala
  * UDFs in any per-row hot path.
  *
  * Scale notes: exact dedup and fingerprinting are single-shuffle hash
  * aggregations on a 128-bit digest (not raw text — at 100 TB the shuffle
  * carries 16-byte keys, not documents). Near-dup candidates come from
  * shingle/band inverted indexes (explode → join on shingle/band key), the
  * standard LSH shape whose shuffle is bounded by index size, never by the
  * quadratic pair space.
  */
object TextOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Exact dedup by content hash (hash-groupBy; SURVEY's dedup family #1).
    * Keeps the smallest doc_id as the canonical representative.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))

  /** Document fingerprint: digest of whitespace-normalized lowercase text.
    * The canonical "same modulo whitespace/case" key.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, single
    * punctuation marks — the ASCII core of the GPT-2 pre-tokenization
    * regex (Radford et al. 2019, the public pattern without the unicode
    * categories this container can't byte-map), identical semantics under
    * Java regex and RE2 so the count is engine-reproducible.
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace + BPE-ish token counts + char count (shuffle-free scan). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("n_tokens_bpe"),
      length(col("text")).cast("long").as("n_chars_m"))

  /** Quality scoring: alpha/digit/space/punct composition in permille,
    * all-integer output for cross-engine determinism.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("long")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    val digit = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val space = length(regexp_replace(t, "[^ \\t\\n]", "")).cast("long")
    docs(spark, sfDir).select(
      col("doc_id"),
      nChars.as("n_chars_m"),
      alpha.as("alpha_chars"),
      floor(alpha * 1000.0 / nChars).cast("long").as("alpha_permille"),
      floor(digit * 1000.0 / nChars).cast("long").as("digit_permille"),
      floor((nChars - alpha - digit - space) * 1000.0 / nChars).cast("long")
        .as("punct_permille"))
  }

  /** Marker words per language for the n-gram language-id heuristic
    * (engine analogue of the reference's langdetect usage,
    * normalizer/__init__.py:65-78, made deterministic + oracle-expressible).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " is "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " una "))

  /** Occurrence count of `marker` in `t` via replace-length arithmetic —
    * identical semantics in Spark and DuckDB.
    */
  private def occurrences(t: Column, marker: String): Column =
    (length(t) - length(expr(s"replace(lower(text), '$marker', '')"))) / marker.length

  /** Language-id as a reusable column expression (the normalizers'
    * `_language_from_description` analogue — thingiverse.py:79,
    * oshwa.py:88): marker-occurrence scores, best wins, 'und' when no
    * marker hits. Pure builtin arithmetic, fully codegen'd.
    */
  def langIdCol(c: Column): Column = {
    val t = lower(c)
    def occ(m: String): Column =
      (length(t) - length(call_function("replace", t, lit(m), lit("")))) / m.length
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> markers.map(occ).reduce(_ + _).cast("long")
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val t = lower(col("text"))
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => occurrences(t, m)).reduce(_ + _).cast("long")
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // tie-break: first language (in declared order) achieving the max score
    val predicted = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
    val withScores = scores.foldLeft(docs(spark, sfDir)) { case (df, (lang, s)) =>
      df.withColumn(s"score_$lang", s)
    }
    withScores.select(
      (Seq(col("doc_id")) ++ langMarkers.map { case (l, _) => col(s"score_$l") } :+
        predicted.as("predicted_lang")): _*)
  }

  /** Training-corpus assembly — the capstone composition a training-data
    * pipeline runs over a crawled document table: quality gate (alpha
    * ratio + length band), language gate, fingerprint dedup (canonical =
    * min doc_id per whitespace/case-normalized digest), and a
    * deterministic content-hash split into train/val/test.
    *
    * Stage order is the 100 TB order: both gates are scan-stage column
    * arithmetic (fully codegen'd, no shuffle) and run FIRST, so the one
    * shuffle in the whole plan — the fingerprint window — only ever sees
    * survivors. The split key is `md5("split:" || doc_id)`: its first two
    * hex digits give a stable 256-bucket assignment that any engine
    * reproduces (DuckDB oracle included), so membership never moves when
    * the corpus grows — the property that keeps eval sets frozen across
    * recrawls. All thresholds integer (permille / bucket counts); no
    * doubles cross an engine boundary.
    */
  def trainingMix(spark: SparkSession, sfDir: String,
      minAlphaPermille: Int = 500, minChars: Int = 40,
      maxChars: Int = 100000, langs: Seq[String] = langMarkers.map(_._1),
      valBuckets: Int = 13, testBuckets: Int = 13): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("long")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    val bucket = md5Bucket256("split:", col("doc_id"))
    // one shuffle: min-id canonical per fingerprint, window form (no join)
    val fpw = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs(spark, sfDir)
      .withColumn("n_chars_m", nChars)
      .withColumn("alpha_permille", floor(alpha * 1000.0 / nChars).cast("long"))
      .withColumn("pred_lang", langIdCol(t))
      .filter(col("n_chars_m") >= minChars && col("n_chars_m") <= maxChars &&
        col("alpha_permille") >= minAlphaPermille &&
        col("pred_lang").isin(langs: _*))
      .withColumn("fp", md5(lower(regexp_replace(t, "\\s+", " "))))
      .withColumn("bucket", bucket.cast("long"))
      .withColumn("split",
        when(col("bucket") < testBuckets, "test")
          .when(col("bucket") < testBuckets + valBuckets, "val")
          .otherwise("train"))
      .withColumn("n_tokens", size(split(trim(t), "\\s+")).cast("long"))
      .withColumn("canonical", min(col("doc_id")).over(fpw))
      .filter(col("doc_id") === col("canonical"))
      .select(col("doc_id"), col("pred_lang"), col("split"),
        col("n_tokens"), col("n_chars_m"), col("alpha_permille"))
  }

  /** Word 5-gram shingles, distinct per document. The inverted index that
    * drives both n-gram-Jaccard and MinHash candidate generation.
    * `hashed=true` emits xxhash64 keys computed IN the shingle transform —
    * strings never leave the scan task and every downstream shuffle moves
    * 8-byte longs (one n-gram definition for both forms).
    */
  def shingles(spark: SparkSession, sfDir: String, n: Int = 5,
      hashed: Boolean = false): DataFrame =
    shinglesOf(docs(spark, sfDir), n, hashed)

  def shinglesOf(docsDf: DataFrame, n: Int = 5,
      hashed: Boolean = false): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val gram = s"concat_ws(' ', slice(words, i, $n))"
    val element = if (hashed) s"xxhash64($gram)" else gram
    ScanFloor(docsDf)
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(words) - ${n - 1}), i -> $element)"))
          .as("shingle"))
      .distinct()
  }

  /** N-gram Jaccard near-dup pairs: candidates share ≥1 shingle (inverted-
    * index join — never the quadratic pair space), similarity =
    * |∩| / |∪| in permille. Output pairs with ≥ `minPermille`.
    *
    * `maxDf` drops stop-shingles (document frequency > maxDf) from the
    * index — a boilerplate 5-gram shared by 10⁶ documents would otherwise
    * contribute 10¹² join pairs. Intersections count only sub-threshold
    * shingles, so the reported similarity is a LOWER BOUND when a pair also
    * shares boilerplate (standard near-dup practice: boilerplate overlap is
    * not evidence of duplication). The DuckDB oracle applies the identical
    * filter.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String, minPermille: Int = 100,
      maxDf: Int = 1000): DataFrame = {
    // shingles leave the scan task as 8-byte xxhash64 keys, never as
    // strings — the dedup/df/index joins all shuffle longs (the string
    // form shuffled ~30 bytes/shingle 3×; identical counts modulo 64-bit
    // collisions, whose any-collision probability at 10^7 distinct
    // shingles is ~5e-6). Session-memoized cache: one CacheManager entry
    // per (dir) no matter how many times the query runs.
    val sh = graft.PlanCache.cached(spark, s"shingles:$sfDir")(
      shingles(spark, sfDir, hashed = true))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("shingle")
    // n_shingles rides THROUGH the candidate join (guide §2.3: shuffle a
    // few bytes of metadata instead of re-attaching after the fact): the
    // previous form joined the pair aggregation against `sizes` twice,
    // which re-computed the sizes aggregation in two more index scans and
    // shuffled the pair table two extra times; carrying one long per index
    // row costs less than either.
    val indexed = sh.join(rare, Seq("shingle")).join(sizes, Seq("doc_id"))
    val a = indexed.select(col("doc_id").as("doc_a"), col("shingle"),
      col("n_shingles").as("na"))
    val b = indexed.select(col("doc_id").as("doc_b"), col("shingle"),
      col("n_shingles").as("nb"))
    a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      // na/nb are per-doc constants within a group — max picks the value
      .agg(count(lit(1)).as("inter"), max("na").as("na"), max("nb").as("nb"))
      .withColumn("jaccard_permille",
        floor(col("inter") * 1000.0 / (col("na") + col("nb") - col("inter"))).cast("long"))
      .filter(col("jaccard_permille") >= minPermille)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard_permille"))
  }

  /** MinHash signature: k hash permutations approximated by
    * xxhash64(seed, h) minima over PRE-HASHED shingles, computed IN-ROW
    * over the shingle array with builtin higher-order functions — zero
    * shuffle (the naive explode→groupBy formulation shuffles k longs per
    * shingle; this one never leaves the scan task). Each ~30-byte shingle
    * STRING is hashed exactly once; the k per-seed permutations then mix
    * the 8-byte value (hashing the string k times cost k× the bytes for
    * identical min-wise behavior — the seeded rehash of a 64-bit id is
    * just as much a pseudo-permutation of the shingle set).
    */
  def minhashSignaturesOf(docsDf: DataFrame, k: Int = 64): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val n = 5
    // ONE array<long> signature column instead of k scalar columns, built
    // by the native `minhash_sig` kernel (bit-identical XXH64 composition —
    // see MinhashSig). The previous k-column higher-order-function form was
    // interpreted per element (cold signature build 24.1 s vs 0.37 s at
    // sf0.1, OPTIMIZATION_r06.md §4) and made every downstream operator
    // drag k+1 attributes through analysis/optimization and codegen.
    ScanFloor(docsDf)
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"),
        graft.functions.MinhashSigExpr(col("words"), k, n).as("mh"))
  }

  /** MinHash + LSH banding: k=64 hashes → 16 bands × 4 rows; docs sharing a
    * band bucket are candidates; candidates are verified with exact Jaccard
    * estimate = fraction of equal minhash components. At scale the band
    * bucket join is the only shuffle and AQE handles skewed buckets.
    */
  def minhashLsh(spark: SparkSession, sfDir: String,
      k: Int = 64, bands: Int = 16, minEqPermille: Int = 500): DataFrame =
    minhashLshOf(spark, docs(spark, sfDir), s"dir:$sfDir", k, bands, minEqPermille)

  /** `minhashLsh` over an explicit documents DataFrame. `cacheKey` names
    * the session-memoized signature cache (one CacheManager entry per key —
    * repeated invocations reuse instead of re-caching).
    */
  def minhashLshOf(spark: SparkSession, docsDf: DataFrame, cacheKey: String,
      k: Int = 64, bands: Int = 16, minEqPermille: Int = 500): DataFrame = {
    val rowsPerBand = k / bands
    val sig = graft.PlanCache.cached(spark, s"minhash-sig:$cacheKey:$k")(
      minhashSignaturesOf(docsDf, k))
    // bucket hash inputs are the individual components (getItem), NOT the
    // sliced sub-array — bit-identical bucket values to the previous
    // k-column form, so candidate generation is unchanged
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col("mh").getItem(b * rowsPerBand + r))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    // no distinct: (doc_id, band) is unique by construction (each doc
    // explodes exactly one struct per band index), so the old distinct was
    // a vacuous Exchange + two HashAggregates on each side of the self-join
    val buckets = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify: fraction of equal signature components ≈ Jaccard — exact
    // integer count over the zipped arrays (same sum as the previous
    // 64-term when-chain, one expression instead of 64)
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("eq_permille",
        floor(expr(
          """aggregate(zip_with(a.mh, b.mh,
            |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
            |  0, (acc, v) -> acc + v)""".stripMargin) * 1000.0 / k).cast("long"))
      .filter(col("eq_permille") >= minEqPermille)
      .select(col("doc_a"), col("doc_b"), col("eq_permille"))
  }

  /** Connected components over a near-duplicate pair set — the clustering
    * stage that turns pairwise LSH/simhash output into dedup groups (each
    * doc → the MINIMUM doc id of its component, the deterministic
    * canonical representative). Iterative min-label propagation: each
    * round every node takes the min label among itself and its neighbors;
    * fixpoint after O(component diameter) rounds. Near-dup components are
    * shallow (clones of clones), so a handful of rounds suffices; at
    * 10^10-pair scale each round is ONE join + ONE aggregation on doc_id
    * (change detection folded into the same aggregation via a flagged
    * self row — the convergence count is a shuffle-free scan of the
    * round's checkpoint, not an extra join job), and `localCheckpoint`
    * truncates the growing lineage per round (the iterative-DataFrame
    * trap: without it, round N re-executes rounds 1..N-1).
    *
    * Deep graphs (long chains): see `connectedComponentsAlternating` —
    * the large-star/small-star variant converging in O(log² n) rounds.
    */
  // the checkpointed blocks of a superseded round are released
  // EXPLICITLY (not left to the async ContextCleaner): at pair scale a
  // multi-round run would otherwise hold every round's state in executor
  // storage concurrently
  private def checkpointBlocks(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Per-round lineage truncation for the iterative operators.
    * `reliable = false` (default) uses `localCheckpoint`: executor-local
    * block storage — cheapest, but state is LOST if an executor dies
    * mid-computation, so a long run restarts from scratch on a real
    * cluster. `reliable = true` uses a REAL checkpoint to the session's
    * configured checkpoint dir (a cluster-visible path — HDFS/object
    * store — set via `SparkContext.setCheckpointDir`), which survives
    * executor loss at the cost of a write+read per round; the right
    * setting for deep graphs on shared clusters.
    */
  private def chk(df: DataFrame, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint(true)
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
        "reliable=true requires SparkContext.setCheckpointDir to a " +
          "cluster-visible path that survives executor loss")
      df.checkpoint(eager = true)
    }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      reliable: Boolean = false): DataFrame = {
    val edges = chk(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct(), reliable)
    var labels = chk(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), reliable)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"), lit(0).as("is_self"))
      // change detection rides the SAME aggregation (VERDICT r4 #4): the
      // self row is flagged, so each id's PREVIOUS label comes out of the
      // min-label groupBy as max(label where is_self) — no second
      // join-against-old-labels job per round; the convergence count is a
      // shuffle-free scan of the already-materialized checkpoint
      val next = chk(labels.withColumn("is_self", lit(1)).unionByName(viaNeighbors)
        .groupBy("id").agg(min("label").as("label"),
          max(when(col("is_self") === 1, col("label"))).as("old")),
        reliable) // eager: next is fully materialized here
      val changed = next.filter(col("label") =!= col("old")).count()
      // next no longer depends on the previous round (lineage truncated at
      // its checkpoint) and `changed` has been computed — safe to free
      checkpointBlocks(labels).foreach(_.unpersist(false))
      labels = next.select("id", "label")
      converged = changed == 0
      iter += 1
    }
    // silent truncation would SPLIT a duplicate component into different
    // dedup groups — refuse instead (deep chains need a larger maxIter)
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        "(component diameter exceeds maxIter — raise it)")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_doc_id"))
  }

  /** Connected components by ALTERNATING large-star / small-star — the
    * deep-graph variant of `connectedComponents` (same input/output
    * contract), converging in O(log² n) rounds instead of O(component
    * diameter): the public two-operation method of Kiveris, Lattanzi,
    * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in MapReduce
    * and Beyond" (ACM SoCC 2014), implemented from the published
    * formulation. A 10⁶-member duplicate CHAIN (pathological for min-label
    * propagation, which needs 10⁶ rounds) converges in ~20.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u})
    *  - small-star(u): every neighbor v ≤ u (they all are, after
    *    orientation by the larger endpoint) attaches to the minimum
    *
    * Both preserve connectivity; the fixpoint is a forest of stars
    * centered at each component's minimum. Fixpoint detection is a cheap
    * (count, hash-sum) checksum per round; the final state is then
    * VERIFIED to be a star forest (depth 1, unique parent, parent < child)
    * so a checksum collision can only fail loudly, never mislabel.
    * Per round: two join+agg passes keyed on node id — same shuffle
    * family as one min-label round; `localCheckpoint` truncates lineage
    * and superseded round blocks are freed eagerly.
    */
  def connectedComponentsAlternating(pairs: DataFrame,
      maxIter: Int = 30, reliable: Boolean = false): DataFrame =
    connectedComponentsAlternatingWithRounds(pairs, maxIter, reliable)._1

  /** `connectedComponentsAlternating` plus the number of rounds executed
    * (a round = one large-star + one small-star) — the spec seam pinning
    * the O(log² n) convergence claim on planted deep chains.
    */
  def connectedComponentsAlternatingWithRounds(pairs: DataFrame,
      maxIter: Int = 30, reliable: Boolean = false): (DataFrame, Int) = {
    // canonical orientation: (hi, lo) with hi > lo — an edge set AND, at
    // the fixpoint, the child→parent star map
    var e = chk(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct(), reliable)

    def largeStar(edges: DataFrame): DataFrame = {
      val bidir = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val m = bidir.groupBy("u").agg(min("v").as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      // v > u >= m, so the output is already (hi, lo)-oriented
      bidir.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }

    def smallStar(edges: DataFrame): DataFrame = {
      val mn = edges.groupBy("hi").agg(min("lo").as("mn"))
      val leaf = edges.join(mn, Seq("hi"))
        .filter(col("lo") =!= col("mn"))
        .select(col("lo").as("hi"), col("mn").as("lo")) // lo > mn by minimality
      leaf.unionByName(mn.select(col("hi"), col("mn").as("lo"))).distinct()
    }

    def checksum(edges: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent over the distinct edge set and
      // immune to ANSI long-overflow on summed 64-bit hashes
      val r = edges.agg(count(lit(1)), bit_xor(xxhash64(col("hi"), col("lo")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = checksum(e)
    var converged = prev._1 == 0L // no edges → trivially a (empty) star forest
    var iter = 0
    while (!converged && iter < maxIter) {
      val e1 = chk(largeStar(e), reliable)
      val e2 = chk(smallStar(e1), reliable)
      checkpointBlocks(e).foreach(_.unpersist(false))
      checkpointBlocks(e1).foreach(_.unpersist(false))
      e = e2
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    require(converged,
      s"connectedComponentsAlternating did not converge within $maxIter rounds")
    // verify the star-forest shape: every child has ONE parent and no
    // parent is itself a child (a checksum collision that ended the loop
    // early fails HERE instead of splitting a component silently)
    val multiParent = e.groupBy("hi").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(multiParent == 0L, "non-star fixpoint: a node has two parents")
    val deep = e.as("a").join(e.as("b"), col("a.lo") === col("b.hi"), "left_semi")
      .limit(1).count()
    require(deep == 0L, "non-star fixpoint: a parent is itself a child")
    val roots = e.select(col("lo")).distinct()
    val starLabels = e.select(col("hi").as("doc_id"), col("lo").as("canonical_doc_id"))
      .unionByName(roots.select(col("lo").as("doc_id"),
        col("lo").as("canonical_doc_id")))
    // nodes whose only pairs were self-loops were dropped by the hi != lo
    // edge filter; label them as their own singleton components so both
    // CC variants honor the same contract (every endpoint in `pairs`
    // appears in the output — min-label keeps such nodes naturally)
    val selfOnly = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(starLabels, Seq("doc_id"), "left_anti")
    val labels = starLabels.unionByName(
      selfOnly.select(col("doc_id"), col("doc_id").as("canonical_doc_id")))
    (labels, iter)
  }

  /** SimHash-64 over word unigrams: per word hash, each bit votes ±1
    * weighted by term frequency; sign of the vote sum forms the 64-bit
    * fingerprint. Pure expression pipeline (explode → groupBy), no UDF.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashOf(docs(spark, sfDir))

  def simhashOf(docsDf: DataFrame): DataFrame = {
    // shuffle-free scan via the native `simhash_sig` kernel (bit-identical
    // to the explode → groupBy tf → 64-bit-vote aggregation it replaced;
    // pinned in OptimizedOpsSpec). The old form exploded one row per WORD
    // and shuffled that tokenized corpus twice — at 100 TB the explode
    // output dwarfs the documents. A doc with null text exploded to no
    // rows, hence the isNotNull filter to keep the output row set exact.
    val words = split(trim(lower(col("text"))), "\\s+")
    ScanFloor(docsDf)
      .select(col("doc_id"), words.as("words"))
      .filter(col("words").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimhashSigExpr(col("words")).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidate-
    * limited by 16-bit block keys (pigeonhole: distance ≤3 ⇒ at least one of
    * 4 blocks equal), so the join is an inverted-index join, not a cross.
    */
  def simhashPairsOf(spark: SparkSession, docsDf: DataFrame, cacheKey: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = graft.PlanCache.cached(spark, s"simhash-sig:$cacheKey")(
      simhashOf(docsDf))
    hammingBlockPairs(sig, "simhash", maxHamming)
  }

  /** Pigeonhole-block Hamming pair join over 64-bit signatures — the shared
    * candidate machinery behind SimHash text near-dup AND perceptual-hash
    * image near-dup (`MultimodalOps.imageNearDupPairsOf`). The signature is
    * split into four 16-bit blocks; any two signatures within Hamming ≤ 3
    * must agree on at least one whole block (pigeonhole), so candidates
    * come from four equi-joins on (block, key) and the pair space never
    * materializes. One shuffle family: hash joins keyed on (block, key).
    *
    * `sig` must carry (`doc_id`, `hashCol`: Long). Output: (doc_a, doc_b,
    * hamming) with doc_a < doc_b and hamming ≤ maxHamming.
    */
  def hammingBlockPairs(sig: DataFrame, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-block pigeonhole guarantees recall only for Hamming <= 3, got $maxHamming")
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("block"),
        shiftright(col(hashCol), b * 16).bitwiseAND(0xFFFFL).as("key"))
    }
    val keyed = sig.select(col("doc_id"), col(hashCol).as("h"),
      explode(array(blocks: _*)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.block").as("block"), col("bk.key").as("key"))
    val cand = keyed.as("x").join(keyed.as("y"), Seq("block", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.h").as("ha"),
        col("y.doc_id").as("doc_b"), col("y.h").as("hb"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The engine-portable 256-bucket content hash shared by the split and
    * sampling decisions: the first two hex digits of `md5(salt || id)` —
    * restated in DuckDB as strpos arithmetic on the same digits. Distinct
    * salts make the decisions independent coins.
    */
  private def md5Bucket256(salt: String, id: Column): Column = {
    val hexPos = (c: Column) => instr(lit("0123456789abcdef"), c) - 1
    val h = md5(concat(lit(salt), id.cast("string")))
    hexPos(substring(h, 1, 1)) * 16 + hexPos(substring(h, 2, 1))
  }

  /** Deterministic weighted downsampling for corpus rebalancing (the
    * language/domain-mixture step of a training-data pipeline): each row
    * is kept iff its stable 256-bucket content hash falls below the
    * group's sampling rate, expressed in /256 units (`rates256`; groups
    * absent from the map get `defaultRate256`). The hash is
    * `md5("sample:" || doc_id)` — a DIFFERENT salt than the train/val/
    * test split hash, so sampling and splitting are independent coins.
    *
    * Same frozen-membership property as the split: a document's keep
    * decision never changes when the corpus grows or the job re-runs,
    * and any engine reproduces it (the DuckDB oracle restates the bucket
    * as strpos arithmetic on the md5 hex digits). Pure scan-stage filter:
    * no shuffle, no sampling RNG, fully codegen'd.
    */
  def weightedSample(mix: DataFrame, groupCol: String,
      rates256: Map[String, Int], defaultRate256: Int = 0): DataFrame = {
    require((defaultRate256 +: rates256.values.toSeq)
      .forall(r => r >= 0 && r <= 256), "rates are /256 in [0, 256]")
    val bucket = md5Bucket256("sample:", col("doc_id"))
    val rate = coalesce(
      element_at(typedlit(rates256.view.mapValues(_.toLong).toMap),
        col(groupCol)),
      lit(defaultRate256.toLong))
    mix
      .withColumn("sample_bucket", bucket.cast("long"))
      .filter(col("sample_bucket") < rate)
  }

  /** Sequence packing: lay the corpus out as contiguous token streams and
    * record, per document, its start offset and bin (context window) —
    * the concatenate-and-chunk packing LM pretraining uses, where
    * documents may straddle window boundaries.
    *
    * A single global token cumsum would be one totally-ordered window —
    * unshardable at 100 TB. Instead documents are packed within fixed
    * doc-id STRATA (`stratum = doc_id div stratumWidth`): the cumsum
    * window is keyed by (split, stratum), so the shuffle spreads over
    * stratum count and each window partition is bounded by stratumWidth
    * rows. The cost is at most one partially-filled bin per stratum —
    * exactly the per-shard packing tradeoff production pipelines make.
    * Deterministic: the order inside a stratum is doc_id, the strata are
    * pure arithmetic, no timestamps or RNG anywhere.
    *
    * Output per surviving document: (doc_id, split, stratum, offset_start
    * = tokens before it in its stratum, bin_local = offset_start div
    * binTokens, n_tokens).
    */
  def packSequences(mix: DataFrame, binTokens: Long = 2048L,
      stratumWidth: Long = 64L): DataFrame = {
    require(binTokens > 0 && stratumWidth > 0, "positive bin/stratum sizes")
    val stratum = expr(s"doc_id div $stratumWidth")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("stratum")).orderBy(col("doc_id"))
    mix
      .withColumn("stratum", stratum)
      .withColumn("offset_start",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_local", expr(s"offset_start div $binTokens"))
      .select(col("doc_id"), col("split"), col("stratum"),
        col("offset_start"), col("bin_local"), col("n_tokens"))
  }
}
