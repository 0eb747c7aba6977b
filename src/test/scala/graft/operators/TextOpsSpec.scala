package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Dedup-family quality tests on planted near-duplicates (the rows-only
  * queries' stronger companions).
  */
class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Synthetic documents table: 30 base docs of 60 deterministic words; for
    * each base, a near-dup with 3 words changed (jaccard ≈ 0.8 on 5-gram
    * shingles ≈ high minhash agreement) and one exact copy.
    */
  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("graft-docs").toString
    val vocab = (0 until 400).map(i => s"w$i")
    def text(seed: Long, mutations: Int): String = {
      val words = (0 until 60).map { i =>
        vocab((graft.fixtures.SyntheticStore.mix64(seed * 131 + i) % 400).toInt.abs)
      }.toArray
      for (m <- 0 until mutations)
        words(7 * (m + 1)) = vocab((graft.fixtures.SyntheticStore.mix64(seed + 999 + m) % 400).toInt.abs)
      words.mkString(" ")
    }
    val rows = (0 until 30).flatMap { b =>
      Seq(
        (b * 10L, text(b, 0), "en", "base", 0L),
        (b * 10L + 1, text(b, 3), "en", "neardup", 0L), // 3 of 60 words changed
        (b * 10L + 2, text(b, 0), "en", "copy", 0L)) // exact duplicate
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups the planted copies (hash-groupBy)") {
    val groups = TextOps.dedupExact(spark, docsDir)
    assert(groups.filter(col("n_copies") === 2).count() == 30) // base+copy pairs
    assert(groups.agg(sum("n_copies")).as[Long].collect()(0) == 90)
  }

  test("n-gram Jaccard finds every planted near-dup pair above threshold") {
    val pairs = TextOps.ngramJaccard(spark, docsDir, minPermille = 300)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (b <- 0 until 30) {
      val base = b * 10L
      assert(pairs.contains((base, base + 1)) || pairs.contains((base + 1, base)),
        s"missing near-dup pair for base $base")
      assert(pairs.contains((base, base + 2)), s"missing exact pair for base $base")
    }
  }

  test("minhash+LSH recovers high-similarity pairs found by exact jaccard (recall >= 0.9 at j>=0.7)") {
    // 16 bands × 4 rows puts the S-curve threshold near j ≈ (1/16)^(1/4) ≈ 0.5
    // with sharp recall above ~0.7 — compare recall in the designed regime
    val exact = TextOps.ngramJaccard(spark, docsDir, minPermille = 700)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = TextOps.minhashLsh(spark, docsDir, minEqPermille = 400)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recalled = exact.count(lsh.contains)
    assert(recalled.toDouble / exact.size >= 0.9,
      s"LSH recall ${recalled.toDouble / exact.size} (found ${lsh.size}, exact ${exact.size})")
    // and the exact copies (j = 1.0) are never missed
    for (b <- 0 until 30)
      assert(lsh.contains((b * 10L, b * 10L + 2)), s"missed exact-copy pair for base $b")
  }

  test("simhash: near-dups within small hamming distance; exact copies identical") {
    val sigs = TextOps.simhash(spark, docsDir)
      .as[(Long, Long)].collect().toMap
    for (b <- 0 until 30) {
      val base = b * 10L
      assert(sigs(base) == sigs(base + 2), "exact copy must have identical simhash")
      val ham = java.lang.Long.bitCount(sigs(base) ^ sigs(base + 1))
      assert(ham <= 16, s"near-dup hamming $ham too large for base $base")
    }
    // blocked pair search finds the exact copies (hamming 0)
    val pairs = TextOps.simhashPairsOf(spark,
      spark.read.parquet(s"$docsDir/documents.parquet"), s"dir:$docsDir", maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (b <- 0 until 30) assert(pairs.contains((b * 10L, b * 10L + 2)))
  }

  test("alternating-star CC: a deep chain converges in O(log n) rounds " +
      "where min-label is O(diameter) and refuses loudly (Kiveris et al. " +
      "SoCC 2014; VERDICT r4 #5)") {
    val n = 64L
    val path = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // min-label needs diameter (63) rounds: a small budget must refuse,
    // never silently split the component
    val thrown = intercept[IllegalArgumentException](
      TextOps.connectedComponents(path, maxIter = 5))
    assert(thrown.getMessage.contains("did not converge"))
    val (labels, rounds) =
      TextOps.connectedComponentsAlternatingWithRounds(path)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      s"expected one component rooted at 0, got ${got.values.toSet}")
    assert(rounds <= 12, s"expected O(log n) rounds for a 64-path, got $rounds")
    assert(rounds < 63, "no better than min-label")
  }

  test("alternating-star CC equals min-label CC on a mixed near-dup graph " +
      "(chains, triangle, zigzag, singletons-by-absence)") {
    val pairs = (
      (0L until 30L by 10).flatMap(k => Seq((k, k + 1), (k + 1, k + 2))) ++
        Seq((100L, 101L), (101L, 102L), (100L, 102L)) ++ // triangle
        Seq((200L, 205L), (205L, 201L), (201L, 207L)) ++ // zigzag ids
        Seq((300L, 300L)) // self-pair-only node: singleton in BOTH variants
      ).toDF("doc_a", "doc_b")
    val viaMinLabel = TextOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val viaStars = TextOps.connectedComponentsAlternating(pairs)
      .as[(Long, Long)].collect().toSet
    assert(viaStars == viaMinLabel)
    assert(viaStars.nonEmpty)
    // spot closed forms
    val m = viaStars.toMap
    assert(Seq(200L, 201L, 205L, 207L).forall(m(_) == 200L)) // zigzag min root
    assert(Seq(100L, 101L, 102L).forall(m(_) == 100L))
    assert(m(300L) == 300L) // self-pair node kept as its own component
  }

  test("reliable checkpointing: both CC variants produce identical labels " +
      "with cluster-durable per-round state; unset checkpoint dir rejected") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val prevDir = sc.getCheckpointDir
    if (prevDir.isEmpty) {
      // not configured → loud failure, not a silent local fallback
      intercept[IllegalArgumentException] {
        TextOps.connectedComponents(pairs, reliable = true)
      }
    }
    val dir = Files.createTempDirectory("graft-cc-chk").toString
    sc.setCheckpointDir(dir)
    try {
      val local = TextOps.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val durable = TextOps.connectedComponents(pairs, reliable = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(durable == local)
      val (alt, _) = TextOps.connectedComponentsAlternatingWithRounds(
        pairs, reliable = true)
      assert(alt.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == local)
      // the durable rounds actually hit the checkpoint dir
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, "reliable mode wrote nothing to the checkpoint dir")
    } finally prevDir.foreach(sc.setCheckpointDir)
  }

  test("hammingBlockPairs: pigeonhole recall is EXACT for Hamming <= 3; " +
      "Hamming 4 never emitted; > 3 maxHamming rejected") {
    // hand-built 64-bit signatures with known pairwise distances:
    //  10 -> base, 11 -> identical (d=0), 12 -> 3 bits in one block (d=3),
    //  13 -> 3 bits across three blocks (d=3, shares only block 3),
    //  14 -> one bit in EVERY block (d=4: no shared block AND over limit)
    val base = 0x0123456789ABCDEFL
    val sigs = Seq(
      (10L, base), (11L, base),
      (12L, base ^ 0x7L),
      (13L, base ^ ((1L << 0) | (1L << 16) | (1L << 32))),
      (14L, base ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)))
    ).toDF("doc_id", "h")
    val got = TextOps.hammingBlockPairs(sigs, "h", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // d(12,13) = 4 (bits {1,2,16,32}) — correctly excluded even though the
    // two share block-0 membership history; d(13,14) = 1 (bit 48 only)
    assert(got == Set((10L, 11L, 0), (10L, 12L, 3), (10L, 13L, 3),
      (11L, 12L, 3), (11L, 13L, 3), (13L, 14L, 1)),
      s"unexpected pair set: $got")
    intercept[IllegalArgumentException] {
      TextOps.hammingBlockPairs(sigs, "h", maxHamming = 4)
    }
  }

  test("trainingMix: gates, fingerprint dedup, and a frozen md5 split") {
    val dir = Files.createTempDirectory("graft-mix").toString
    val en = "the cat and the dog is here and the weather is fine today again"
    def write(extra: Seq[(Long, String)]): Unit =
      (Seq(
        (1L, en),
        // same fingerprint as doc 1 (case + whitespace variant): deduped
        (2L, "THE cat and the DOG   is here and the weather is fine today again"),
        (3L, "der hund und die katze und der rest sind alle hier und da"),
        (4L, "the cat and dog is"), // short: fails the length gate
        (5L, "the 123456 and 789012 is 345678 and 901234 the 567890 is 123456"),
        (6L, "zzz qqq xxx yyy vvv www mmm nnn ooo ppp qqq rrr sss ttt uuu")
      ) ++ extra).map { case (id, t) => (id, t, "x", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    write(Seq.empty)
    val got = TextOps.trainingMix(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // 2 = fingerprint dup of 1, 4 = too short, 5 = alpha gate, 6 = 'und'
    assert(got.keySet == Set(1L, 3L))
    // the split is the md5 bucket arithmetic, independently recomputed
    def expectedSplit(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = Integer.parseInt(hex.take(2), 16)
      if (b < 13) "test" else if (b < 26) "val" else "train"
    }
    got.foreach { case (id, s) => assert(s == expectedSplit(id), s"doc $id") }
    // membership is FROZEN: growing the corpus never moves a split
    write((100L until 140L).map(i => (i, s"$en extra $i")))
    val grown = TextOps.trainingMix(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(grown(1L) == got(1L) && grown(3L) == got(3L))
    assert(grown.keySet.size == 42)
    grown.foreach { case (id, s) => assert(s == expectedSplit(id), s"doc $id") }
  }

  test("weightedSample: rate 256 keeps all, 0 drops all, membership frozen " +
    "under corpus growth, decision matches an independent MessageDigest") {
    val mix = (1L to 400L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", "train", 10L))
      .toDF("doc_id", "pred_lang", "split", "n_tokens")
    val all = TextOps.weightedSample(mix, "pred_lang",
      Map("en" -> 256, "de" -> 256))
    assert(all.count() == 400)
    assert(TextOps.weightedSample(mix, "pred_lang", Map.empty).count() == 0)

    val kept = TextOps.weightedSample(mix, "pred_lang",
      Map("en" -> 128, "de" -> 64)).select("doc_id").as[Long].collect().toSet
    // independent recomputation of the bucket (raw MessageDigest, no Spark)
    def bucket(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample:$id".getBytes("UTF-8"))
      (d(0) & 0xFF)
    }
    (1L to 400L).foreach { id =>
      val rate = if (id % 2 == 0) 128 else 64
      assert(kept.contains(id) == (bucket(id) < rate), s"doc $id")
    }
    // frozen membership: the same docs survive when the corpus doubles
    val grown = mix.unionByName((401L to 800L).map(i =>
      (i, "en", "train", 10L)).toDF("doc_id", "pred_lang", "split", "n_tokens"))
    val keptGrown = TextOps.weightedSample(grown, "pred_lang",
      Map("en" -> 128, "de" -> 64)).select("doc_id").as[Long].collect().toSet
    assert(keptGrown.filter(_ <= 400L) == kept)
  }

  test("packSequences: offsets are the exact per-(split, stratum) token " +
    "cumsum in doc_id order; bins advance every binTokens; deterministic " +
    "under repartition") {
    val mix = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "val" else "train", 7L + (i % 5)))
      .toDF("doc_id", "split", "n_tokens")
    val packed = TextOps.packSequences(mix, binTokens = 32L, stratumWidth = 50L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))

    // recompute expectations with plain Scala
    val expected = (1L to 300L).map { i =>
      (i, if (i % 3 == 0) "val" else "train", 7L + (i % 5))
    }.groupBy { case (i, s, _) => (s, i / 50L) }.flatMap {
      case ((s, stratum), rows) =>
        var off = 0L
        rows.sortBy(_._1).map { case (i, _, n) =>
          val o = off; off += n
          (i, s, stratum, o, o / 32L, n)
        }
    }.toSet
    assert(packed.toSet == expected)

    val repacked = TextOps.packSequences(mix.repartition(7), 32L, 50L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(repacked.toSet == expected)
  }

  test("langId picks the marker language deterministically") {
    val dir = Files.createTempDirectory("graft-lang").toString
    Seq(
      (1L, "the cat and the dog is here and the end", "en", "s", 0L),
      (2L, "der hund und die katze und der rest", "de", "s", 0L),
      (3L, "le chat et la maison et le jardin", "fr", "s", 0L),
      (4L, "el gato y los perros y una casa", "es", "s", 0L),
      (5L, "zzz qqq xxx", "und", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val got = TextOps.langId(spark, dir)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }
}
