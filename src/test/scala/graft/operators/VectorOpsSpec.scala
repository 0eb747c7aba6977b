package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.fixtures.SyntheticStore

class VectorOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Synthetic embeddings: 200 deterministic base vectors (dim 32); ids
    * < 20 each get a planted near-duplicate at id+1000 (tiny perturbation).
    */
  private lazy val embDir: String = {
    val dir = Files.createTempDirectory("graft-emb").toString
    def vec(seed: Long, noise: Double): Array[Float] =
      (0 until 32).map { j =>
        val h = SyntheticStore.mix64(seed * 97 + j)
        val base = ((h % 1000L) / 500.0 - 1.0).toFloat
        (base + noise * ((SyntheticStore.mix64(h) % 100L) / 1000.0)).toFloat
      }.toArray
    val base = (0L until 200L).map(i => (i, vec(i, 0.0), 0))
    val dups = (0L until 20L).map(i => (i + 1000L, vec(i, 0.02), 1))
    (base ++ dups).toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("brute-force cosine: planted near-duplicate is always the top-1 neighbor") {
    val top = VectorOps.annBruteForce(spark, embDir, nQueries = 20, k = 1)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    for (q <- 0L until 20L)
      assert(top(q) == q + 1000L, s"query $q top-1 = ${top(q)}, expected ${q + 1000L}")
  }

  test("LSH buckets: perturbed duplicates land in the same bucket (sign-stable)") {
    val buckets = VectorOps.lshBuckets(spark, embDir, nPlanes = 8)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val same = (0L until 20L).count(q => buckets(q) == buckets(q + 1000L))
    assert(same >= 16, s"only $same/20 near-dup pairs share a bucket")
  }

  test("LSH ANN recall on planted pairs >= 0.8 of brute force, with far less work") {
    val lshTop = VectorOps.annLsh(spark, embDir, nQueries = 20, k = 1, nPlanes = 8)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = (0L until 20L).count(q => lshTop.get(q).contains(q + 1000L))
    assert(hits >= 16, s"LSH recall $hits/20")
    // work bound: candidate set is bucket-sized, not the full table
    val bucketSizes = VectorOps.lshBuckets(spark, embDir, 8)
      .groupBy("bucket").count().agg(max("count")).as[Long].collect()(0)
    assert(bucketSizes < 220, "bucketing degenerated to a full scan")
  }

  test("IVF ANN: near-perfect recall on planted pairs at nProbe=2; probe " +
      "work bounded by list sizes") {
    val ivfTop = VectorOps.annIvfOf(spark,
      spark.read.parquet(s"$embDir/embeddings.parquet"), s"dir:$embDir",
      nQueries = 20, k = 1, nCentroids = 8, nProbe = 2)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    // a 0.02-noise perturbation moves cosine-to-anchor by far less than
    // typical inter-anchor gaps; with 2 probes the planted neighbor's list
    // is essentially always reachable on this deterministic fixture
    val hits = (0L until 20L).count(q => ivfTop.get(q).contains(q + 1000L))
    assert(hits >= 18, s"IVF recall $hits/20")
    // assignment is scale-invariant: a ×2 copy gets the same list as its
    // base for every vector (the closed-form property the planted oracle
    // rests on)
    val base = spark.read.parquet(s"$embDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val doubled = base.select((col("vec_id") + 5000L).as("vec_id"),
      expr("transform(embedding, x -> x * cast(2.0 as float))").as("embedding"))
    val lists = VectorOps.annIvfListsForTest(spark,
      base.unionByName(doubled), nCentroids = 8)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    base.select("vec_id").as[Long].collect().foreach { id =>
      assert(lists(id) == lists(id + 5000L), s"×2 copy of $id changed list")
    }
  }

  test("trained IVF quantizer: bit-deterministic training, monotone " +
      "objective, scale-invariant assignment, recall preserved") {
    val embDf = spark.read.parquet(s"$embDir/embeddings.parquet")
    // bit-determinism: the scaled-long accumulation makes two training
    // runs (different partition layouts included) produce IDENTICAL
    // centroids — fp-sum drift would break quantizer reproducibility
    val t1 = VectorOps.trainIvfAnchors(embDf, nCentroids = 8, nIter = 3)
    val t2 = VectorOps.trainIvfAnchors(embDf.repartition(7), nCentroids = 8,
      nIter = 3)
    t1.zip(t2).foreach { case (a, b) =>
      assert(a.v.sameElements(b.v) && a.nrm == b.nrm,
        s"centroid ${a.j} not reproducible")
    }
    // spherical k-means monotonicity: the mean direction maximizes the
    // within-list cosine sum, so Lloyd rounds never decrease the objective
    val obj0 = VectorOps.ivfObjectivePermilleForTest(embDf,
      VectorOps.trainIvfAnchors(embDf, nCentroids = 8, nIter = 0))
    val obj3 = VectorOps.ivfObjectivePermilleForTest(embDf, t1)
    assert(obj3 >= obj0, s"objective fell: seed $obj0 -> trained $obj3")
    // scale-invariance survives training (the planted-oracle property):
    // a ×2 copy always shares its base vector's trained list
    val doubled = embDf.select((col("vec_id") + 5000L).as("vec_id"),
      expr("transform(embedding, x -> x * cast(2.0 as float))").as("embedding"))
    val lists = VectorOps.annIvfTrainedListsForTest(spark,
      embDf.select("vec_id", "embedding").unionByName(doubled),
      nCentroids = 8, nIter = 2)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    embDf.select("vec_id").as[Long].collect().foreach { id =>
      assert(lists(id) == lists(id + 5000L),
        s"×2 copy of $id changed trained list")
    }
    // end-to-end through the probe + re-rank path: planted near-dups are
    // still found under the trained quantizer
    val top = VectorOps.annIvfTrainedOf(spark, embDf, s"spec:$embDir",
      nQueries = 20, k = 1, nCentroids = 8, nProbe = 2, nIter = 3)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = (0L until 20L).count(q => top.get(q).contains(q + 1000L))
    assert(hits >= 18, s"trained IVF recall $hits/20")
  }
}
