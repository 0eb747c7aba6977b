package graft.frontier

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import graft.SparkTestBase

/** The per-bucket file protocol of the URL-seen store, run once per sketch:
  * no false negatives, incremental merge, VERSION-mismatch rebuild and the
  * per-task residency bound.
  */
abstract class SeenFilterStoreSpec[S](protected val store: SeenFilterStore[S])
    extends SparkTestBase {
  import spark.implicits._

  private val codec = store.codec
  protected val nBuckets = 8

  protected def freshDir(): String =
    Files.createTempDirectory(s"graft-${codec.name}").toString + s"/${codec.name}"

  protected def keysDF(hashes: Seq[Long]): DataFrame =
    hashes.map(h => (Math.floorMod(h, nBuckets.toLong), h)).toDF("bucket", "url_hash")

  /** Every key passes the predicate, and its bucket has a filter file (an
    * absent file passes every key, which would make the check vacuous).
    */
  protected def allPass(hashes: Seq[Long], dir: String): Boolean =
    hashes.map(Math.floorMod(_, nBuckets.toLong)).distinct
      .forall(b => Files.exists(store.bucketFile(dir, b))) &&
      keysDF(hashes).filter(!store.predicate(dir)).isEmpty

  /** 1–400 distinct random keys. */
  protected val keySets: Gen[Vector[Long]] = for {
    n <- Gen.choose(1, 400)
    keys <- Gen.containerOfN[Set, Long](n, Gen.choose(Long.MinValue, Long.MaxValue))
  } yield keys.toVector

  test(s"${codec.name}_filter_agg: no false negatives; per-bucket filters merge map-side") {
    val seen = (1L to 2000L).map(i => (i % 4, i * 31 + 7)).toDF("bucket", "url_hash")
    val filters = seen.groupBy("bucket")
      .agg(codec.agg(col("url_hash")).as("filter"))
      .collect()
      .map(r => r.getLong(0) -> codec.fromBytes(r.getAs[Array[Byte]](1)))
      .toMap
    assert(filters.size == 4)
    // every inserted key must be might-contain in its bucket's filter
    (1L to 2000L).foreach { i =>
      assert(codec.mightContain(filters(i % 4), i * 31 + 7), s"false negative for $i")
    }
    // fpp sanity: unseen keys mostly rejected
    val fp = (100000L to 101000L).count(k => codec.mightContain(filters(0L), k))
    assert(fp < 100, s"false positive rate too high: $fp/1000")
  }

  test("file-per-bucket filters: no false negatives, incremental merge, bounded loads " +
      "(each routed partition touches only its own buckets' filters)") {
    val dir = freshDir()
    def keys(r: Range) = r.map(i => (i.toLong % nBuckets, i.toLong * 31 + 7))
      .toDF("bucket", "url_hash")

    // initial build at version 0, incremental merge at version 1
    store.update(keys(1 to 1000), dir, version = 0L)
    assert(store.filtersVersion(dir).contains(0L))
    store.update(keys(1001 to 2000), dir, version = 1L)
    assert(store.filtersVersion(dir).contains(1L))

    // a frontier of 4 parquet files (a local relation would let the
    // optimizer evaluate the filter on the driver), routed by bucket (the
    // scale layout), then the predicate, through a store that counts loads
    val frontierDir = s"$dir-frontier"
    keys(1 to 6000).repartition(4).write.parquet(frontierDir)
    val loads = spark.sparkContext.longAccumulator("filters_loaded")
    val counting = SeenFilterStore(CountingCodec(codec, loads))
    val routed = spark.read.parquet(frontierDir).repartition(nBuckets, col("bucket"))
    val kept = routed.filter(counting.predicate(dir))
      .select("url_hash").as[Long].collect().toSet

    // no false negatives across BOTH commits (incremental merge preserved v0)
    (1 to 2000).foreach(i => assert(kept.contains(i.toLong * 31 + 7),
      s"false negative for $i"))
    // selective on the unseen tail
    assert(kept.size < 2600, s"prefilter not selective: ${kept.size}")
    // residency bound: every bucket's filter loaded at most once per task
    // that OWNS it — routed by bucket, that is ≤ nBuckets total loads
    // (not nBuckets × scan tasks)
    assert(loads.value <= nBuckets, s"loaded ${loads.value} > $nBuckets filters")
  }

  test("file-per-bucket rebuild: VERSION mismatch recovery drops stale files") {
    val dir = freshDir()
    val k1 = Seq((0L, 11L), (1L, 22L)).toDF("bucket", "url_hash")
    store.update(k1, dir, 0L)
    val k2 = Seq((2L, 33L)).toDF("bucket", "url_hash")
    store.rebuild(k2, dir, 5L)
    assert(store.filtersVersion(dir).contains(5L))
    // bucket 0/1 files were dropped by the rebuild → absent bucket is
    // conservatively might-contain (no false negatives under any state)
    val probe = Seq((0L, 11L), (2L, 33L), (2L, 999L)).toDF("bucket", "url_hash")
    val kept = probe.filter(store.predicate(dir))
      .select("url_hash").as[Long].collect().toSet
    assert(kept.contains(11L)) // absent bucket → keep
    assert(kept.contains(33L)) // present key → keep
    assert(!kept.contains(999L)) // unseen key in present bucket → dropped
  }

  test("property: random keys merged in random update batches, then a rebuild — " +
      "every key passes the predicate") {
    val batched = for {
      keys <- keySets
      cuts <- Gen.listOfN(3, Gen.choose(0, keys.size))
    } yield (keys, cuts.sorted)
    check(Prop.forAll(batched) { case (keys, cuts) =>
      val dir = freshDir()
      val bounds = 0 +: cuts :+ keys.size
      bounds.zip(bounds.tail).zipWithIndex.foreach { case ((from, until), v) =>
        store.update(keysDF(keys.slice(from, until)), dir, v.toLong)
      }
      val merged = allPass(keys, dir) && store.filtersVersion(dir).contains(cuts.size.toLong)
      store.rebuild(keysDF(keys), dir, 99L)
      merged && allPass(keys, dir) && store.filtersVersion(dir).contains(99L)
    })
  }
}

class BloomSeenSpec extends SeenFilterStoreSpec(SeenFilterStore(BloomCodec(4096, 0.01)))

/** The cuckoo store also deletes: targeted invalidation. */
class CuckooSeenSpec extends SeenFilterStoreSpec(SeenFilterStore(CuckooCodec(4096))) {
  import spark.implicits._

  test("CuckooFilter: insert/lookup no false negatives; low fpp; delete " +
      "un-sees a key; merge == union; saturation degrades to always-true") {
    val f = CuckooFilter.create(50000)
    (1L to 50000L).foreach(i => f.insert(i * 31 + 7))
    assert(!f.saturated)
    (1L to 50000L).foreach(i =>
      assert(f.mightContain(i * 31 + 7), s"false negative for $i"))
    // fpp: disjoint probe set (16-bit fingerprints → ~0.01% expected)
    val fp = (10000000L to 10100000L).count(f.mightContain)
    assert(fp < 200, s"false positive rate too high: $fp/100001")

    // delete: removed keys report unseen, the rest stay seen
    (1L to 1000L).foreach(i => assert(f.delete(i * 31 + 7), s"delete missed $i"))
    val resurrected = (1L to 1000L).count(i => f.mightContain(i * 31 + 7))
    // only fingerprint-collisions with surviving keys may still answer true
    assert(resurrected < 20, s"deleted keys still present: $resurrected/1000")
    (1001L to 50000L).foreach(i =>
      assert(f.mightContain(i * 31 + 7), s"delete damaged unrelated key $i"))

    // idempotent re-insert: same key twice occupies one slot
    val g = CuckooFilter.create(1000)
    g.insert(42L); g.insert(42L)
    assert(g.occupiedSlots == 1)
    assert(g.delete(42L) && !g.mightContain(42L))

    // merge re-homes every fingerprint: union contract, no false negatives
    val a = CuckooFilter.create(4000)
    val b = CuckooFilter.create(4000)
    (1L to 2000L).foreach(i => a.insert(i))
    (2001L to 4000L).foreach(i => b.insert(i))
    a.mergeInPlace(b)
    (1L to 4000L).foreach(i => assert(a.mightContain(i), s"merge lost $i"))

    // serialization round-trip preserves contents + saturation flag
    val rt = CuckooFilter.deserialize(a.serialized)
    (1L to 4000L).foreach(i => assert(rt.mightContain(i)))
    assert(!rt.saturated)

    // saturation: overfill far past capacity → always-true, never FN
    val tiny = CuckooFilter.create(64)
    (1L to 10000L).foreach(i => tiny.insert(i))
    assert(tiny.saturated)
    (1L to 10000L).foreach(i => assert(tiny.mightContain(i)))
    assert(tiny.mightContain(987654321L)) // degraded fpp=1, by contract
    assert(CuckooFilter.deserialize(tiny.serialized).saturated)
  }

  test("removeKeys: invalidated keys leave the prefilter, the rest stay, VERSION " +
      "stays; saturated filters report the keys they could not un-see") {
    val dir = freshDir()
    def keys(r: Range) = r.map(i => (i.toLong % nBuckets, i.toLong * 31 + 7))
      .toDF("bucket", "url_hash")
    store.update(keys(1 to 2000), dir, version = 1L)

    // remove 200 keys → they fall out of the prefilter (re-fetchable) while
    // every surviving key stays present
    assert(CuckooSeen.removeKeys(spark, keys(1 to 200), dir) == 0L,
      "healthy filters must report zero failed deletions")
    val kept = keys(1 to 6000).repartition(nBuckets, col("bucket"))
      .filter(store.predicate(dir))
      .select("url_hash").as[Long].collect().toSet
    val stillSeen = (1 to 200).count(i => kept.contains(i.toLong * 31 + 7))
    assert(stillSeen < 10, s"invalidated keys still prefiltered: $stillSeen/200")
    (201 to 2000).foreach(i => assert(kept.contains(i.toLong * 31 + 7),
      s"invalidation damaged unrelated key $i"))
    // VERSION not advanced: filters still cover the same url_seen snapshot
    assert(store.filtersVersion(dir).contains(1L))

    // a SATURATED bucket filter cannot honor deletions — removeKeys must
    // SAY so (non-zero return), not silently under-invalidate
    val satDir = freshDir()
    SeenFilterStore(CuckooCodec(16)) // far undersized
      .update(keys(1 to 2000), satDir, version = 0L)
    val failed = CuckooSeen.removeKeys(spark, keys(1 to 80), satDir)
    assert(failed > 0L, "saturated filters must report failed deletions")
  }

  test("property: removeKeys of a random subset on healthy filters returns 0, " +
      "and every key not removed still passes the predicate") {
    val withRemoved = for {
      keys <- keySets
      removed <- Gen.someOf(keys)
    } yield (keys, removed.toSet)
    check(Prop.forAll(withRemoved) { case (keys, removed) =>
      val dir = freshDir()
      store.update(keysDF(keys), dir, 0L)
      CuckooSeen.removeKeys(spark, keysDF(removed.toSeq), dir) == 0L &&
        allPass(keys.filterNot(removed), dir)
    })
  }
}
