package graft.frontier

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** `CuckooFilter` as a URL-seen sketch: the same no-false-negative contract
  * as Bloom, plus deletion (see `CuckooSeen.removeKeys`).
  */
final case class CuckooCodec(expectedItems: Long) extends SketchCodec[CuckooFilter] {
  def name: String = "cuckoo"
  def create(): CuckooFilter = CuckooFilter.create(expectedItems)
  // a false return means the filter saturated: it then answers true for
  // every key, so the inserted key still cannot be a false negative
  def insert(s: CuckooFilter, key: Long): Unit = { s.insert(key); () }
  def merge(s: CuckooFilter, other: CuckooFilter): CuckooFilter = s.mergeInPlace(other)
  def mightContain(s: CuckooFilter, key: Long): Boolean = s.mightContain(key)
  def toBytes(s: CuckooFilter): Array[Byte] = s.serialized
  def fromBytes(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
}

/** Targeted invalidation over the cuckoo store, the one operation Bloom
  * structurally lacks. Deleting a unit's hash un-sees it in the sketch so the
  * next run re-fetches it WITHOUT a full filter rebuild: re-crawling one host,
  * one bucket or one recalled content set at 10^10 scale touches only the
  * affected buckets' files.
  *
  * Invalidation semantics (see `CuckooFilter` doc): a deleted fingerprint
  * shared by a colliding key (~2⁻¹⁶ per bucket-pair) merely sends that key
  * back through the fetch path — the same treatment `revisit=true` applies
  * on purpose — so over-invalidation degrades to extra re-visits, never to
  * data loss; the url_seen event log remains the source of truth.
  */
object CuckooSeen {

  /** Delete `keys` (bucket, url_hash) from their buckets' filters under
    * `dir`, executor-side. The VERSION stamp is NOT advanced: the filters
    * still cover the same url_seen snapshot, they now just under-approximate
    * it, which is exactly the intent.
    *
    * Returns the number of keys that could NOT be un-seen because their
    * bucket's filter is SATURATED (answers true for everything, so deletion
    * cannot take effect). A non-zero return means those buckets need a
    * rebuild at larger sizing (minus the invalidated keys) before the
    * re-fetch will happen; ignoring it would turn "over-invalidation only"
    * into silent under-invalidation. A key absent from a HEALTHY filter is
    * not a failure: its lookup already answers false, so the re-fetch
    * happens whether or not a slot was removed.
    */
  def removeKeys(spark: SparkSession, keys: DataFrame, dir: String): Long = {
    import spark.implicits._
    val store = SeenFilters.cuckoo
    val failed = spark.sparkContext.longAccumulator("cuckoo_remove_failed")
    keys.select(col("bucket").cast("long"), col("url_hash").cast("long"))
      .as[(Long, Long)]
      .repartition(col("bucket"))
      .foreachPartition { (it: Iterator[(Long, Long)]) =>
        it.toVector.groupBy(_._1).foreach { case (bucket, rows) =>
          val target = store.bucketFile(dir, bucket)
          // absent file = empty bucket: nothing to un-see, and the
          // conservative might-contain already sends these keys to the
          // exact anti-join — not a failure
          if (Files.exists(target)) {
            val f = store.load(target)
            if (f.saturated) failed.add(rows.size.toLong)
            else {
              // delete() returning false = key not present (never inserted,
              // duplicate in `keys`, or fingerprint shared with an earlier
              // delete): already un-seen, not a failure
              rows.foreach { case (_, h) => f.delete(h) }
              SeenFilterStore.writeAtomic(target, f.serialized)
            }
          }
        }
      }
    failed.value
  }
}
