package graft.frontier

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Per-partition Bloom filters over the URL-seen set (SURVEY §2.11, J6).
  *
  * At 10^10 frontier scale the exact URL-seen anti-join is the dominant
  * shuffle; a Bloom pre-filter eliminates the overwhelmingly common negative
  * case (never-seen URL) without shuffling the url_seen table. Design sizing
  * (SURVEY §7.4): ~1.2 GB per 10^9 keys at 1% fpp, held per partition group
  * (host bucket), so each frontier partition consults only its own bucket's
  * filter. Correctness by construction: Bloom has no false negatives and
  * Bloom-positive candidates continue into the exact anti-join.
  */
object BloomSeen {

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  /** Catalyst typed-imperative aggregate building a Bloom filter over a LONG
    * column. Mutable buffer (no per-row serialization), partial aggregation
    * map-side, filters merged via bitwise OR at the reducer — one
    * distributed pass per bucket group:
    * `urlSeen.groupBy("bucket").agg(bloom_agg(col("url_hash")))`.
    */
  case class BloomFilterAgg(
      child: Expression,
      expectedItems: Long,
      fpp: Double,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[BloomFilter] with UnaryLike[Expression] {

    override def createAggregationBuffer(): BloomFilter =
      BloomFilter.create(expectedItems, fpp)

    override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
      val v = child.eval(input)
      if (v != null) buffer.putLong(v.asInstanceOf[Long])
      buffer
    }

    override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
      buffer.mergeInPlace(other)
      buffer
    }

    override def eval(buffer: BloomFilter): Any = serialize(buffer)

    override def serialize(buffer: BloomFilter): Array[Byte] =
      BloomSeen.serialize(buffer)

    override def deserialize(bytes: Array[Byte]): BloomFilter =
      BloomSeen.deserialize(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "bloom_filter_agg"

    override def withNewMutableAggBufferOffset(offset: Int): BloomFilterAgg =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): BloomFilterAgg =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildInternal(newChild: Expression): BloomFilterAgg =
      copy(child = newChild)
  }

  def bloomAgg(hashCol: Column, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): Column = {
    import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
    columnOf(BloomFilterAgg(expressionOf(hashCol), expectedItems, fpp)
      .toAggregateExpression())
  }

  /** Executor-side cached might-contain predicate over a broadcast filter
    * (deserialized once per executor, not per row).
    */
  final class MightContain(bc: Broadcast[Array[Byte]])
      extends (Long => Boolean) with Serializable {
    @transient private lazy val bf = deserialize(bc.value)
    def apply(h: Long): Boolean = bf.mightContainLong(h)
  }

  /** Build a Bloom over `hashCol` of `seen`, broadcast it, return a
    * might-contain predicate Column for frontier pre-filtering. (Single-
    * filter form; the per-bucket form is `fileBucketPredicate` below.)
    */
  def mightContainPredicate(spark: SparkSession, seen: DataFrame, hashCol: String,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): Column = {
    val bf = seen.stat.bloomFilter(hashCol, expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(serialize(bf))
    udf(new MightContain(bc)).apply(org.apache.spark.sql.functions.col(hashCol))
  }

  // --------------------------------------------------------------------
  // The 10^10-scale layout (VERDICT r1 #2): one Bloom FILE per bucket in a
  // side directory. Filters are built/merged in a distributed aggregation
  // and written from the executor that holds each bucket's row — nothing
  // is collected to the driver and no executor ever holds the full
  // bucket→filter map. The frontier is routed by bucket
  // (`repartition(NBuckets, bucket)`), so each task consults (and caches)
  // exactly the filters of the buckets it owns: per-task residency
  // = O(buckets-in-task × filter size), not O(all buckets).
  //
  // Files live on the table's filesystem next to the snapshots (local fs
  // here; the same java.nio calls would be Hadoop FileSystem calls on a
  // cluster). A VERSION marker records the url_seen snapshot the filters
  // cover; a mismatch (crash between the url_seen commit and the filter
  // update) triggers a full rebuild so the filters can never be stale-
  // missing — Bloom false negatives are thereby impossible by construction.
  // --------------------------------------------------------------------

  private def bucketFile(dir: String, bucket: Long) =
    java.nio.file.Paths.get(dir, s"bucket_$bucket.bloom")

  def filtersVersion(dir: String): Option[Long] = {
    val p = java.nio.file.Paths.get(dir, "VERSION")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  /** Merge `keys` (bucketCol, hashCol) into the per-bucket filter files and
    * stamp the directory with `version`. Aggregation is distributed
    * (map-side partial Blooms, OR-merged at the reducer); each resulting
    * (bucket, filter) row is written by the executor that holds it.
    * All filters share (expectedItemsPerBucket, fpp) so incremental merges
    * stay bit-compatible.
    */
  def updateBucketFilters(spark: SparkSession, keys: DataFrame,
      bucketCol: String, hashCol: String, dir: String, version: Long,
      expectedItemsPerBucket: Long = 1L << 18, fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.functions.col
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val aggregated = keys
      .groupBy(col(bucketCol).cast("long").as("b"))
      .agg(bloomAgg(col(hashCol), expectedItemsPerBucket, fpp).as("bloom"))
    aggregated.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        val bucket = r.getLong(0)
        val fresh = deserialize(r.getAs[Array[Byte]]("bloom"))
        val target = bucketFile(dir, bucket)
        val merged =
          if (java.nio.file.Files.exists(target)) {
            val existing = deserialize(java.nio.file.Files.readAllBytes(target))
            existing.mergeInPlace(fresh) // throws on sizing mismatch: loud > silent FN
            existing
          } else fresh
        val tmp = target.resolveSibling(
          target.getFileName.toString + s".tmp-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.write(tmp, BloomSeen.serialize(merged))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val vTmp = java.nio.file.Paths.get(dir, s"VERSION.tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(vTmp, version.toString)
    java.nio.file.Files.move(vTmp, java.nio.file.Paths.get(dir, "VERSION"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop and rebuild the filter directory from the full seen-key set
    * (crash recovery for a VERSION mismatch; also the initial build).
    */
  def rebuildBucketFilters(spark: SparkSession, allKeys: DataFrame,
      bucketCol: String, hashCol: String, dir: String, version: Long,
      expectedItemsPerBucket: Long = 1L << 18, fpp: Double = 0.01): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(p) // closed below: streams hold an fd
      val entries = try s.iterator().asScala.toVector finally s.close()
      entries.foreach(java.nio.file.Files.delete)
    }
    updateBucketFilters(spark, allKeys, bucketCol, hashCol, dir, version,
      expectedItemsPerBucket, fpp)
  }

  /** Per-task lazily-loading might-contain over the filter-file directory.
    * Each task caches only the buckets it actually sees — with the frontier
    * routed by bucket that is ~1 filter per task. `loadCounter` (spec
    * instrumentation) counts file loads to prove the residency bound.
    */
  final class MightContainFromFiles(dir: String,
      loadCounter: Option[org.apache.spark.util.LongAccumulator])
      extends ((Long, Long) => Boolean) with Serializable {
    @transient private lazy val cache =
      scala.collection.mutable.Map.empty[Long, Option[BloomFilter]]
    def apply(bucket: Long, h: Long): Boolean = {
      val f = cache.getOrElseUpdate(bucket, {
        val p = bucketFile(dir, bucket)
        if (java.nio.file.Files.exists(p)) {
          loadCounter.foreach(_.add(1L))
          Some(deserialize(java.nio.file.Files.readAllBytes(p)))
        } else None // version-consistent dir: absent file = empty bucket
      })
      // absent filter → conservatively "might be seen" (exact anti-join
      // settles it); guarantees no false negatives under ANY dir state
      f.forall(_.mightContainLong(h))
    }
  }

  def fileBucketPredicate(dir: String,
      loadCounter: Option[org.apache.spark.util.LongAccumulator] = None): Column = {
    import org.apache.spark.sql.functions.col
    udf(new MightContainFromFiles(dir, loadCounter))
      .apply(col("bucket").cast("long"), col("url_hash"))
  }
}
