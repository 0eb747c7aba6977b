package graft.frontier

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** A URL-seen sketch over 64-bit keys (SURVEY §2.11, J6): the one thing that
  * differs between the Bloom and the cuckoo store. Sizing lives on the codec
  * instance, so every filter one codec creates merges with every other.
  * Contract: no false negatives for inserted keys.
  */
trait SketchCodec[S] extends Serializable {
  /** Names the filter directory, the file extension and the aggregate. */
  def name: String
  def create(): S
  def insert(s: S, key: Long): Unit
  /** Merges `other` into `s`; throws on a sizing mismatch (loud > silent FN). */
  def merge(s: S, other: S): S
  def mightContain(s: S, key: Long): Boolean
  def toBytes(s: S): Array[Byte]
  def fromBytes(bytes: Array[Byte]): S

  /** The distributed build: `keys.groupBy(..).agg(codec.agg(col("url_hash")))`. */
  def agg(key: Column): Column = {
    import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
    columnOf(SketchAgg(expressionOf(key), this).toAggregateExpression())
  }
}

/** Spark's `BloomFilter`: the default sketch (~1.2 GB per 10^9 keys at 1%
  * fpp, SURVEY §7.4).
  */
final case class BloomCodec(expectedItems: Long, fpp: Double)
    extends SketchCodec[BloomFilter] {
  def name: String = "bloom"
  def create(): BloomFilter = BloomFilter.create(expectedItems, fpp)
  def insert(s: BloomFilter, key: Long): Unit = s.putLong(key)
  def merge(s: BloomFilter, other: BloomFilter): BloomFilter = s.mergeInPlace(other)
  def mightContain(s: BloomFilter, key: Long): Boolean = s.mightContainLong(key)
  def toBytes(s: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    s.writeTo(bos)
    bos.toByteArray
  }
  def fromBytes(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}

/** Catalyst typed-imperative aggregate building one sketch over a LONG
  * column: mutable buffer (no per-row serialization), partial sketches
  * map-side, merged at the reducer. Registered in SQL as `bloom_filter_agg`.
  */
case class SketchAgg[S](
    child: Expression,
    codec: SketchCodec[S],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[S] with UnaryLike[Expression] {

  override def createAggregationBuffer(): S = codec.create()

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) codec.insert(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: S, other: S): S = codec.merge(buffer, other)
  override def eval(buffer: S): Any = codec.toBytes(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.fromBytes(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = s"${codec.name}_filter_agg"

  override def withNewMutableAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg[S] =
    copy(child = newChild)
}

/** The 10^10-scale layout (VERDICT r1 #2): one sketch FILE per host bucket,
  * `<dir>/bucket_<b>.<codec.name>`, plus a `VERSION` stamp naming the
  * url_seen snapshot the files cover. Filters are built and merged in a
  * distributed aggregation and written by the executor that holds each
  * bucket's row — nothing is collected to the driver. The `predicate` is
  * applied above the frontier's routing by bucket (`CrawlPipeline
  * .selectCandidates`), so each task loads only the filters of the buckets it
  * owns: per-task residency = O(buckets-in-task × filter size).
  *
  * A VERSION mismatch (crash between the url_seen commit and the filter
  * update) is met with a full `rebuild`, so the filters are never stale-
  * missing. Files live on the table's filesystem (local java.nio here; the
  * same calls would be Hadoop FileSystem calls on a cluster). The store
  * lives in this file for the call-site label noted in `update`.
  */
final case class SeenFilterStore[S](codec: SketchCodec[S]) {
  def dirName: String = codec.name

  private[frontier] def bucketFile(dir: String, bucket: Long): Path =
    Paths.get(dir, s"bucket_$bucket.${codec.name}")

  private[frontier] def load(p: Path): S = codec.fromBytes(Files.readAllBytes(p))

  def filtersVersion(dir: String): Option[Long] = {
    val p = Paths.get(dir, "VERSION")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Merge `keys` (bucket, url_hash) into the per-bucket files and stamp the
    * directory with `version`.
    */
  def update(keys: DataFrame, dir: String, version: Long): Unit = {
    Files.createDirectories(Paths.get(dir))
    val aggregated = keys.groupBy(col("bucket").cast("long"))
      .agg(codec.agg(col("url_hash")))
    // must stay in BloomSeen.scala or CuckooSeen.scala: krawlbench's Tracer
    // labels this job frontier.filter_update by its call-site file name
    aggregated.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { r =>
        val target = bucketFile(dir, r.getLong(0))
        val fresh = codec.fromBytes(r.getAs[Array[Byte]](1))
        val merged = if (Files.exists(target)) codec.merge(load(target), fresh) else fresh
        SeenFilterStore.writeAtomic(target, codec.toBytes(merged))
      }
    }
    SeenFilterStore.writeAtomic(Paths.get(dir, "VERSION"), version.toString.getBytes(UTF_8))
  }

  /** Drop the directory's files and build it from the full seen-key set
    * (initial build; VERSION-mismatch recovery; a saturated cuckoo filter).
    */
  def rebuild(allKeys: DataFrame, dir: String, version: Long): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.list(p) // closed below: streams hold an fd
      val entries = try s.iterator().asScala.toVector finally s.close()
      entries.foreach(Files.delete)
    }
    update(allKeys, dir, version)
  }

  /** Might-contain over (bucket, url_hash), loading filters lazily per task.
    * Nondeterministic, because it reads the filter files when it runs: the
    * optimizer then keeps it where it is written instead of pushing it below
    * a repartition into the scan, where every task would meet every bucket.
    */
  def predicate(dir: String): Column =
    udf(new MightContainFromFiles(this, dir)).asNondeterministic()
      .apply(col("bucket").cast("long"), col("url_hash"))
}

object SeenFilterStore {
  private[frontier] def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      target.getFileName.toString + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Each task loads and caches the filters of the buckets it actually sees:
  * evaluated above the frontier's routing by bucket, that is only the
  * buckets the task owns. An absent file is an empty bucket under a
  * version-consistent directory; either way it answers "might be seen" and
  * the exact anti-join settles it, so there are no false negatives under ANY
  * directory state.
  */
final class MightContainFromFiles[S](store: SeenFilterStore[S], dir: String)
    extends ((Long, Long) => Boolean) with Serializable {
  @transient private lazy val cache = scala.collection.mutable.Map.empty[Long, Option[S]]
  def apply(bucket: Long, h: Long): Boolean =
    cache.getOrElseUpdate(bucket, {
      val p = store.bucketFile(dir, bucket)
      if (Files.exists(p)) Some(store.load(p)) else None
    }).forall(store.codec.mightContain(_, h))
}

/** The URL-seen sketch kinds (north rule: "Bloom/cuckoo URL-seen filter").
  * Bloom is the default; cuckoo adds targeted invalidation
  * (`CuckooSeen.removeKeys`). Each kind owns its directory under the table
  * root, so switching kinds on an existing table builds the new kind fresh.
  */
object SeenFilters {
  val bloom: SeenFilterStore[BloomFilter] = SeenFilterStore(BloomCodec(1L << 18, 0.01))
  val cuckoo: SeenFilterStore[CuckooFilter] = SeenFilterStore(CuckooCodec(1L << 18))

  /** Kind name → store: the config's `seen_kind` and Bench's
    * `SPARK_GRAFT_SEEN` are looked up here.
    */
  val byName: ListMap[String, SeenFilterStore[_]] =
    ListMap(Seq(bloom, cuckoo).map(s => s.dirName -> s): _*)
}
