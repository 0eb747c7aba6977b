package graft.frontier

import org.apache.spark.util.LongAccumulator

/** `codec` under its own name, so a store over it reads `codec`'s filter
  * directory, adding one to `loads` on every filter it deserializes: the
  * filter-load count of whatever plan evaluates the store's predicate.
  */
final case class CountingCodec[S](codec: SketchCodec[S], loads: LongAccumulator)
    extends SketchCodec[S] {
  def name: String = codec.name
  def create(): S = codec.create()
  def insert(s: S, key: Long): Unit = codec.insert(s, key)
  def merge(s: S, other: S): S = codec.merge(s, other)
  def mightContain(s: S, key: Long): Boolean = codec.mightContain(s, key)
  def toBytes(s: S): Array[Byte] = codec.toBytes(s)
  def fromBytes(bytes: Array[Byte]): S = { loads.add(1L); codec.fromBytes(bytes) }
}
