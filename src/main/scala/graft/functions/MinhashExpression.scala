package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side MinHash signature kernel. Bit-identical to the builtin
  * expression pipeline it replaces —
  *
  *   transform(sequence(0, k-1), i ->
  *     array_min(transform(array_distinct(transform(sequence(1, m), s ->
  *       xxhash64(concat_ws(' ', slice(words, s, n))))), h -> xxhash64(i, h))))
  *
  * — because it reuses Spark's own XXH64 with the same composition rules:
  * a string hashes as hashUnsafeBytes(bytes, seed=42) and the builtin
  * two-argument xxhash64(i, h) folds as hashLong(h, hashInt(i, 42)).
  * The array_distinct is dropped as a no-op under min (duplicate shingle
  * hashes cannot change a minimum). One tight primitive loop per row
  * instead of k interpreted higher-order-function trees: the interpreted
  * form paid per-element closure dispatch and boxing on every one of the
  * k×|shingles| hash evaluations: the cold signature build at sf0.1 took
  * 24.1 s against 0.37 s for this kernel (OPTIMIZATION_r06.md §4).
  */
object MinhashSig {
  private val Seed = 42L

  def compute(words: ArrayData, k: Int, n: Int): ArrayData = {
    if (words == null) return null
    val nWords = words.numElements()
    val m = nWords - n + 1
    if (m < 1) return null
    val seeds = new Array[Long](k)
    var j = 0
    while (j < k) { seeds(j) = XXH64.hashInt(j, Seed); j += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    val slice = new Array[UTF8String](n)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      var w = 0
      while (w < n) { slice(w) = words.getUTF8String(i + w); w += 1 }
      val shingle = UTF8String.concatWs(space, slice: _*)
      val h = XXH64.hashUnsafeBytes(shingle.getBaseObject, shingle.getBaseOffset,
        shingle.numBytes, Seed)
      j = 0
      while (j < k) {
        val v = XXH64.hashLong(h, seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** `minhash_sig(words, k, n)` as a native Catalyst Expression with
  * `doGenCode` — the signature build is THE scan-stage cost of MinHash
  * dedup at corpus scale, so it runs as one static call per row inside
  * whole-stage codegen instead of an interpreted lambda forest.
  */
case class MinhashSigExpr(child: Expression, k: Int, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def eval(input: InternalRow): Any =
    MinhashSig.compute(child.eval(input).asInstanceOf[ArrayData], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val helper = MinhashSig.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${childGen.isNull}) {
          ${ev.value} = $helper.compute(${childGen.value}, $k, $n);
          ${ev.isNull} = (${ev.value} == null);
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSigExpr {
  import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}

  /** Column form: `minhash_sig(words, k, n)`. */
  def apply(words: Column, k: Int, n: Int): Column =
    columnOf(MinhashSigExpr(expressionOf(words), k, n))
}
