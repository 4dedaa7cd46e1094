package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Membership test against a Bloom bit array delivered as a BROADCAST
  * VARIABLE, not a plan literal.
  *
  * Why not `typedLit(words)`: a literal array rides every serialized
  * plan fragment and every task closure. At the documented sizing that
  * is 128 KiB for a 1M-bit filter — tolerable — but the build side is
  * user-supplied: 10M keys at fpp 0.01 is ~12 MB and 100M keys ~120 MB
  * of literal on every task, a driver/scheduler bottleneck exactly at
  * the scale a Bloom pre-filter targets. A `Broadcast[Array[Long]]` is
  * shipped once per executor via the torrent protocol; the expression
  * itself serializes as a tiny handle.
  *
  * `hashes` are the k position hashes (callers pass Spark's own
  * `XxHash64` expressions so probe-side bits match the build-side
  * `xxhash64(key, seed)` bit-for-bit); each is reduced mod `mBits` and
  * tested; the conjunction short-circuits on the first clear bit. Fully
  * codegen'd: the broadcast is dereferenced once per generated class
  * instance (mutable state), not per row.
  */
case class BloomMightContain(
    hashes: Seq[Expression],
    mBits: Long,
    bits: Broadcast[Array[Long]])
    extends Expression {

  require(hashes.nonEmpty && hashes.size <= 16, s"k must be in [1,16], got ${hashes.size}")
  require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
  require(hashes.forall(!_.nullable), "position hashes must be non-nullable (XxHash64 is)")
  require(hashes.forall(_.dataType == LongType), "position hashes must be LongType")

  override def children: Seq[Expression] = hashes
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  override def eval(input: InternalRow): Any = {
    val words = bits.value
    var i = 0
    while (i < hashes.length) {
      val pos = java.lang.Math.floorMod(hashes(i).eval(input).asInstanceOf[Long], mBits)
      if ((words((pos >>> 6).toInt) & (1L << pos)) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBits", bits,
      "org.apache.spark.broadcast.Broadcast")
    val words = ctx.addMutableState("long[]", "bloomWords",
      v => s"$v = (long[]) $bcRef.value();")
    val checks = hashes.map { h =>
      val e = h.genCode(ctx)
      val pos = ctx.freshName("bloomPos")
      s"""
         |if (${ev.value}) {
         |  ${e.code}
         |  long $pos = java.lang.Math.floorMod(${e.value}, ${mBits}L);
         |  if (($words[(int)($pos >>> 6)] & (1L << $pos)) == 0L) ${ev.value} = false;
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
         |boolean ${ev.value} = true;
         |$checks
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(hashes = newChildren)
}

/** Dictionary probe against a key -> value map delivered as a BROADCAST
  * VARIABLE — the fused, join-free form of a dimension lookup. Same
  * delivery as [[BloomMightContain]]: the map ships once per executor
  * and the expression serializes as a handle, so no plan carries the
  * dictionary and no action re-derives it.
  *
  * `child` is the probe key as a string; the map holds UTF8String keys
  * and Catalyst internal values of `dataType` (null values allowed). A
  * null probe and a missing key both yield null. The broadcast is
  * dereferenced once per generated class instance, not per row. */
case class BroadcastDictGet(
    child: Expression,
    dataType: DataType,
    dict: Broadcast[java.util.Map[UTF8String, Any]])
    extends UnaryExpression {

  override def nullable: Boolean = true
  override def prettyName: String = "broadcast_dict_get"

  override def eval(input: InternalRow): Any = {
    val key = child.eval(input)
    if (key == null) null else dict.value.get(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("dict", dict, "org.apache.spark.broadcast.Broadcast")
    val map = ctx.addMutableState("java.util.Map", "dictMap",
      v => s"$v = (java.util.Map) $bcRef.value();")
    val c = child.genCode(ctx)
    val hit = ctx.freshName("hit")
    ev.copy(code =
      code"""
         |${c.code}
         |boolean ${ev.isNull} = true;
         |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!${c.isNull}) {
         |  Object $hit = $map.get(${c.value});
         |  if ($hit != null) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $hit;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
