package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the sketch hot loops (MinHash, SimHash,
  * signed random projection).
  *
  * Rationale: expressed with `transform`/`aggregate` higher-order
  * functions these signatures cost k×n interpreted lambda dispatches per
  * row (~160M for k=128 hashes over ~250 shingles × 5k docs), which
  * measured ~20 s at sf0.1. A single expression node with a tight JVM
  * loop does the same arithmetic in well under a second and keeps the
  * surrounding plan (explode/join/aggregate) fully declarative.
  *
  * All mixing uses the public-domain splitmix64 finalizer, so signatures
  * are deterministic across runs, partitions, and machines.
  */
object Mix {
  /** splitmix64 finalizer (public domain, Steele et al.). */
  @inline final def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** sig[i] = min over h in child (array<long>) of splitmix64(h ^ seed_i),
  * i < k. Null/empty arrays yield null. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0 && k <= 1024, s"k must be in (0, 1024], got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => Mix.splitmix64(0x5EED0000L + i))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < k) {
        val m = Mix.splitmix64(h ^ seeds(i))
        if (m < out(i)) out(i) = m
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over an array<long> of token hashes: bit i is set when
  * more than half the tokens have bit i set in splitmix64(token). */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = Mix.splitmix64(arr.getLong(j))
      var i = 0
      while (i < 64) {
        counts(i) += ((h >>> i) & 1L).toInt
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) * 2 > n) sig |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Signed-random-projection signature of an array<double> vector: bit p is
  * set when sum_j vec(j) * rademacher(p, j) >= 0, with the ±1 entries
  * derived from splitmix64(p << 32 | j) — a stored-model-free, machine-
  * independent LSH for cosine similarity. */
case class SrpSignature(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes > 0 && planes <= 63, s"planes must be in (0, 63], got $planes")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "srp_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    var sig = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val sign = if ((Mix.splitmix64((p.toLong << 32) | j) & 1L) == 1L) 1.0 else -1.0
        acc += arr.getDouble(j) * sign
        j += 1
      }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine similarity of two array<double> vectors in one fused pass
  * (dot product and both norms accumulated left-to-right, matching the
  * sequential-fold evaluation order of the declarative zip_with/aggregate
  * form and of DuckDB's list_cosine_similarity — the oracle hash-compare
  * depends on that order). Null if either side is null or lengths differ. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** The engine's one nearest-centroid rule (squared Euclidean, first
  * minimum wins — the K-Means assignment rule), shared by
  * [[CentroidArgmin]], [[SubvectorArgmins]] and the k-means fit in
  * `graft.ext.Similarity`. */
private[graft] object Centroids {

  /** Index in [0, k) of the centroid nearest to `x(xOff until xOff +
    * width)`, the centroids being the `k` rows of `width` components
    * stored row-major in `flat` from `base`; -1 when every distance is
    * NaN or overflows. */
  def nearest(x: Array[Double], xOff: Int, flat: Array[Double], base: Int,
      k: Int, width: Int): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val d = sqDist(x, xOff, flat, base + c * width, width)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Squared Euclidean distance of `x(xOff until xOff + width)` and
    * `y(yOff until yOff + width)`. */
  def sqDist(x: Array[Double], xOff: Int, y: Array[Double], yOff: Int, width: Int): Double = {
    var d = 0.0
    var t = 0
    while (t < width) {
      val e = x(xOff + t) - y(yOff + t)
      d += e * e
      t += 1
    }
    d
  }

  /** `v` as doubles, failing loud unless it has `dim` components. */
  def vector(v: ArrayData, dim: Int): Array[Double] = {
    if (v.numElements() != dim) throw dimMismatch(v.numElements(), dim)
    v.toDoubleArray()
  }

  def dimMismatch(got: Int, dim: Int): IllegalArgumentException =
    new IllegalArgumentException(s"centroid_argmin: vector dim $got != centroid dim $dim")
}

/** Index of the nearest centroid ([[Centroids.nearest]]) for an
  * array<double> vector. The centroid matrix travels as a BROADCAST
  * VARIABLE (flat row-major Array[Double], nCells × dim), not a plan
  * literal: at the 4096-cell / high-dim end the matrix is tens of MB,
  * which as a literal would ride every serialized task. Map-side and
  * shuffle-free: the IVF assignment pass needs no per-row model UDF and
  * no ML-vector conversion. */
case class CentroidArgmin(child: Expression, centroids: Broadcast[Array[Double]], dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(dim > 0, s"dim must be positive, got $dim")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_argmin"

  override def nullSafeEval(input: Any): Any = {
    val flat = centroids.value
    java.lang.Integer.valueOf(Centroids.nearest(
      Centroids.vector(input.asInstanceOf[ArrayData], dim), 0, flat, 0, flat.length / dim, dim))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-subspace nearest-centroid codes for product quantization: the
  * input vector splits into `m` contiguous subvectors of `dsub` dims;
  * each gets the argmin centroid id within ITS codebook — the PQ
  * encoding pass (Jégou et al. 2011). Flat codebook layout:
  * `flat[((j*k + c)*dsub) + t]` for subspace j, centroid c, component t.
  * Broadcast for the same reason as [[CentroidArgmin]]; map-side,
  * shuffle-free, first-min-wins ties. */
case class SubvectorArgmins(child: Expression,
    codebooks: Broadcast[Array[Double]], m: Int, dsub: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(m > 0 && dsub > 0 && k > 0, s"bad PQ shape: m=$m dsub=$dsub k=$k")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "subvector_argmins"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dsub) {
      throw new IllegalArgumentException(
        s"subvector_argmins: vector dim ${v.numElements()} != m*dsub ${m * dsub}")
    }
    val x = v.toDoubleArray()
    val flat = codebooks.value
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      out(j) = Centroids.nearest(x, j * dsub, flat, j * k * dsub, k, dsub)
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric PQ distance (ADC): squared L2 between an exact query
  * vector and a PQ-coded corpus vector's reconstruction — the query
  * side stays exact, only the corpus is quantized, which is what makes
  * PQ search accurate at 32× compression. Same flat codebook layout as
  * [[SubvectorArgmins]]. */
case class PqAdcDistance(left: Expression, right: Expression,
    codebooks: Broadcast[Array[Double]], m: Int, dsub: Int, k: Int)
    extends BinaryExpression with CodegenFallback {
  require(m > 0 && dsub > 0 && k > 0, s"bad PQ shape: m=$m dsub=$dsub k=$k")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dist"

  override def nullSafeEval(qIn: Any, cIn: Any): Any = {
    val q = qIn.asInstanceOf[ArrayData]
    val codes = cIn.asInstanceOf[ArrayData]
    if (q.numElements() != m * dsub || codes.numElements() != m) {
      throw new IllegalArgumentException(
        s"pq_adc_dist: dims ${q.numElements()}/${codes.numElements()} != ${m * dsub}/$m")
    }
    val flat = codebooks.value
    var d = 0.0
    var j = 0
    while (j < m) {
      val off = (j * k + codes.getInt(j)) * dsub
      var t = 0
      while (t < dsub) {
        val x = q.getDouble(j * dsub + t) - flat(off + t)
        d += x * x
        t += 1
      }
      j += 1
    }
    java.lang.Double.valueOf(d)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Column-API face of the sketch expressions (Spark 4 bridges Column <->
  * Expression through classic.ExpressionUtils). */
object sketches {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  def minhash_signature(shingleHashes: Column, k: Int): Column =
    column(MinHashSignature(expression(shingleHashes), k))
  def simhash64(tokenHashes: Column): Column =
    column(SimHash64(expression(tokenHashes)))
  def srp_signature(vec: Column, planes: Int): Column =
    column(SrpSignature(expression(vec), planes))
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def centroid_argmin(vec: Column, centroids: Broadcast[Array[Double]], dim: Int): Column =
    column(CentroidArgmin(expression(vec), centroids, dim))
  def subvector_argmins(vec: Column, codebooks: Broadcast[Array[Double]],
      m: Int, dsub: Int, k: Int): Column =
    column(SubvectorArgmins(expression(vec), codebooks, m, dsub, k))
  def pq_adc_dist(qv: Column, codes: Column, codebooks: Broadcast[Array[Double]],
      m: Int, dsub: Int, k: Int): Column =
    column(PqAdcDistance(expression(qv), expression(codes), codebooks, m, dsub, k))
}
