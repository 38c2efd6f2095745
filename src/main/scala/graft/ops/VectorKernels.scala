package graft.ops

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, ArrayType, StructType}

/** Row-local vector kernels behind the similarity operators (quantize,
  * integer dot products, hyperplane buckets, centroid assignment).
  *
  * Same rationale as [[TextKernels]] (guide §1.2 step 2): every one of
  * these is a pure per-row function over one embedding, but the Column
  * formulation needs `aggregate`/`zip_with` higher-order lambdas, which
  * Spark evaluates interpreted — q30's centroid assignment alone ran
  * ~2M lambda steps per pass, dominated by closure dispatch, and paid
  * the JIT-cold penalty once per bench run. The kernels are plain JVM
  * loops appended to the row via `mapPartitions` with a Row encoder, so
  * the surrounding plan (broadcast joins, windows, aggregates) is
  * unchanged.
  *
  * Exactness contract (oracle-gated by q19/q20/q29/q30):
  *  - quantization replicates Spark's `round(x·1000)` for doubles —
  *    `BigDecimal.valueOf` (decimal string) + HALF_UP, NOT the exact
  *    binary value, matching Catalyst's RoundBase;
  *  - integer dot/distance sums are exact longs, NULL when either side
  *    is NULL, holds a NULL element, or lengths differ (zip_with
  *    null-padding semantics);
  *  - bucket/cell ties and packing mirror the Column forms bit-for-bit
  *    on well-formed vectors; a ragged or NULL-holding vector gets a
  *    NULL bucket and cell.
  */
private[graft] object VectorKernels {

  private def addCol(df: DataFrame, out: String,
      t: org.apache.spark.sql.types.DataType)(
      f: Row => Any): DataFrame = {
    val schema = StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(out, t, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions(it => it.map(r => Row.fromSeq(r.toSeq :+ f(r))))(enc)
  }

  /** Spark `round(x, 0)` for doubles: decimal-string BigDecimal, HALF_UP. */
  def roundHalfUp(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(0, RoundingMode.HALF_UP).longValue()

  private def quantize1(x: Any): Long =
    roundHalfUp(x.asInstanceOf[Number].doubleValue() * 1000.0)

  /** Append `out` = round(vec·1000) per element (array<long>); NULL vec
    * ⇒ NULL, NULL element ⇒ NULL element.
    * ≡ `transform(v, x => round(x.cast(double)*1000).cast(long))`. */
  def withQuantized(df: DataFrame, vecCol: String, out: String): DataFrame = {
    val vi = df.schema.fieldIndex(vecCol)
    addCol(df, out, ArrayType(LongType)) { r =>
      if (r.isNullAt(vi)) null
      else {
        val v = r.getSeq[Any](vi)
        if (v.contains(null)) v.map(x => if (x == null) null else quantize1(x))
        else {
          val qs = new Array[Long](v.length)
          var i = 0
          while (i < v.length) { qs(i) = quantize1(v(i)); i += 1 }
          qs
        }
      }
    }
  }

  /** The long vector at `i` as a primitive array, or null when it is
    * NULL or holds a NULL element — one null element poisons a
    * zip_with/aggregate sum, so every integer kernel treats such a
    * vector as NULL. */
  private[ops] def longsAt(r: Row, i: Int): Array[Long] =
    if (r.isNullAt(i)) null
    else {
      val v = r.getSeq[Any](i)
      if (v.contains(null)) null else v.asInstanceOf[scala.collection.Seq[Long]].toArray
    }

  /** Append `out` = Σ aᵢ·bᵢ over long arrays; NULL when either side is
    * NULL, holds a NULL element, or lengths differ
    * (≡ aggregate(zip_with(a,b,_*_),0,+) whose null-padding poisons the
    * sum). */
  def withQdot(df: DataFrame, aCol: String, bCol: String, out: String): DataFrame = {
    val ai = df.schema.fieldIndex(aCol)
    val bi = df.schema.fieldIndex(bCol)
    addCol(df, out, LongType) { r =>
      val a = longsAt(r, ai)
      val b = longsAt(r, bi)
      if (a == null || b == null || a.length != b.length) null
      else {
        var s = 0L
        var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
    }
  }

  /** Append `out` = packed sign-projection bucket of the quantized
    * vector against `signs` (one ±1 row per plane, MSB-first packing);
    * NULL for ragged vectors (length ≠ dim) — ≡ [[Similarity.lshBucketQ]]
    * — and for vectors holding a NULL element (where the Column form's
    * null projection falls through `otherwise(0)` into bucket 0). */
  def withBucket(df: DataFrame, qvCol: String, out: String,
      signs: Array[Array[Long]], dim: Int): DataFrame = {
    val vi = df.schema.fieldIndex(qvCol)
    val nPlanes = signs.length
    addCol(df, out, IntegerType) { r =>
      val v = longsAt(r, vi)
      if (v == null || v.length != dim) null
      else {
        var packed = 0
        var p = 0
        while (p < nPlanes) {
          val row = signs(p)
          var proj = 0L
          var i = 0
          while (i < dim) { proj += v(i) * row(i); i += 1 }
          if (proj >= 0) packed |= 1 << (nPlanes - 1 - p)
          p += 1
        }
        packed
      }
    }
  }

  /** Append `out` = nearest centroid id by exact integer squared L2,
    * ties toward the lower cell id — ≡ the `least(struct(d, c))` pick of
    * [[Similarity.ivfAssign]]. Centroids must be dense in cell order and
    * of one length; a vector of another length (ragged) or holding a NULL
    * element gets a NULL cell, like [[withQdot]]. */
  def withCell(df: DataFrame, qvCol: String, out: String,
      cents: Array[Array[Long]]): DataFrame = {
    val vi = df.schema.fieldIndex(qvCol)
    addCol(df, out, IntegerType) { r =>
      val v = longsAt(r, vi)
      if (v == null || cents.exists(_.length != v.length)) null
      else {
        var best = Long.MaxValue
        var bestC = -1
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)
          var d = 0L
          var i = 0
          while (i < v.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
          if (d < best) { best = d; bestC = c }
          c += 1
        }
        bestC
      }
    }
  }
}
