package graft.pipeline

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Partition-local AR(p) kernel behind [[Darima.fittedResidualsDF]]:
  * in-sample one-step fits over a totally time-ordered series as a
  * primitive loop per range bucket, with no per-row lag arrays.
  *
  * Method:
  *  1. Range-bucket the rows on `t` by OrderedLag's bounds rule
  *     (percentile bounds, at most 32 buckets of at least 4·p rows).
  *  2. One small job reads the source without a shuffle: each input
  *     partition returns, per bucket it touches, its row count and its
  *     last p `z` values. The driver folds them, in bucket order, into
  *     every bucket's global row offset and halo (the last p values
  *     over all earlier buckets) and broadcasts them.
  *  3. The series crosses ONE exchange, which sends bucket b to
  *     partition b; each task sorts its rows by `t` in primitive
  *     arrays, seeds the lag window with the halo, and runs
  *     Forecast.forecast's in-sample recursion.
  *
  * The fold order is the driver recursion's: β0 (plus β1·rn only when
  * β1 ≠ 0), then + π_j·z_{t−1−j} for j = 0…p−1, then + s; the residual
  * is v − fitted. Null semantics: fitted and residual are null for
  * the first p global rows, for every row whose p-row lag window
  * holds a null z, and where s is null; the residual is also null
  * where v is. Each task holds one bucket (≤ n/eff rows) in
  * primitive arrays.
  */
private[pipeline] object ArKernel {

  /** A bucket's entry state: its global row offset and the last
    * min(p, offset) z values before it, oldest first.
    */
  final case class Halo(offset: Long, z: Array[Double], nul: Array[Boolean])

  /** One input partition's share of a bucket: its row count and its
    * last ≤ p rows in time order (sort key, z, z-is-null).
    */
  final case class Tail(b: Int, n: Long, t: Array[Double],
      z: Array[Double], nul: Array[Boolean])

  private val OutSchema = StructType(Seq("t", "v", "fitted", "residual")
    .map(StructField(_, DoubleType, nullable = true)))

  /** (t, v, fitted, residual) rows for `based` = (t, v, __s, __z)
    * under the AR model (pi, beta0, beta1); `pi` must be non-empty.
    */
  def fittedResiduals(based: DataFrame, pi: Array[Double], beta0: Double,
      beta1: Double): DataFrame = {
    val p = pi.length
    val bounds = graft.ts.OrderedLag.bucketBounds(based, col("t"), p).toArray
    val nb = bounds.length + 1
    val keyed = based.select(col("t"), col("v"), col("__s").as("s"),
      col("__z").as("z"))
    val halos =
      if (nb == 1) Array(Halo(0L, Array.emptyDoubleArray, Array.emptyBooleanArray))
      else foldHalos(collectTails(keyed, bounds, p), nb, p)
    val bc = based.sparkSession.sparkContext.broadcast(halos)
    // the bucket id as a binary search: the same ids as
    // OrderedLag.bucketOf, without its per-bound CASE chain in the
    // generated code of the exchange's map side
    val bucket = udf((t: java.lang.Double) => graft.ts.OrderedLag.bucketIndex(
      bounds, if (t == null) Double.NegativeInfinity else t.doubleValue))
    keyed.repartitionById(nb, bucket(col("t")))
      .mapPartitions(rows => fitPartition(Cols(rows, bounds), bc.value, pi,
        beta0, beta1))(Encoders.row(OutSchema))
  }

  /** The rows of one partition as primitive columns, with each row's
    * bucket; `key` is the sort key (t, with a null t first).
    */
  private final class Cols(val n: Int, val b: Array[Int], val key: Array[Double],
      val tNull: Array[Boolean], val v: Array[Double], val vNull: Array[Boolean],
      val s: Array[Double], val sNull: Array[Boolean], val z: Array[Double],
      val zNull: Array[Boolean]) {
    /** Row positions in time order (stable, so buckets come out whole
      * and ascending: bucket ids ascend with t).
      */
    lazy val order: Array[Int] = sortedOrder(key)
  }

  private object Cols {
    /** Drains (t, v, s, z) rows into primitive arrays. */
    def apply(rows: Iterator[Row], bounds: Array[Double]): Cols = {
      val d = Array.fill(4)(new ArrayBuilder.ofDouble)
      val nul = Array.fill(4)(new ArrayBuilder.ofBoolean)
      rows.foreach { r =>
        var c = 0
        while (c < 4) {
          val isNull = r.isNullAt(c)
          nul(c) += isNull
          d(c) += (if (isNull) (if (c == 0) Double.NegativeInfinity else 0.0)
            else r.getDouble(c))
          c += 1
        }
      }
      val ds = d.map(_.result())
      val ns = nul.map(_.result())
      new Cols(ds(0).length,
        ds(0).map(graft.ts.OrderedLag.bucketIndex(bounds, _)),
        ds(0), ns(0), ds(1), ns(1), ds(2), ns(2), ds(3), ns(3))
    }
  }

  /** Stable bottom-up merge sort of positions by `key`. */
  private def sortedOrder(key: Array[Double]): Array[Int] = {
    val n = key.length
    var a = Array.range(0, n)
    var tmp = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var i = lo
        var j = mid
        var k = lo
        while (k < hi) {
          if (j >= hi || (i < mid &&
              java.lang.Double.compare(key(a(i)), key(a(j))) <= 0)) {
            tmp(k) = a(i); i += 1
          } else { tmp(k) = a(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val x = a; a = tmp; tmp = x
      w *= 2
    }
    a
  }

  /** End (exclusive) of the run of bucket `c.b(ord(from))` in `ord`. */
  private def segmentEnd(c: Cols, ord: Array[Int], from: Int): Int = {
    val b = c.b(ord(from))
    var e = from + 1
    while (e < ord.length && c.b(ord(e)) == b) e += 1
    e
  }

  /** Pass 1: per (input partition, bucket), the row count and last p
    * rows — no shuffle; the driver receives at most p rows per bucket
    * an input partition touches.
    */
  private def collectTails(keyed: DataFrame, bounds: Array[Double],
      p: Int): Array[Tail] = {
    import keyed.sparkSession.implicits._
    keyed.mapPartitions { rows =>
      val c = Cols(rows, bounds)
      val ord = c.order
      val out = new ArrayBuilder.ofRef[Tail]
      var a = 0
      while (a < c.n) {
        val e = segmentEnd(c, ord, a)
        val keep = ord.slice(math.max(a, e - p), e)
        out += Tail(c.b(ord(a)), (e - a).toLong, keep.map(c.key),
          keep.map(c.z), keep.map(c.zNull))
        a = e
      }
      out.result().iterator
    }.collect()
  }

  /** Every bucket's halo and global offset from the partition tails. */
  private def foldHalos(tails: Array[Tail], nb: Int, p: Int): Array[Halo] = {
    val byBucket = tails.groupBy(_.b)
    var z = Array.emptyDoubleArray
    var nul = Array.emptyBooleanArray
    var offset = 0L
    Array.tabulate(nb) { b =>
      val halo = Halo(offset, z, nul)
      byBucket.get(b).foreach { ts =>
        val keep = sortedOrder(ts.flatMap(_.t)).takeRight(p)
        val tz = ts.flatMap(_.z)
        val tn = ts.flatMap(_.nul)
        z = (z ++ keep.map(tz)).takeRight(p)
        nul = (nul ++ keep.map(tn)).takeRight(p)
        offset += ts.map(_.n).sum
      }
      halo
    }
  }

  /** Pass 2: fitted/residual rows of one partition, in time order. */
  private def fitPartition(c: Cols, halos: Array[Halo], pi: Array[Double],
      beta0: Double, beta1: Double): Iterator[Row] = {
    val ord = c.order
    val fitted = new Array[Double](c.n)
    val ok = new Array[Boolean](c.n)
    var a = 0
    while (a < c.n) {
      val e = segmentEnd(c, ord, a)
      fitBucket(c, ord, a, e, halos(c.b(ord(a))), pi, beta0, beta1, fitted, ok)
      a = e
    }
    def opt(x: Double, isNull: Boolean): Any = if (isNull) null else x
    ord.iterator.map { i =>
      Row(opt(c.key(i), c.tNull(i)), opt(c.v(i), c.vNull(i)),
        opt(fitted(i), !ok(i)), opt(c.v(i) - fitted(i), !ok(i) || c.vNull(i)))
    }
  }

  /** The in-sample recursion over one bucket's rows ord(a until e). */
  private def fitBucket(c: Cols, ord: Array[Int], a: Int, e: Int, halo: Halo,
      pi: Array[Double], beta0: Double, beta1: Double,
      fitted: Array[Double], ok: Array[Boolean]): Unit = {
    val p = pi.length
    val h = halo.z.length
    // z history: the halo, then this bucket's rows as they are passed
    val z = new Array[Double](h + e - a)
    System.arraycopy(halo.z, 0, z, 0, h)
    var lastNull = halo.nul.lastIndexOf(true)
    var k = 0
    while (k < e - a) {
      val i = ord(a + k)
      val q = h + k
      // q < p only while the global row index is below p
      if (q >= p && lastNull < q - p && !c.sNull(i)) {
        val zero =
          if (beta1 == 0.0) beta0
          else beta0 + beta1 * (halo.offset + k + 1).toDouble
        fitted(i) = dot(zero, pi, z, q) + c.s(i)
        ok(i) = true
      }
      z(q) = c.z(i)
      if (c.zNull(i)) lastNull = q
      k += 1
    }
  }

  /** acc0 + Σ_j z(end−1−j)·π_j, added left to right in j. Kept small
    * so the JIT compiles it on its own.
    */
  private def dot(acc0: Double, pi: Array[Double], z: Array[Double],
      end: Int): Double = {
    var acc = acc0
    var j = 0
    while (j < pi.length) { acc += z(end - 1 - j) * pi(j); j += 1 }
    acc
  }
}
