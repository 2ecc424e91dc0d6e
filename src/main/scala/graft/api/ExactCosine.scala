package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The exact all-pairs cosine kernel behind [[SimilarityOps.cosineTopK]]
  * and [[SimilarityOps.nearDupPairs]].
  *
  * The id-sorted vectors are collected once into one flat `double[]`
  * and broadcast. The upper triangle (`id_a < id_b`) is cut into about
  * `2 × defaultParallelism` slices of equal pair count, one task each.
  * Every pair is scored with the sequential left-to-right accumulation
  * of [[graft.functions.DotProduct]] (shorter length wins, a null
  * element reads as 0.0), so dots are bit-identical to the expression.
  * Spark's `round(x, 6)` moves a double by less than 1e-6 (5e-7, plus
  * the step back to the nearest double), so a pair whose raw dot is
  * below `floor` (the cut minus 1e-6) can never reach the cut and is not
  * rounded: for top-k the cut is the slice's current k-th value,
  * for near-dup pairs the threshold. The job runs eagerly; the
  * result is a local frame and the broadcast is released with the job.
  *
  * Two named accumulators make the pruning visible in the stage
  * metrics: `graft.cosine.pairs_scored` (dot products computed) and
  * `graft.cosine.pairs_ranked` (pairs that passed the bound and were
  * rounded).
  */
private[api] object ExactCosine {

  /** Vector `i` is `xs(off(i) until off(i) + len(i))`; `len(i) == -1`
    * for a null vector. Rows `first(i) until next(i)` share row `i`'s
    * id, so row `i` pairs with rows `next(i) until n`.
    */
  private final class Vectors(val xs: Array[Double], val off: Array[Int], val len: Array[Int],
      val first: Array[Int], val next: Array[Int]) extends Serializable {
    def n: Int = len.length
  }

  /** One scored pair: `i`, `j` are the first rows of its two ids. */
  private final case class Hit(i: Int, j: Int, cos: Double)

  /** Spark's `ORDER BY cos DESC, id_a, id_b` over hits: NaN greatest,
    * -0.0 == 0.0. First rows are in id order, so they stand in for ids.
    */
  private val hitOrder: Ordering[Hit] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b.cos, a.cos)
    if (c != 0) c
    else if (a.i != b.i) Integer.compare(a.i, b.i)
    else Integer.compare(a.j, b.j)
  }

  /** Spark's `round(x, 6)` for doubles (HALF_UP, NaN and ±Inf kept). */
  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Receives every pair whose raw dot is not below `floor`. */
  private abstract class Sink {
    var floor: Double = Double.NegativeInfinity
    var ranked = 0L
    def offer(i: Int, j: Int, cos: Double): Unit
    def hits: Iterator[Hit]
  }

  /** Bounded heap of the k best hits; its head is the worst kept. */
  private final class TopK(k: Int) extends Sink {
    private val heap = new java.util.PriorityQueue[Hit](hitOrder.reverse)
    def offer(i: Int, j: Int, cos: Double): Unit = {
      ranked += 1
      val h = Hit(i, j, cos)
      if (heap.size < k) heap.add(h)
      else if (k > 0 && hitOrder.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
      if (k > 0 && heap.size == k) floor = heap.peek().cos - 1e-6
    }
    def hits: Iterator[Hit] = {
      import scala.jdk.CollectionConverters._
      heap.iterator().asScala
    }
  }

  /** Every hit with `cos >= threshold` under Spark's double comparison. */
  private final class AtLeast(threshold: Double) extends Sink {
    floor = threshold - 1e-6
    private val kept = scala.collection.mutable.ArrayBuffer.empty[Hit]
    def offer(i: Int, j: Int, cos: Double): Unit = {
      ranked += 1
      if (SQLOrderingUtil.compareDoubles(cos, threshold) >= 0) kept += Hit(i, j, cos)
    }
    def hits: Iterator[Hit] = kept.iterator
  }

  /** Scores rows `from until until` against their upper-triangle
    * partners. Four partners of equal length are scored in one pass over
    * row `i`, in four independent accumulators. Returns the dot count.
    */
  private def scan(v: Vectors, from: Int, until: Int, sink: Sink): Long = {
    val xs = v.xs; val off = v.off; val len = v.len; val n = v.n
    val first = v.first
    def visit(i: Int, j: Int, dot: Double): Unit =
      if (!(dot < sink.floor)) sink.offer(first(i), first(j), round6(dot))
    var scored = 0L
    var i = from
    while (i < until) {
      val li = len(i); val oi = off(i)
      var j = if (li < 0) n else v.next(i)
      while (j < n) {
        val lj = len(j)
        if (lj < 0) j += 1
        else if (j + 3 < n && len(j + 1) == lj && len(j + 2) == lj && len(j + 3) == lj) {
          val m = math.min(li, lj)
          val o0 = off(j); val o1 = off(j + 1); val o2 = off(j + 2); val o3 = off(j + 3)
          var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
          var t = 0
          while (t < m) {
            val x = xs(oi + t)
            a0 += x * xs(o0 + t); a1 += x * xs(o1 + t)
            a2 += x * xs(o2 + t); a3 += x * xs(o3 + t)
            t += 1
          }
          visit(i, j, a0); visit(i, j + 1, a1); visit(i, j + 2, a2); visit(i, j + 3, a3)
          scored += 4
          j += 4
        } else {
          val m = math.min(li, lj); val oj = off(j)
          var a = 0.0
          var t = 0
          while (t < m) { a += xs(oi + t) * xs(oj + t); t += 1 }
          visit(i, j, a)
          scored += 1
          j += 1
        }
      }
      i += 1
    }
    scored
  }

  /** Row ranges of about equal pair count, at most `parts` of them. */
  private def slices(v: Vectors, parts: Int): Seq[(Int, Int)] = {
    val total = (0 until v.n).map(i => (v.n - v.next(i)).toLong).sum
    val per = math.max(1L, (total + parts - 1) / parts)
    val out = Seq.newBuilder[(Int, Int)]
    var start = 0
    var acc = 0L
    for (i <- 0 until v.n) {
      acc += v.n - v.next(i)
      if (acc >= per) { out += ((start, i + 1)); start = i + 1; acc = 0L }
    }
    if (start < v.n) out += ((start, v.n))
    out.result()
  }

  /** Spark's id equality for two adjacent sorted ids (NaN == NaN,
    * -0.0 == 0.0 for floating ids).
    */
  private def sameId(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y) == 0
    case (x: Float, y: Float) => SQLOrderingUtil.compareFloats(x, y) == 0
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** The non-null ids in sort order and their vectors. `e` has columns
    * `vec_id` and `e` (array<double>).
    */
  private def collectSorted(e: DataFrame): (Array[Any], Vectors) = {
    val rows = e.filter(col("vec_id").isNotNull).coalesce(1)
      .sortWithinPartitions(col("vec_id")).collect()
    val n = rows.length
    val ids = rows.map(_.get(0))
    val vecs = rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Any](1))
    val len = vecs.map(x => if (x == null) -1 else x.length)
    val off = len.scanLeft(0)((o, l) => o + math.max(l, 0))
    val xs = new Array[Double](off(n))
    for (i <- 0 until n if len(i) > 0)
      vecs(i).iterator.zipWithIndex.foreach { case (x, t) =>
        xs(off(i) + t) = if (x == null) 0.0 else x.asInstanceOf[Double]
      }
    val first = new Array[Int](n)
    for (i <- 1 until n) first(i) = if (sameId(ids(i - 1), ids(i))) first(i - 1) else i
    val next = new Array[Int](n)
    for (i <- n - 1 to 0 by -1)
      next(i) = if (i + 1 < n && first(i + 1) == first(i)) next(i + 1) else i + 1
    (ids, new Vectors(xs, off, len, first, next))
  }

  /** Runs one sink per slice over the broadcast vectors and returns
    * every slice's hits.
    */
  private def run(e: DataFrame, v: Vectors, sink: () => Sink): Array[Hit] = {
    val sc = e.sparkSession.sparkContext
    val parts = slices(v, 2 * sc.defaultParallelism)
    if (parts.isEmpty) return Array.empty
    val scored = sc.longAccumulator("graft.cosine.pairs_scored")
    val ranked = sc.longAccumulator("graft.cosine.pairs_ranked")
    val bc = sc.broadcast(v)
    try {
      sc.parallelize(parts, parts.length).flatMap { case (from, until) =>
        val s = sink()
        scored.add(scan(bc.value, from, until, s))
        ranked.add(s.ranked)
        s.hits
      }.collect()
    } finally bc.destroy()
  }

  private def frame(e: DataFrame, ids: Array[Any], hits: Seq[Hit],
      extra: Seq[Row] = Nil): DataFrame = {
    val id = e.schema("vec_id")
    val schema = StructType(Seq(
      StructField("id_a", id.dataType, id.nullable),
      StructField("id_b", id.dataType, id.nullable),
      StructField("cos", DoubleType, e.schema("e").nullable)))
    val rows = hits.map(h => Row(ids(h.i), ids(h.j), h.cos)) ++ extra
    import scala.jdk.CollectionConverters._
    e.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** The k best pairs by `(cos desc, id_a, id_b)`. A pair with a null
    * vector has a null cosine, which sorts last: such pairs fill the tail
    * in `(id_a, id_b)` order when fewer than k pairs score.
    */
  def topK(e: DataFrame, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val (ids, v) = collectSorted(e)
    val best = run(e, v, () => new TopK(k)).sorted(hitOrder).take(k)
    val groups = (0 until v.n).filter(i => v.first(i) == i)
    val nullPairs = if (!v.len.contains(-1)) Nil else (for {
      a <- groups.iterator
      b <- groups.iterator if b > a
      i <- Iterator.range(a, v.next(a))
      j <- Iterator.range(b, v.next(b)) if v.len(i) < 0 || v.len(j) < 0
    } yield Row(ids(i), ids(j), null)).take(k - best.length).toSeq
    frame(e, ids, best.toSeq, nullPairs)
  }

  /** Every pair with `round(cos, 6) >= threshold`. */
  def atLeast(e: DataFrame, threshold: Double): DataFrame = {
    val (ids, v) = collectSorted(e)
    frame(e, ids, run(e, v, () => new AtLeast(threshold)).toSeq)
  }
}
