package graft.core

/**
 * Bounded top-k accumulator over (key, id) pairs: keeps the k SMALLEST by
 * (key, id), implemented as a primitive-array binary max-heap on the worst
 * kept pair — zero boxing in the offer path (the role of the reference's
 * lazy result heaps, crates/vchordrq/src/rerank.rs / results.rs, for scan
 * loops that evaluate millions of candidates).
 *
 * Each kept pair carries a Double payload that rides along untouched
 * (NaN when offered without one). The fused IVF search stores the exact
 * distance there: it asks [[admits]] first and computes the exact
 * distance only for pairs the heap will keep — the reference's lazy
 * rerank, where exact vectors are fetched only for rows the estimate
 * heap admits.
 *
 * Deterministic: ordering is total on (key, id), so the kept set is
 * independent of offer order — which also makes heap MERGES exact: offering
 * one heap's pairs into another yields the same kept set as a global sort,
 * so partition-local heaps can combine on executors (Serializable for the
 * aggregateByKey merge path in [[graft.index.IvfIndex]]).
 */
final class BoundedTopK(k: Int) extends Serializable {
  require(k > 0, "k must be positive")
  private val keys = new Array[Double](k)
  private val ids = new Array[Long](k)
  private val vals = new Array[Double](k)
  private var n = 0

  def size: Int = n

  @inline private def worse(a: Double, ai: Long, b: Double, bi: Long): Boolean =
    a > b || (a == b && ai > bi)

  @inline private def swap(i: Int, j: Int): Unit = {
    val tk = keys(i); keys(i) = keys(j); keys(j) = tk
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tv = vals(i); vals(i) = vals(j); vals(j) = tv
  }

  /** Would [[offer]] keep (key, id)? */
  @inline def admits(key: Double, id: Long): Boolean =
    n < k || worse(keys(0), ids(0), key, id)

  def offer(key: Double, id: Long): Unit = offer(key, id, Double.NaN)

  def offer(key: Double, id: Long, v: Double): Unit = {
    if (n < k) {
      keys(n) = key; ids(n) = id; vals(n) = v; n += 1
      // sift up
      var i = n - 1
      var cont = i > 0
      while (cont) {
        val p = (i - 1) / 2
        if (worse(keys(i), ids(i), keys(p), ids(p))) { swap(i, p); i = p; cont = i > 0 }
        else cont = false
      }
    } else if (worse(keys(0), ids(0), key, id)) {
      keys(0) = key; ids(0) = id; vals(0) = v
      // sift down
      var i = 0
      var cont = true
      while (cont) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < n && worse(keys(l), ids(l), keys(m), ids(m))) m = l
        if (r < n && worse(keys(r), ids(r), keys(m), ids(m))) m = r
        if (m != i) { swap(i, m); i = m } else cont = false
      }
    }
  }

  /** Offer every kept pair of `other` (with its payload) into this heap —
    * exact because the (key, id) order is total, so the merged kept set
    * equals a global top-k over both heaps' inputs. */
  def mergeFrom(other: BoundedTopK): BoundedTopK = {
    other.foreachEntry((k, id, v) => offer(k, id, v))
    this
  }

  /** Visit kept pairs (heap order, NOT sorted). */
  def foreachPair(f: (Double, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(keys(i), ids(i)); i += 1 }
  }

  /** Visit kept (key, id, payload) entries (heap order, NOT sorted). */
  def foreachEntry(f: (Double, Long, Double) => Unit): Unit = {
    var i = 0
    while (i < n) { f(keys(i), ids(i), vals(i)); i += 1 }
  }

  /** Kept pairs sorted ascending by (key, id). */
  def sorted(): Array[(Double, Long)] = sortedEntries().map(e => (e._1, e._2))

  /** Kept (key, id, payload) entries sorted ascending by (key, id). */
  def sortedEntries(): Array[(Double, Long, Double)] = {
    val out = Array.tabulate(n)(i => (keys(i), ids(i), vals(i)))
    scala.util.Sorting.quickSort(out)(
      Ordering.by[(Double, Long, Double), (Double, Long)](e => (e._1, e._2)))
    out
  }
}
