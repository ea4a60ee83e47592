package vcbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

/** Exact answers by brute force in plain Scala, written apart from the
  * engine's kernels so that a fault there cannot hide in both. Computed
  * outside every timed region and cached on disk per seed. */
object Truth {

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def negdot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    -s
  }

  /** Sum over query tokens of the best (lowest) negative dot against any
    * document token: the engine's `vec_maxsim`. */
  def maxsim(doc: Array[Array[Float]], query: Array[Array[Float]]): Double =
    query.iterator.map(q => doc.iterator.map(negdot(_, q)).min).sum

  /** Runs `f` over 0 until n on a small pool; results keep index order. */
  def par[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val threads = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until n).map(i => pool.submit(() => f(i)))
      futures.map(_.get()).toArray
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** The `k` nearest rows to `q` by (distance, id), id = row index, over
    * the rows `live` admits; plus the (k+1)-th distance, so a caller can
    * place a radius strictly between rank k and k+1. */
  def nearest(corpus: Array[Array[Float]], q: Array[Float], k: Int,
              live: Int => Boolean = _ => true,
              dist: (Array[Float], Array[Float]) => Double = l2): (Array[(Long, Double)], Double) = {
    // bounded max-heap on (dist, id)
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 2,
      (a: (Double, Int), b: (Double, Int)) =>
        if (a._1 != b._1) java.lang.Double.compare(b._1, a._1) else Integer.compare(b._2, a._2))
    var i = 0
    while (i < corpus.length) {
      if (live(i)) {
        val d = dist(corpus(i), q)
        if (heap.size < k + 1) heap.add((d, i))
        else {
          val top = heap.peek()
          if (d < top._1 || (d == top._1 && i < top._2)) { heap.poll(); heap.add((d, i)) }
        }
      }
      i += 1
    }
    val sorted = Array.fill(heap.size)(heap.poll()).reverse
    val next = if (sorted.length > k) sorted(k)._1 else Double.PositiveInfinity
    (sorted.take(k).map { case (d, id) => (id.toLong, d) }, next)
  }

  /** Cached exact answers: `compute` runs only when no cache file for
    * `key` exists. Values are arrays of (id, distance) rows. */
  def cached(dir: Path, key: String)(compute: => Array[Array[(Long, Double)]]): Array[Array[(Long, Double)]] = {
    Files.createDirectories(dir)
    val f = dir.resolve(key + ".bin")
    if (Files.exists(f)) read(f)
    else {
      val v = compute
      val tmp = dir.resolve(key + ".tmp")
      write(tmp, v)
      Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      v
    }
  }

  private def write(f: Path, v: Array[Array[(Long, Double)]]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(f)))
    try {
      out.writeInt(v.length)
      v.foreach { rows =>
        out.writeInt(rows.length)
        rows.foreach { case (id, d) => out.writeLong(id); out.writeDouble(d) }
      }
    } finally out.close()
  }

  private def read(f: Path): Array[Array[(Long, Double)]] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(f)))
    try Array.fill(in.readInt())(Array.fill(in.readInt())((in.readLong(), in.readDouble())))
    finally in.close()
  }
}
