package vcbench

import graft.core.{RaBitQ, VectorKernels}

/** Single-thread timings of the engine's vector kernels on generated
  * vectors, in nanoseconds per call: the median of five passes after five
  * untimed ones that let the JIT compile the kernel. A sink keeps the JIT
  * from dropping the work. */
object Kernels {
  @volatile private var sink = 0.0

  private def nsPerCall(calls: Int)(pass: => Double): Double =
    Stats.median((0 until 10).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / calls
    }.drop(5))

  def quantizeNsPerVec(vecs: Array[Array[Float]]): Double =
    nsPerCall(vecs.length)(vecs.iterator.map(v => RaBitQ.quantize(v, 8).meta(0).toDouble).sum)

  /** The RaBitQ distance estimate of one query against 8-bit codes: the
    * inner loop of the index's estimate phase. */
  def estimateNsPerCode(codes: Array[RaBitQ.Code], q: Array[Float]): Double = {
    val qSum = q.iterator.map(_.toDouble).sum
    val qNormSq = q.iterator.map(x => x.toDouble * x).sum
    nsPerCall(codes.length)(codes.iterator.map(c => RaBitQ.estimateL2s(c, q, qSum, qNormSq)._1).sum)
  }

  /** Bytes one estimate reads: the code bytes plus its float metadata. */
  def bytesPerEstimate(c: RaBitQ.Code): Double = c.codes.length + 4.0 * c.meta.length

  def l2NsPerPair(vecs: Array[Array[Float]], q: Array[Float]): Double =
    nsPerCall(vecs.length)(vecs.iterator.map(v => VectorKernels.l2s(v, q)).sum)
}
