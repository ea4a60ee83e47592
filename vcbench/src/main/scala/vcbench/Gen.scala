package vcbench

/** SplitMix64: a tiny generator whose output is fixed by its seed alone,
  * on every JVM, so the same `--seed` always yields the same bytes. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  /** Box-Muller; one draw per call keeps the stream position simple. */
  def nextGaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
  }
}

object Rng {
  /** An independent stream per purpose, so adding a draw to one input
    * never shifts another input built from the same seed. */
  def apply(seed: Long, purpose: String): Rng =
    new Rng(seed * 0x632BE59BD9B4E019L ^ purpose.hashCode.toLong * 0x9E3779B97F4A7C15L)
}

/** Seeded inputs. Every generator is a pure function of its arguments. */
object Gen {

  /** Gaussian clusters: `clusters` centres uniform in [-1, 1]^dim, each
    * row its centre plus N(0, sigma^2) noise. Row i has id i. */
  def clustered(seed: Long, n: Int, dim: Int, clusters: Int,
                sigma: Double, purpose: String = "corpus"): Array[Array[Float]] = {
    val r = Rng(seed, purpose)
    val centres = Array.fill(clusters, dim)(r.nextDouble() * 2 - 1)
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + sigma * r.nextGaussian()).toFloat)
    }
  }

  /** Queries: corpus rows picked at random and perturbed by N(0, sigma^2)
    * noise, so every query lies in the corpus distribution without being
    * a corpus row. */
  def perturbed(seed: Long, corpus: Array[Array[Float]], count: Int,
                sigma: Double, purpose: String): Array[Array[Float]] = {
    val r = Rng(seed, purpose)
    Array.fill(count) {
      val base = corpus(r.nextInt(corpus.length))
      base.map(x => (x + sigma * r.nextGaussian()).toFloat)
    }
  }

  /** Multivector documents: each doc draws a topic and `tokensPerDoc`
    * tokens around it. Returns doc -> tokens, doc id = index. */
  def multivector(seed: Long, docs: Int, tokensPerDoc: Int, dim: Int,
                  topics: Int, sigma: Double): Array[Array[Array[Float]]] = {
    val r = Rng(seed, "multivector")
    val centres = Array.fill(topics, dim)(r.nextDouble() * 2 - 1)
    Array.fill(docs) {
      val c = centres(r.nextInt(topics))
      Array.fill(tokensPerDoc)(Array.tabulate(dim)(j => (c(j) + sigma * r.nextGaussian()).toFloat))
    }
  }

  /** Query token sets: a doc's tokens, a random subset of `tokens` of
    * them, each perturbed. */
  def tokenQueries(seed: Long, docs: Array[Array[Array[Float]]], count: Int,
                   tokens: Int, sigma: Double, purpose: String): Array[Array[Array[Float]]] = {
    val r = Rng(seed, purpose)
    Array.fill(count) {
      val d = docs(r.nextInt(docs.length))
      Array.fill(tokens)(d(r.nextInt(d.length)).map(x => (x + sigma * r.nextGaussian()).toFloat))
    }
  }

  /** Documents with planted near-duplicate clusters. Returns the texts
    * (doc id = index) and the planted clusters as id arrays. Each
    * cluster is a base document plus `clusterSize - 1` copies that each
    * replace `edits` words, so copies share most of their 3-shingles
    * with the base; unplanted documents are independent draws from a
    * large vocabulary and share almost none. */
  def documents(seed: Long, docs: Int, words: Int, clusters: Int,
                clusterSize: Int, edits: Int): (Array[String], Array[Array[Int]]) = {
    require(clusters * clusterSize <= docs, "planted clusters exceed the corpus")
    val r = Rng(seed, "documents")
    val vocab = 50000
    def word(): String = "w" + r.nextInt(vocab)
    val texts = Array.fill(docs)(Array.fill(words)(word()))
    // planted members sit at random positions, not in one block
    val order = (0 until docs).toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val planted = Array.tabulate(clusters) { c =>
      val members = order.slice(c * clusterSize, (c + 1) * clusterSize).sorted
      val base = texts(members(0))
      members.tail.foreach { m =>
        val copy = base.clone()
        (0 until edits).foreach(_ => copy(r.nextInt(words)) = word())
        texts(m) = copy
      }
      members
    }
    (texts.map(_.mkString(" ")), planted)
  }
}
