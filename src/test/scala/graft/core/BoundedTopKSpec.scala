package graft.core

import org.scalatest.funsuite.AnyFunSuite

/**
 * BoundedTopK invariants the flat multi-root read leans on: the kept set
 * equals a global sort's top-k under the TOTAL (key, id) order (ties
 * included), is independent of offer order, and heap MERGES across
 * arbitrary splits are exact — the property that lets partition-local
 * heaps combine on executors without changing the served candidates.
 */
class BoundedTopKSpec extends AnyFunSuite {

  private def refTopK(pairs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    pairs.sorted.take(k)

  test("kept set equals the global top-k under (key, id), ties included") {
    val rng = new scala.util.Random(7)
    (1 to 50).foreach { trial =>
      val k = 1 + rng.nextInt(16)
      val n = rng.nextInt(200)
      // coarse keys force ties; ids may repeat too
      val pairs = Seq.fill(n)((rng.nextInt(8).toDouble, rng.nextInt(40).toLong))
      val h = new BoundedTopK(k)
      pairs.foreach { case (key, id) => h.offer(key, id) }
      assert(h.sorted().toSeq == refTopK(pairs, k), s"trial $trial")
    }
  }

  test("kept set is independent of offer order") {
    val rng = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rng.nextInt(10).toDouble, rng.nextLong(1000)))
    val a = new BoundedTopK(12)
    val b = new BoundedTopK(12)
    pairs.foreach { case (key, id) => a.offer(key, id) }
    rng.shuffle(pairs).foreach { case (key, id) => b.offer(key, id) }
    assert(a.sorted().toSeq == b.sorted().toSeq)
  }

  test("mergeFrom across arbitrary splits equals the unsplit top-k") {
    val rng = new scala.util.Random(13)
    (1 to 30).foreach { trial =>
      val k = 1 + rng.nextInt(12)
      val pairs = Seq.fill(150)((rng.nextInt(6).toDouble, rng.nextInt(60).toLong))
      val parts = 1 + rng.nextInt(5)
      val heaps = Array.fill(parts)(new BoundedTopK(k))
      pairs.zipWithIndex.foreach { case ((key, id), i) =>
        heaps(i % parts).offer(key, id)
      }
      val merged = heaps.reduce((a, b) => a.mergeFrom(b))
      assert(merged.sorted().toSeq == refTopK(pairs, k),
        s"trial $trial parts=$parts k=$k")
    }
  }

  test("survives java serialization (ships as an aggregateByKey zero)") {
    val h = new BoundedTopK(4)
    Seq(3.0 -> 30L, 1.0 -> 10L, 2.0 -> 20L, 5.0 -> 50L, 0.5 -> 5L)
      .foreach { case (k, id) => h.offer(k, id) }
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(h)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[BoundedTopK]
    assert(back.sorted().toSeq == h.sorted().toSeq)
    back.offer(0.1, 1L) // still usable after the round-trip
    assert(back.sorted().head == ((0.1, 1L)))
  }

  test("payloads follow their pairs through offers, admits and merges") {
    val rng = new scala.util.Random(17)
    (1 to 30).foreach { trial =>
      val k = 1 + rng.nextInt(10)
      // distinct ids so each pair owns one payload (id * 0.5)
      val pairs = rng.shuffle((0L until 120L).toList)
        .map(id => (rng.nextInt(6).toDouble, id))
      val parts = 1 + rng.nextInt(4)
      val heaps = Array.fill(parts)(new BoundedTopK(k))
      pairs.zipWithIndex.foreach { case ((key, id), i) =>
        val h = heaps(i % parts)
        // admits() is exactly "offer would keep it"
        val before = h.sorted().toSeq
        val adm = h.admits(key, id)
        h.offer(key, id, id * 0.5)
        assert(adm == (h.sorted().toSeq != before), s"trial $trial admits")
      }
      val merged = heaps.reduce((a, b) => a.mergeFrom(b))
      assert(merged.sorted().toSeq == refTopK(pairs, k), s"trial $trial")
      merged.foreachEntry((_, id, v) => assert(v == id * 0.5, s"trial $trial id $id"))
      assert(merged.sortedEntries().toSeq ==
        refTopK(pairs, k).map { case (key, id) => (key, id, id * 0.5) }, s"trial $trial")
    }
  }
}
