package vcbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def bytes(vs: Array[Array[Float]]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(vs.map(_.length * 4).sum)
    vs.foreach(_.foreach(b.putFloat))
    b.array()
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50)
    assert(Stats.percentile(xs, 90) == 90)
    assert(Stats.percentile(xs, 100) == 100)
    assert(Stats.percentile(Seq(7.0), 99) == 7)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail percentile: the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(999).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("recall@k and planted-pair recall") {
    assert(Stats.recallAtK(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 1.0)
    assert(Stats.recallAtK(Seq(1L, 2L, 9L, 8L), Seq(1L, 2L, 3L, 4L)) == 0.5)
    assert(Stats.recallAtK(Nil, Seq(1L, 2L)) == 0.0)
    assert(Stats.recallAtK(Seq(5L), Nil) == 1.0)
    // clusters {0,1,2} and {3,4}: 3 + 1 planted pairs; the grouping joins
    // 0 and 1 only, and 3 with 4
    val group = Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L)
    assert(Stats.pairRecall(Seq(Array(0, 1, 2), Array(3, 4)), group) == 2.0 / 4)
  }

  test("the same seed gives the same bytes; another seed does not") {
    val a = Gen.clustered(7, 500, 16, 4, 0.3)
    assert(java.util.Arrays.equals(bytes(a), bytes(Gen.clustered(7, 500, 16, 4, 0.3))))
    assert(!java.util.Arrays.equals(bytes(a), bytes(Gen.clustered(8, 500, 16, 4, 0.3))))
    val q = Gen.perturbed(7, a, 20, 0.05, "q")
    assert(java.util.Arrays.equals(bytes(q), bytes(Gen.perturbed(7, a, 20, 0.05, "q"))))
    val mv = Gen.multivector(7, 50, 4, 8, 5, 0.3)
    assert(java.util.Arrays.equals(bytes(mv.flatten), bytes(Gen.multivector(7, 50, 4, 8, 5, 0.3).flatten)))
    val tq = Gen.tokenQueries(7, mv, 10, 3, 0.05, "t")
    assert(java.util.Arrays.equals(bytes(tq.flatten), bytes(Gen.tokenQueries(7, mv, 10, 3, 0.05, "t").flatten)))
    val (texts, planted) = Gen.documents(7, 200, 30, 10, 3, 2)
    val (texts2, planted2) = Gen.documents(7, 200, 30, 10, 3, 2)
    assert(texts.sameElements(texts2))
    assert(planted.map(_.toSeq).toSeq == planted2.map(_.toSeq).toSeq)
  }

  test("planted documents are near duplicates of their cluster's base") {
    val (texts, planted) = Gen.documents(3, 300, 40, 20, 4, 2)
    assert(planted.flatten.distinct.length == 20 * 4)
    def shingles(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    def jaccard(a: String, b: String) = {
      val (x, y) = (shingles(a), shingles(b))
      (x intersect y).size.toDouble / (x union y).size
    }
    planted.foreach { ms =>
      ms.tail.foreach(m => assert(jaccard(texts(ms.head), texts(m)) >= 0.6))
    }
    val unplanted = (0 until 300).filterNot(planted.flatten.toSet)
    assert(jaccard(texts(unplanted(0)), texts(unplanted(1))) < 0.1)
  }

  test("exact nearest rows and the next distance") {
    val corpus = Array(Array(0f, 0f), Array(1f, 0f), Array(3f, 0f), Array(0f, 2f))
    val (near, next) = Truth.nearest(corpus, Array(0f, 0f), 2)
    assert(near.map(_._1).toSeq == Seq(0L, 1L))
    assert(next == 2.0)
    val (live, _) = Truth.nearest(corpus, Array(0f, 0f), 2, i => i != 1)
    assert(live.map(_._1).toSeq == Seq(0L, 3L))
  }
}
