package graft.index

import graft.SparkSpec
import graft.core.{Half, Rotation, VectorKernels => K}
import java.nio.file.Files

/**
 * The fused estimate+rerank pass of `search`/`searchMany` against a
 * plain-Scala TWO-PHASE reference on delta-free indexes: phase 1 is the
 * index's top-nCand estimate frame by (lb, id) (`estimateCandidates`, a
 * separate Catalyst path), phase 2 scores those candidates' stored
 * vectors against the prepped query and keeps the top k by (dist, id).
 * Every metric meets every code width, f16 storage and rotation.
 */
class FusedSearchParitySpec extends SparkSpec {

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(91)
    (0L until 800L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
  }

  private val queries: Array[(Long, Array[Float])] = {
    val rng = new scala.util.Random(92)
    Array.tabulate(4)(i => i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
  }

  /** (metric, storage, bits, rotate): each metric sees every bit width,
    * f16 storage and rotation at least once. */
  private val configs = Seq(
    ("l2", "f32", 1, false), ("l2", "f16", 4, false), ("l2", "f32", 8, true),
    ("cosdist", "f32", 4, false), ("cosdist", "f16", 8, false), ("cosdist", "f32", 1, true),
    ("negdot", "f32", 8, false), ("negdot", "f16", 1, false), ("negdot", "f32", 4, true))

  private def build(metric: String, storage: String, bits: Int, rotate: Boolean): IvfIndex = {
    import spark.implicits._
    IvfIndex.build(rows.toDF("id", "vec"), "id", "vec",
      Files.createTempDirectory("graft-fused-parity").toString,
      IvfConfig(lists = 8, metric = metric, storage = storage, bits = bits, rotate = rotate))
  }

  /** Stored-space exact distance: the query prepped the way the index
    * stores vectors (normalize for cosine, then rotate). */
  private def exactFn(idx: IvfIndex, q: Array[Float]): Array[Float] => Double = {
    val cfg = idx.meta.cfg
    val pre = if (cfg.metric == "cosdist") K.normalize(q) else q
    val qq = if (cfg.rotate) new Rotation(idx.meta.origDim)(pre) else pre
    cfg.metric match {
      case "l2"      => v => K.l2(v, qq)
      case "negdot"  => v => K.negdot(v, qq)
      case "cosdist" => v => 1.0 + K.negdot(v, qq)
    }
  }

  private def storedVecs(idx: IvfIndex): Map[Long, Array[Float]] = {
    import spark.implicits._
    if (idx.meta.cfg.storage == "f16")
      idx.dataDf.select("id", "vec").as[(Long, Array[Byte])].collect()
        .map { case (id, b) => id -> Half.decodeBytes(b) }.toMap
    else idx.dataDf.select("id", "vec").as[(Long, Array[Float])].collect().toMap
  }

  /** Phase 1: the top-nCand (id, lb) pool in (lb, id) order. */
  private def pool(idx: IvfIndex, q: Array[Float], nCand: Int, probes: Int,
                   epsilon: Double): Seq[(Long, Double)] = {
    import spark.implicits._
    idx.estimateCandidates(q, nCand, probes, epsilon).as[(Long, Double)].collect().toSeq
  }

  private val (k, probes, refine) = (6, 4, 4)

  test("fused search and searchMany equal the two-phase reference " +
       "(l2/cosdist/negdot x f32/f16 x bits 1/4/8, rotate on)") {
    configs.foreach { case cfg @ (metric, storage, bits, rotate) =>
      val idx = build(metric, storage, bits, rotate)
      val vecs = storedVecs(idx)
      val want = queries.map { case (qid, q) =>
        val exact = exactFn(idx, q)
        qid -> pool(idx, q, k * refine, probes, 1.9)
          .map { case (id, _) => (exact(vecs(id)), id) }
          .sorted.take(k).map { case (d, id) => (id, d) }
      }.toMap
      import spark.implicits._
      val batch = idx.searchMany(queries, k, probes = probes, refine = refine)
        .select("qid", "id", "dist", "rn").as[(Long, Long, Double, Long)].collect()
      queries.foreach { case (qid, q) =>
        val got = batch.filter(_._1 == qid).sortBy(_._4).map(r => (r._2, r._3)).toSeq
        assert(got == want(qid), s"$cfg query $qid: searchMany $got want ${want(qid)}")
        val single = idx.search(q, k, probes = probes, refine = refine)
          .as[(Long, Double)].collect().toSeq
        assert(single == want(qid), s"$cfg query $qid: search $single want ${want(qid)}")
      }
    }
  }

  test("exactBudget keeps its pre-fusion rows: the first budget candidates " +
       "by estimate are exact, the rest keep their estimate, 0 is pure " +
       "estimate") {
    import spark.implicits._
    Seq(("l2", "f32", 4, false), ("cosdist", "f16", 8, true)).foreach {
      case cfg @ (metric, storage, bits, rotate) =>
        val idx = build(metric, storage, bits, rotate)
        val vecs = storedVecs(idx)
        Seq(0, 2, k).foreach { budget =>
          val got = idx.searchMany(queries, k, probes = probes, epsilon = 0.0,
              exactBudget = budget)
            .as[(Long, Long, Double, Long)].collect()
          queries.foreach { case (qid, q) =>
            val exact = exactFn(idx, q)
            val est = pool(idx, q, k, probes, 0.0)
            val want =
              if (budget == 0) est
              else est.zipWithIndex.map { case ((id, lb), i) =>
                (if (i < budget) exact(vecs(id)) else lb, id)
              }.sorted.map { case (d, id) => (id, d) }
            val out = got.filter(_._1 == qid).sortBy(_._4).map(r => (r._2, r._3)).toSeq
            assert(out == want, s"$cfg budget $budget query $qid: got $out want $want")
          }
        }
    }
  }
}
