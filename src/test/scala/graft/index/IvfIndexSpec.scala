package graft.index

import graft.SparkSpec
import graft.core.{VectorKernels => K}
import java.nio.file.Files

/**
 * Mirrors the reference's index build+query sqllogictests (reference:
 * tests/vchordrq/index.slt — 1000 random dim-3 rows, lists=[33], top-10
 * per metric; recall.slt — recall == 1 with enough probes).
 */
class IvfIndexSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ivf-test").toString

  private lazy val rows: Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(42)
    (0L until 1000L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
  }

  private def brute(q: Array[Float], k: Int): Seq[Long] =
    rows.map { case (id, v) => (K.l2(v.toArray, q), id) }.sorted.take(k).map(_._2)

  test("searchExact equals brute force") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val q = Array.fill(12)(0.2f)
    val got = idx.searchExact(q, 10).select("id").as[Long].collect().toSeq
    assert(got == brute(q, 10))
  }

  test("rangeSearch returns exactly the rows inside the sphere (strategy 2)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, residual = true))
    val q = Array.fill(12)(0.2f)
    Seq(0.9, 1.2, 1.6).foreach { radius =>
      val got = idx.rangeSearch(q, radius)
        .select("id", "dist").as[(Long, Double)].collect()
      val want = rows.map { case (id, v) => (id, K.l2(v.toArray, q)) }
        .filter(_._2 < radius).sortBy { case (id, d) => (d, id) }
      assert(got.map(_._1).toSeq == want.map(_._1), s"radius $radius")
      got.zip(want).foreach { case ((_, gd), (_, wd)) =>
        assert(gd == wd, s"radius $radius: exact distances expected") }
    }
    // empty sphere
    assert(idx.rangeSearch(Array.fill(12)(40f), 0.5).count() == 0)
    // rerank-in-table matches rerank-in-index
    val viaTable = idx.rangeSearch(q, 1.2, rerankTable = Some((df, "id", "vec")))
      .select("id").as[Long].collect().toSeq
    assert(viaTable ==
      idx.rangeSearch(q, 1.2).select("id").as[Long].collect().toSeq)
    // LOW-SELECTIVITY sphere (survivors >> maxInList): the candidate set
    // must never be collected to the driver — the plan delegates to the
    // distributed join shape (a Join over the candidate frame, no id IN
    // list) and still returns the exact sphere contents
    val d0 = IvfIndex.rangeDelegations.get()
    // scanFallbackFrac = 2: keep the JOIN shape observable even though a
    // radius-100 sphere keeps every row (the no-prune fallback below
    // would otherwise take over, by design)
    val wide = idx.rangeSearch(q, 100.0, maxInList = 10, scanFallbackFrac = 2.0)
    assert(IvfIndex.rangeDelegations.get() == d0 + 1,
      "expected the distributed-candidate delegation")
    val plan = wide.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), s"expected candidate join shape:\n$plan")
    val wideGot = wide.select("id").as[Long].collect().toSeq
    val wideWant = rows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .filter(_._1 < 100.0).sortBy(w => (w._1, w._2)).map(_._2)
    assert(wideGot == wideWant, "delegated path must equal brute force")
    // same delegation through rerank-in-table
    val wideTbl = idx.rangeSearch(q, 100.0, rerankTable = Some((df, "id", "vec")),
        maxInList = 10, scanFallbackFrac = 2.0).select("id").as[Long].collect().toSeq
    assert(wideTbl == wideWant, "delegated rerank-in-table path")
    // NO-PRUNE FALLBACK (default threshold): the same all-keeping sphere
    // abandons the candidate join for a straight exact scan — no Join in
    // the plan, identical rows, counter observable
    val f0 = IvfIndex.rangeScanFallbacks.get()
    val flat = idx.rangeSearch(q, 100.0, maxInList = 10)
    assert(IvfIndex.rangeScanFallbacks.get() == f0 + 1,
      "expected the no-prune scan fallback")
    assert(!flat.queryExecution.optimizedPlan.toString.contains("Join"),
      s"fallback must not join:\n${flat.queryExecution.optimizedPlan}")
    assert(flat.select("id").as[Long].collect().toSeq == wideWant,
      "fallback path must equal brute force")
    // fallback through rerank-in-table too
    val f1 = IvfIndex.rangeScanFallbacks.get()
    val flatTbl = idx.rangeSearch(q, 100.0, rerankTable = Some((df, "id", "vec")),
        maxInList = 10).select("id").as[Long].collect().toSeq
    assert(IvfIndex.rangeScanFallbacks.get() == f1 + 1)
    assert(flatTbl == wideWant, "fallback rerank-in-table path")
  }

  test("cappedDistinct detects overflow exactly; rangeSearch delegates " +
       "exactly when the sphere's candidates pass maxInList") {
    import spark.implicits._
    // every id sits in two of the four partitions
    val ids = spark.sparkContext
      .parallelize((0L until 40L).flatMap(i => Seq(i, (i + 7) % 40)), 4)
    Seq(40, 100).foreach { cap =>
      assert(IvfIndex.cappedDistinct(ids, cap).sorted.toSeq == (0L until 40L), s"cap $cap")
    }
    Seq(1, 5, 17, 39).foreach { cap =>
      val got = IvfIndex.cappedDistinct(ids, cap)
      assert(got.length == cap + 1 && got.distinct.length == cap + 1 &&
        got.forall(i => i >= 0 && i < 40), s"cap $cap: ${got.toSeq}")
    }
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val q = Array.fill(12)(0.2f)
    val radius = 1.6
    val n = idx.rangeCandidateIds(q, radius, 1.9, 1 << 20).length
    assert(n > 1, s"fixture sphere too small: $n candidates")
    val want = rows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .filter(_._1 < radius).sorted.map(_._2)
    Seq(n -> 0, (n - 1) -> 1).foreach { case (maxIn, delegated) =>
      val d0 = IvfIndex.rangeDelegations.get()
      val got = idx.rangeSearch(q, radius, maxInList = maxIn, scanFallbackFrac = 2.0)
        .select("id").as[Long].collect().toSeq
      assert(IvfIndex.rangeDelegations.get() == d0 + delegated, s"maxInList $maxIn of $n")
      assert(got == want, s"maxInList $maxIn of $n")
    }
  }

  test("rangeSearch radius <= 0 returns empty without launching estimate jobs") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    Seq(0.0, -1.5).foreach { r =>
      val out = idx.rangeSearch(Array.fill(12)(0.2f), r)
      assert(out.count() == 0, s"radius $r must be empty")
      // no cells probed -> every scan folds away: the optimized plan is a
      // constant empty relation, so no estimate/rerank job can launch
      assert(out.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        s"radius $r: expected degenerate plan:\n${out.queryExecution.optimizedPlan}")
    }
    // cosdist radius 0: strict < 0 can never hold either
    val cidx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    assert(cidx.rangeSearch(Array.fill(12)(0.3f), 0.0).count() == 0)
  }

  test("rangeSearch sees delta appends (cell-radius cache invalidation)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val q = Array.fill(12)(0.2f)
    val before = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    // append a row AT the query point: inside every sphere around q
    idx.appendDelta(Seq((5000L, q.toSeq)).toDF("id", "vec"), "id", "vec")
    val after = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    assert(after.contains(5000L), "delta row inside the sphere must appear")
    assert(before.subsetOf(after))
    // and through compaction too
    idx.compact()
    val compacted = idx.rangeSearch(q, 1.0).select("id").as[Long].collect().toSet
    assert(compacted == after)
  }

  test("rangeSearchMany equals per-query rangeSearch (one distributed plan)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, residual = true))
    val queries = Array(
      (10L, Array.fill(12)(0.2f), 1.2),
      (11L, Array.fill(12)(-0.3f), 0.9),
      (12L, Array.fill(12)(0.05f), 1.5),
      (13L, Array.fill(12)(40f), 0.5)) // empty sphere rides the batch too
    val got = idx.rangeSearchMany(queries)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    queries.foreach { case (qid, c, r) =>
      val want = idx.rangeSearch(c, r)
        .select("id", "dist").as[(Long, Double)].collect().toSeq
      assert(got.getOrElse(qid, Seq.empty) == want, s"qid $qid")
    }
    // f16 storage: same equality through the decode path
    val idx16 = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, storage = "f16"))
    val got16 = idx16.rangeSearchMany(queries.take(2))
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    queries.take(2).foreach { case (qid, c, r) =>
      val want = idx16.rangeSearch(c, r)
        .select("id", "dist").as[(Long, Double)].collect().toSeq
      assert(got16.getOrElse(qid, Seq.empty) == want, s"f16 qid $qid")
    }
    // MIXED batch with a no-prune query (radius 100 keeps every row): the
    // wide query takes the direct-scan fallback, the selective ones keep
    // the candidate join — same rows as brute per query either way
    val f0 = IvfIndex.rangeScanFallbacks.get()
    val mixed = queries.take(2) :+ ((99L, Array.fill(12)(0.1f), 100.0))
    val gotMix = idx.rangeSearchMany(mixed)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
    assert(IvfIndex.rangeScanFallbacks.get() == f0 + 1,
      "exactly the wide query falls back to the direct scan")
    mixed.foreach { case (qid, c, r) =>
      val want = rows.map { case (id, v) => (id, K.l2(v.toArray, c)) }
        .filter(_._2 < r).sortBy { case (id, d) => (d, id) }
      assert(gotMix.getOrElse(qid, Seq.empty).map(_._1) == want.map(_._1),
        s"mixed-batch qid $qid")
    }
  }

  test("rangeSearch on a cosdist index applies the cosine cutoff exactly") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 16, metric = "cosdist"))
    val q = Array.fill(12)(0.3f)
    val radius = 0.4
    val got = idx.rangeSearch(q, radius).select("id").as[(Long)].collect().toSet
    val want = rows.map { case (id, v) => (id, K.cosdist(v.toArray, q)) }
      .filter(_._2 < radius).map(_._1).toSet
    assert(got == want && got.nonEmpty, s"got ${got.size} want ${want.size}")
  }

  test("full-probe ANN search has recall 1 (reference recall.slt floor)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val q = Array.fill(12)(-0.3f)
    val r = idx.evaluateRecall(q, 10, probes = 16, refine = 16)
    assert(r == 1.0)
  }

  test("partial-probe ANN recall >= 0.8 at probes=8/16") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val rng = new scala.util.Random(1)
    val recalls = (0 until 5).map { _ =>
      val q = Array.fill(12)(rng.nextFloat() * 2 - 1)
      idx.evaluateRecall(q, 10, probes = 8, refine = 16)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean from $recalls")
  }

  test("non-residual + 4-bit variant still exact under full probe") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, bits = 4, residual = false))
    val q = Array.fill(12)(0.05f)
    assert(idx.evaluateRecall(q, 10, probes = 8, refine = 32) == 1.0)
  }

  test("cosine metric index returns cosdist ordering") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    val q = Array.fill(12)(0.4f)
    val got = idx.searchExact(q, 5).select("id").as[Long].collect().toSeq
    val want = rows.map { case (id, v) =>
      (K.cosdist(v.toArray, q), id)
    }.sorted.take(5).map(_._2)
    // normalized-dot vs raw cosdist orderings agree up to fp ties
    assert(got.toSet.intersect(want.toSet).size >= 4)
  }

  test("load round-trips config and centroids") {
    import spark.implicits._
    val dir = freshDir()
    val df = rows.toDF("id", "vec")
    IvfIndex.build(df, "id", "vec", dir, IvfConfig(lists = 4, bits = 4, residual = false))
    val idx = IvfIndex.load(spark, dir)
    assert(idx.meta.dim == 12)
    assert(idx.meta.cfg.lists == 4 && idx.meta.cfg.bits == 4 && !idx.meta.cfg.residual)
    assert(idx.meta.centroids.length == 4)
  }

  test("estimate scan prunes partitions and the vec column (plan golden)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val probed = idx.probe(Array.fill(12)(0.1f), 2)
    assert(probed.length == 2)
    // the physical scan the estimate phase runs: cluster_id is a partition
    // column (pruned at the source), vec is absent from the read schema
    val scan = idx.dataDf
      .filter(col("cluster_id").isin(probed.map(Integer.valueOf): _*))
      .select("cluster_id", "id", "cmeta", "codes")
    val phys = scan.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters:") && phys.contains("cluster_id"),
      s"expected cluster_id partition pruning:\n$phys")
    val readSchema = phys.split("ReadSchema:")(1).split("\n")(0)
    assert(!readSchema.contains("vec"), s"vec must be pruned from the estimate scan: $readSchema")
  }

  test("invalid configs are rejected at build (options.slt behavior)") {
    import spark.implicits._
    val df = rows.take(10).toDF("id", "vec")
    def bad(cfg: IvfConfig): Unit =
      intercept[IllegalArgumentException](IvfIndex.build(df, "id", "vec", freshDir(), cfg))
    bad(IvfConfig(lists = 0))
    bad(IvfConfig(bits = 5))
    bad(IvfConfig(metric = "cosine")) // the valid name is cosdist
    bad(IvfConfig(storage = "f64"))
    bad(IvfConfig(lists = 4, lists1 = 8))
    bad(IvfConfig(kmeansAlgo = "kmeans++"))
  }

  test("null vectors are excluded from the index (issue_427 behavior)") {
    import spark.implicits._
    val withNulls = rows.take(100).map { case (id, v) => (id, Some(v)) } ++
      (100L until 120L).map(i => (i, None: Option[Seq[Float]]))
    val df = withNulls.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 4))
    assert(idx.dataDf.count() == 100)
    val q = Array.fill(12)(0.2f)
    val got = idx.searchExact(q, 5).select("id").as[Long].collect().toSeq
    val want = rows.take(100).map { case (id, v) => (K.l2(v.toArray, q), id) }
      .sorted.take(5).map(_._2)
    assert(got == want)
  }

  test("searchMany equals per-query search (two jobs for the whole batch)") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 16))
    val rng = new scala.util.Random(7)
    val queries = Array.tabulate(8)(i =>
      i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    val batch = idx.searchMany(queries, k = 5, probes = 6, refine = 8)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq).toMap
    queries.foreach { case (qid, q) =>
      val single = idx.search(q, 5, probes = 6, refine = 8)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single, s"batch/single mismatch for query $qid")
    }
  }

  test("searchMany on an f16-storage index matches per-query search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, storage = "f16"))
    val q0 = Array.fill(12)(0.25f)
    val q1 = Array.tabulate(12)(j => (5 - j) * 0.08f)
    val batch = idx.searchMany(Array(0L -> q0, 1L -> q1), k = 5, probes = 8, refine = 20)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq).toMap
    Seq(0L -> q0, 1L -> q1).foreach { case (qid, q) =>
      val single = idx.search(q, 5, probes = 8, refine = 20)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single)
    }
  }

  test("searchMany rerank-in-table matches per-query rerank-in-table search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val q0 = Array.fill(12)(0.1f)
    val q1 = Array.tabulate(12)(j => (j - 4) * 0.07f)
    val batch = idx.searchMany(Array(0L -> q0, 1L -> q1), k = 5, probes = 8,
        refine = 20, rerankTable = Some((df, "id", "vec")))
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq).toMap
    Seq(0L -> q0, 1L -> q1).foreach { case (qid, q) =>
      val single = idx.search(q, 5, probes = 8, refine = 20,
          rerankTable = Some((df, "id", "vec")))
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single)
    }
  }

  test("searchMany on a cosdist index matches per-query search") {
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(),
      IvfConfig(lists = 8, metric = "cosdist"))
    val q0 = Array.fill(12)(0.3f)
    val q1 = Array.tabulate(12)(j => (j - 6) * 0.1f)
    val batch = idx.searchMany(Array(0L -> q0, 1L -> q1), k = 5, probes = 8, refine = 20)
      .select("qid", "id", "dist").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq).toMap
    Seq(0L -> q0, 1L -> q1).foreach { case (qid, q) =>
      val single = idx.search(q, 5, probes = 8, refine = 20)
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) == single)
    }
  }

  test("candidate pools past the parquet IN-pushdown cap (1000) do not " +
       "crash the scan and stay exact") {
    // regression: parquet evaluates a pushed IN value set as a left-deep
    // or-chain whose recursive visitor overflows the task stack past
    // ~1-2k values (measured in-session: 1024 ok, 2048 SOE). A refine
    // pool bigger than the cap must fall back to min/max-range push +
    // the exact Catalyst filter, not crash.
    import spark.implicits._
    val bigRows = {
      val rng = new scala.util.Random(7)
      (0L until 2500L).map(i => i -> Seq.fill(12)(rng.nextFloat() * 2 - 1))
    }
    val df = bigRows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 4))
    val q = Array.fill(12)(0.15f)
    // k*refine = 2400 candidate ids — above inPushdownCap, below the
    // table size; rerank-in-index AND rerank-in-table both exercise the
    // capped isin fetch
    val want = bigRows.map { case (id, v) => (K.l2(v.toArray, q), id) }
      .sorted.take(12).map(_._2)
    val got = idx.search(q, 12, probes = 4, refine = 200)
      .select("id").as[Long].collect().toSeq
    assert(got == want, "rerank-in-index over a >cap pool")
    val gotRt = idx.search(q, 12, probes = 4, refine = 200,
        rerankTable = Some((df, "id", "vec")))
      .select("id").as[Long].collect().toSeq
    assert(gotRt == want, "rerank-in-table over a >cap pool")
    assert(IvfIndex.inPushdownCap <= 1024,
      "cap must stay below the measured parquet or-chain SOE point")
  }

  test("searchMany: executor-side heap merge (forced via " +
       "graft.ann.flat.directCollectMax=0) returns EXACTLY the direct " +
       "fold's rows") {
    // r18: the est phase's per-query top-nCand fold replaced the
    // row_number window; this pins the fold's two paths against each
    // other (same contract as the multiEstimatePools spec below)
    import spark.implicits._
    val df = rows.toDF("id", "vec")
    val idx = IvfIndex.build(df, "id", "vec", freshDir(), IvfConfig(lists = 8))
    val rng = new scala.util.Random(11)
    val queries = Array.tabulate(5)(i =>
      i.toLong -> Array.fill(12)(rng.nextFloat() * 2 - 1))
    def run(): Seq[(Long, Long, Double, Long)] =
      idx.searchMany(queries, k = 5, probes = 6, refine = 8)
        .as[(Long, Long, Double, Long)].collect().toSeq
        .sortBy(t => (t._1, t._4))
    val direct = run()
    spark.conf.set("graft.ann.flat.directCollectMax", "0")
    val merged =
      try run()
      finally spark.conf.unset("graft.ann.flat.directCollectMax")
    assert(merged == direct)
    assert(direct.nonEmpty)
  }

  test("multiEstimatePools: executor-side heap merge (forced via " +
       "graft.ann.flat.directCollectMax=0) returns EXACTLY the direct " +
       "collect's per-(root, query) pools") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val idxs = (0 to 1).map { r =>
      val part = (0L until 300L).map(i =>
        (r * 1000L + i, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
      IvfIndex.build(part.toDF("id", "vec"), "id", "vec", freshDir(),
        IvfConfig(lists = 4))
    }
    val queries = Array(Array.fill(8)(0.1f), Array.fill(8)(-0.2f),
      Array.fill(8)(0.3f))
    def pools(): Set[(Int, Int, Long, Double)] =
      IvfIndex.multiEstimatePools(idxs, queries, nCand = 20,
        probes = Seq(4, 4), epsilon = 1.9).toSet
    val direct = pools()
    spark.conf.set("graft.ann.flat.directCollectMax", "0")
    val merged =
      try pools()
      finally spark.conf.unset("graft.ann.flat.directCollectMax")
    assert(merged == direct,
      s"merge path diverged: only-direct=${(direct -- merged).take(5)} " +
      s"only-merged=${(merged -- direct).take(5)}")
    assert(direct.nonEmpty &&
      direct.groupBy(t => (t._1, t._2)).forall(_._2.size <= 20))
  }

  test("gen+delta double rows (append-without-delete) fold to ONE id at " +
       "its best distance in search and searchMany") {
    import spark.implicits._
    val rng = new scala.util.Random(73)
    val base = (0L until 120L).map(i => (i, Seq.fill(8)(rng.nextFloat())))
    val idx = IvfIndex.build(base.toDF("id", "vec"), "id", "vec",
      freshDir(), IvfConfig(lists = 2))
    // re-append id 11 with a far vector; its ORIGINAL row stays nearest
    idx.appendDelta(Seq((11L, Seq.fill(8)(5.0f))).toDF("id", "vec"),
      "id", "vec")
    val q = base.find(_._1 == 11L).get._2.toArray
    val single = idx.search(q, 5, probes = 2, refine = 50)
      .select("id", "dist").as[(Long, Double)].collect()
    assert(single.map(_._1).distinct.length == single.length,
      s"search emitted a duplicate id: ${single.toSeq}")
    assert(single.head._1 == 11L && single.head._2 < 1e-6,
      s"id 11 must rank by its ORIGINAL row: ${single.toSeq}")
    val batch = idx.searchMany(Array(0L -> q), 5, probes = 2, refine = 50)
      .select("id", "dist").as[(Long, Double)].collect()
    assert(batch.map(_._1).distinct.length == batch.length &&
      batch.head._1 == 11L && batch.head._2 < 1e-6,
      s"searchMany must fold the double row too: ${batch.toSeq}")
  }
}
