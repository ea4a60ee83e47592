package vcbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, size, sum, typedlit}

import scala.collection.mutable

import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import graft.plans.AnnCatalog

/** Single SQL queries against a clustered corpus registered with an IVF
  * index, alternating top-k (`ORDER BY vec_l2 LIMIT 10`) and a sphere
  * filter holding 0.1% of the rows. Per-query fixed cost (Catalyst
  * planning, the planner's candidate jobs, job launch) dominates; the
  * index scan is small. */
final class Point extends Workload {
  val N = 20000
  val Dim = 64
  val Lists = 64
  val K = 10
  /** Rows inside each range query's sphere: 0.1% of the corpus. */
  val InRange: Int = N / 1000
  /** Untimed requests before the loop. The engine keeps getting faster
    * for dozens of requests (JIT); a longer warm-up would not fit the
    * run's time budget, and every run warms up alike. */
  val WarmRequests = 12
  val Clusters = 32
  val Appended = 1000
  val Sigma = 0.35

  private var all: Array[Array[Float]] = _
  private var corpus: Array[Array[Float]] = _
  private var idx: IvfIndex = _
  private val buildMs = mutable.ArrayBuffer.empty[Double]
  private var queries: Array[Array[Float]] = _
  private var exact: Array[Array[(Long, Double)]] = _
  private var radius: Array[Double] = _
  private var table: String = _
  /** (request, kind, answer) for the checks after the loop. */
  private val answers = mutable.ArrayBuffer.empty[(Long, String, Array[Row])]

  def prepare(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    // rows past N are held back for the traced run's append
    all = Gen.clustered(ctx.seed, N + Appended, Dim, Clusters, Sigma)
    corpus = all.take(N)
    table = ctx.dir("corpus")
    corpus.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("id", "embedding").repartition(4).write.parquet(table)
    val pool = math.max(256, 40 * ctx.seconds)
    queries = Gen.perturbed(ctx.seed, corpus, pool, 0.05, "point-queries")
    // one exact pass gives both answers: the top-k, and a radius midway
    // between the InRange-th and the next distance, so the sphere holds
    // exactly InRange rows and no row sits on its boundary
    val full = Truth.cached(ctx.truthDir, s"point-${ctx.seed}-$N-$Dim-$Clusters-$Sigma-$pool") {
      Truth.par(pool) { i =>
        val (near, next) = Truth.nearest(corpus, queries(i), InRange)
        near :+ (-1L, next)
      }
    }
    exact = full.map(_.dropRight(1))
    radius = full.map(r => (r(InRange - 1)._2 + r(InRange)._2) / 2)
    ctx.spark.read.parquet(table).createOrReplaceTempView("corpus")
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val t0 = System.nanoTime()
    idx = IvfIndex.build(ctx.spark.read.parquet(table), "id", "embedding", ctx.dir(s"index-$rep"),
      IvfConfig(lists = Lists, kmeansAlgo = "hierarchical"))
    buildMs += (System.nanoTime() - t0) / 1e6
    AnnCatalog.register(table, idx.dir, "id", "embedding")
  }

  def warm(ctx: Ctx): Unit = {
    val m = new Meter
    (0 until WarmRequests).foreach(i => request(ctx, m, -1, queries.length - 1 - i, i % 2 == 0))
  }

  /** Top-k returns the rows' vectors: the planner serves this shape, but
    * not yet one that also selects the distance expression it orders by. */
  private def topkSql(q: Array[Float]): String =
    s"SELECT id, embedding FROM corpus ORDER BY vec_l2(embedding, ${Serve.vec(q)}) LIMIT $K"

  private def rangeSql(q: Array[Float], r: Double): String =
    s"SELECT id, vec_l2(embedding, ${Serve.vec(q)}) AS dist FROM corpus " +
      s"WHERE vec_l2(embedding, ${Serve.vec(q)}) < $r"

  private def request(ctx: Ctx, m: Meter, req: Long, qi: Int, topk: Boolean): Option[Array[Row]] = {
    val kind = if (topk) "topk" else "range"
    m.request(kind) {
      ctx.tracer.span(kind, req) {
        Serve.sql(ctx, m, req, if (topk) topkSql(queries(qi)) else rangeSql(queries(qi), radius(qi)))
      }
    }
  }

  def step(ctx: Ctx, m: Meter, i: Long): Unit = {
    val qi = (i % queries.length).toInt
    val topk = i % 2 == 0
    request(ctx, m, i, qi, topk).foreach { rows =>
      m.items += 1
      answers += ((i, if (topk) "topk" else "range", rows))
    }
  }

  def verify(ctx: Ctx, m: Meter): (Double, Map[String, Double]) = {
    val recalls = answers.filter(a => m.owns(a._1)).map { case (i, kind, raw) =>
      val qi = (i % queries.length).toInt
      val q = queries(qi)
      // top-k rows carry the vector, range rows the engine's distance
      val rows =
        if (kind == "topk") raw.map { r =>
          val v = r.getSeq[Float](1).toArray
          val id = r.getLong(0)
          ctx.checks(id < 0 || id >= N || java.util.Arrays.equals(v, corpus(id.toInt)),
            s"topk request $i returned id $id with a vector that is not its own")
          (id, Truth.l2(v, q))
        }
        else Serve.idDist(raw)
      val ids = rows.map(_._1)
      ctx.checks(ids.distinct.length == ids.length, s"$kind request $i returned duplicate ids")
      rows.foreach { case (id, d) =>
        ctx.checks(id >= 0 && id < N, s"$kind request $i returned id $id, not in the corpus")
        if (id >= 0 && id < N) {
          val want = Truth.l2(corpus(id.toInt), q)
          ctx.checks(math.abs(d - want) <= 1e-4 * math.max(1.0, want),
            s"$kind request $i: id $id distance $d, exact $want")
          if (kind == "range")
            ctx.checks(want < radius(qi), s"range request $i: id $id at $want outside radius ${radius(qi)}")
        }
      }
      if (kind == "topk") {
        ctx.checks(rows.length == K, s"topk request $i returned ${rows.length} rows, not $K")
        ctx.checks(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
          s"topk request $i distances are not ascending")
        (kind, Stats.recallAtK(ids.toSeq, exact(qi).take(K).map(_._1).toSeq))
      } else (kind, Stats.recallAtK(ids.toSeq, exact(qi).map(_._1).toSeq))
    }
    def meanOf(kind: String): Double = {
      val xs = recalls.filter(_._1 == kind).map(_._2)
      if (xs.isEmpty) Double.NaN else xs.sum / xs.length
    }
    val detail = mutable.Map[String, Double](
      "topk_recall" -> meanOf("topk"), "range_recall" -> meanOf("range"))
    Seq("topk", "range").foreach { kind =>
      val lat = m.latencies.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
      if (lat.nonEmpty) {
        detail(s"${kind}_n") = lat.length
        detail(s"${kind}_p50_ms") = Stats.median(lat)
        Stats.tailPercentile(lat.length).filter(_ > 50).foreach { p =>
          detail(f"${kind}_p$p%.0f_ms") = Stats.percentile(lat, p)
        }
      }
    }
    (if (recalls.isEmpty) Double.NaN else recalls.map(_._2).sum / recalls.length, detail.toMap)
  }

  def layers(ctx: Ctx, m: Meter): Map[String, Double] = {
    val st = new SpanStats(ctx.tracer)
    // vec_l2 over a cached copy of the corpus, less the same scan summing
    // array sizes: the expression's own cost per row
    val copies = 10
    val cached = Seq.fill(copies)(ctx.spark.read.parquet(table)).reduce(_ union _).cache()
    cached.count()
    val q = typedlit(queries(0).toSeq)
    def scanMs(c: org.apache.spark.sql.Column): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      cached.agg(sum(c)).collect()
      (System.nanoTime() - t0) / 1e6
    })
    val perRow = math.max(0.0, scanMs(GraftFunctions.vecL2(col("embedding"), q)) -
      scanMs(size(col("embedding")))) * 1e6 / (copies.toLong * N)
    cached.unpersist()
    st.sqlLayers(m.resultRows) ++ Map(
      "plans.served_frac" -> m.served.toDouble / math.max(1L, m.sqlRequests),
      "index.build_ms" -> Stats.median(buildMs.toSeq),
      "functions.vec_l2_ns_per_row" -> perRow) ++
      Probes.maintenance(ctx, idx, all, N, queries)
  }
}
