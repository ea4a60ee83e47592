package vcbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import scala.collection.mutable

import graft.core.RaBitQ
import graft.index.{IvfConfig, IvfIndex, ShardedVamana, VamanaConfig}
import graft.ops.MaxSim
import graft.plans.AnnCatalog

/** Batches of 256 query rows in the SQL KNN-join shape
  * (`row_number() OVER (PARTITION BY qid ORDER BY vec_l2 ...) <= 10`),
  * sent in turn to one corpus served by an IVF index, to a copy of it
  * served by a sharded Vamana graph, and to a multivector corpus served by
  * the MaxSim token index. Scan work (estimates, rerank, beam search,
  * pooled MaxSim retrieval) dominates; planning is amortized over 256
  * queries. */
final class Batch extends Workload {
  val N = 10000
  val Dim = 64
  val Lists = 64
  val K = 10
  val B = 256
  val Shards = 4
  val Docs = 1000
  val TokensPerDoc = 8
  val TokDim = 32
  val QueryTokens = 4
  val TokLists = 32
  val Tiers: Seq[String] = Seq("ivf", "graph", "maxsim")

  private var corpus: Array[Array[Float]] = _
  private var docs: Array[Array[Array[Float]]] = _
  private var batches: Array[Array[Array[Float]]] = _
  private var tokenBatches: Array[Array[Array[Array[Float]]]] = _
  private var exact: Array[Array[(Long, Double)]] = _
  private var exactMaxsim: Array[Array[(Long, Double)]] = _
  private var ivf: IvfIndex = _
  private var graph: ShardedVamana.Handle = _
  private var tokens: IvfIndex = _
  private val answers = mutable.ArrayBuffer.empty[(Long, Int, Array[Row])]

  private def rounds: Int = batches.length

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Gen.clustered(ctx.seed, N, Dim, clusters = 32, sigma = 0.35, purpose = "batch-corpus")
    corpus.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("id", "embedding").repartition(4).write.parquet(ctx.dir("corpus-ivf"))
    // the graph serves its own copy: a table registered with both tiers
    // would be served by IVF first
    Files.createDirectories(Paths.get(ctx.dir("corpus-graph")))
    Files.list(Paths.get(ctx.dir("corpus-ivf"))).forEach(f =>
      Files.copy(f, Paths.get(ctx.dir("corpus-graph")).resolve(f.getFileName)))
    Seq("ivf", "graph").foreach { t =>
      spark.read.parquet(ctx.dir(s"corpus-$t")).createOrReplaceTempView(s"corpus_$t")
    }
    docs = Gen.multivector(ctx.seed, Docs, TokensPerDoc, TokDim, topics = 32, sigma = 0.3)
    docs.iterator.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toSeq
      .toDF("doc", "tokens").repartition(4).write.parquet(ctx.dir("docs"))
    spark.read.parquet(ctx.dir("docs")).createOrReplaceTempView("docs")
    docs.iterator.zipWithIndex.flatMap { case (d, i) => d.indices.map(p => (i.toLong, p, d(p))) }
      .toSeq.toDF("doc", "pos", "v").repartition(4).write.parquet(ctx.dir("tokens"))
    val nRounds = math.max(2, ctx.seconds / 3)
    batches = Array.tabulate(nRounds)(r => Gen.perturbed(ctx.seed, corpus, B, 0.05, s"batch-$r"))
    tokenBatches = Array.tabulate(nRounds)(r =>
      Gen.tokenQueries(ctx.seed, docs, B, QueryTokens, 0.05, s"tokens-$r"))
    batches.indices.foreach { r =>
      batches(r).iterator.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toSeq
        .toDF("qid", "center").createOrReplaceTempView(s"queries_$r")
      tokenBatches(r).iterator.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toSeq
        .toDF("qid", "qtokens").createOrReplaceTempView(s"token_queries_$r")
    }
    val key = s"$N-$Dim-$Docs-$TokensPerDoc-$TokDim-$QueryTokens-$nRounds"
    exact = Truth.cached(ctx.truthDir, s"batch-l2-${ctx.seed}-$key") {
      Truth.par(nRounds * B)(j => Truth.nearest(corpus, batches(j / B)(j % B), K)._1)
    }
    exactMaxsim = Truth.cached(ctx.truthDir, s"batch-maxsim-${ctx.seed}-$key") {
      Truth.par(nRounds * B) { j =>
        val q = tokenBatches(j / B)(j % B)
        docs.indices.map(d => (Truth.maxsim(docs(d), q), d.toLong)).sorted.take(K)
          .map { case (s, d) => (d, s) }.toArray
      }
    }
  }

  /** The three tiers build at once, as independent CREATE INDEX
    * statements would: each build is mostly driver-side and job-launch
    * time, which run side by side. */
  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val graphDir = ctx.dir(s"graph-$rep")
    val builds = Seq(
      () => ivf = IvfIndex.build(spark.read.parquet(ctx.dir("corpus-ivf")), "id", "embedding",
        ctx.dir(s"ivf-$rep"), IvfConfig(lists = Lists, kmeansAlgo = "hierarchical")),
      () => ShardedVamana.build(spark.read.parquet(ctx.dir("corpus-graph")), "id", "embedding",
        graphDir, VamanaConfig(), shards = Shards),
      () => tokens = MaxSim.buildTokenIndex(spark.read.parquet(ctx.dir("tokens")), "doc", "pos", "v",
        ctx.dir(s"tokens-$rep"), IvfConfig(metric = "negdot", lists = TokLists)))
    Truth.par(builds.length)(i => builds(i)())
    AnnCatalog.register(ctx.dir("corpus-ivf"), ivf.dir, "id", "embedding")
    AnnCatalog.registerShardedGraph(ctx.dir("corpus-graph"), graphDir, "id", "embedding")
    graph = AnnCatalog.shardedGraph(spark, AnnCatalog.ShardedGraphEntry(graphDir, "id", "embedding"))
    AnnCatalog.registerMaxSim(ctx.dir("docs"), tokens.dir, "doc", "tokens")
  }

  private def sql(tier: Int, round: Int): String =
    if (Tiers(tier) == "maxsim")
      s"""SELECT qid, doc, score, rn FROM (
         |  SELECT q.qid, e.doc, vec_maxsim(e.tokens, q.qtokens) AS score,
         |         row_number() OVER (PARTITION BY q.qid
         |           ORDER BY vec_maxsim(e.tokens, q.qtokens), e.doc) AS rn
         |  FROM token_queries_$round q JOIN docs e
         |) WHERE rn <= $K""".stripMargin
    else
      s"""SELECT qid, id, dist, rn FROM (
         |  SELECT q.qid, e.id, vec_l2(e.embedding, q.center) AS dist,
         |         row_number() OVER (PARTITION BY q.qid
         |           ORDER BY vec_l2(e.embedding, q.center), e.id) AS rn
         |  FROM queries_$round q JOIN corpus_${Tiers(tier)} e
         |) WHERE rn <= $K""".stripMargin

  def warm(ctx: Ctx): Unit = {
    val m = new Meter
    Tiers.indices.foreach(t => m.request(Tiers(t))(Serve.sql(ctx, m, -1, sql(t, rounds - 1))))
  }

  def step(ctx: Ctx, m: Meter, i: Long): Unit = {
    val tier = (i % Tiers.length).toInt
    val round = ((i / Tiers.length) % rounds).toInt
    m.request(Tiers(tier)) {
      ctx.tracer.span(Tiers(tier), i)(Serve.sql(ctx, m, i, sql(tier, round)))
    }.foreach { rows =>
      m.items += B
      answers += ((i, tier, rows))
    }
    // the traced run also times the tier's public batch call on the same
    // queries, outside the request
    if (ctx.tracer.on) m.probe {
      val qs = batches(round).zipWithIndex.map { case (q, j) => (j.toLong, q) }
      Tiers(tier) match {
        case "ivf" => ctx.tracer.span("index.searchMany", i) {
          ivf.searchMany(qs, K, probes = math.ceil(math.sqrt(Lists.toDouble)).toInt).collect()
        }
        case "graph" => ctx.tracer.span("index.graphSearch", i)(graph.search(ctx.spark, qs, K).collect())
        case _ => ctx.tracer.span("ops.maxsim", i) {
          MaxSim.maxsimManyMulti(Seq(tokens),
            tokenBatches(round).zipWithIndex.map { case (q, j) => (j.toLong, q) }, K,
            probes = Seq(math.ceil(math.sqrt(TokLists.toDouble)).toInt)).collect()
        }
      }
    }
  }

  def verify(ctx: Ctx, m: Meter): (Double, Map[String, Double]) = {
    val recalls = Tiers.indices.map(t => t -> mutable.ArrayBuffer.empty[Double]).toMap
    answers.filter(a => m.owns(a._1)).foreach { case (i, tier, rows) =>
      val round = ((i / Tiers.length) % rounds).toInt
      val byQuery = rows.groupBy(_.getLong(0))
      ctx.checks(byQuery.keySet == (0L until B).toSet,
        s"${Tiers(tier)} batch $i answered ${byQuery.size} of $B queries")
      byQuery.foreach { case (qid, rs) =>
        val sorted = rs.sortBy(_.getInt(3))
        val ids = sorted.map(_.getLong(1))
        val what = s"${Tiers(tier)} batch $i query $qid"
        ctx.checks(sorted.map(_.getInt(3)).toSeq == (1 to K), s"$what: ranks are not 1..$K")
        ctx.checks(ids.distinct.length == ids.length, s"$what: duplicate ids")
        ctx.checks(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
          s"$what: distances are not ascending")
        val j = (round * B + qid).toInt
        sorted.foreach { r =>
          val id = r.getLong(1)
          val known = id >= 0 && id < (if (Tiers(tier) == "maxsim") Docs else N)
          ctx.checks(known, s"$what: unknown id $id")
          if (known) {
            val want =
              if (Tiers(tier) == "maxsim") Truth.maxsim(docs(id.toInt), tokenBatches(round)(qid.toInt))
              else Truth.l2(corpus(id.toInt), batches(round)(qid.toInt))
            ctx.checks(math.abs(r.getDouble(2) - want) <= 1e-4 * math.max(1.0, math.abs(want)),
              s"$what: id $id distance ${r.getDouble(2)}, exact $want")
          }
        }
        val truth = if (Tiers(tier) == "maxsim") exactMaxsim(j) else exact(j)
        recalls(tier) += Stats.recallAtK(ids.toSeq, truth.map(_._1).toSeq)
      }
    }
    val detail = mutable.Map.empty[String, Double]
    Tiers.indices.foreach { t =>
      val rs = recalls(t)
      if (rs.nonEmpty) detail(s"${Tiers(t)}_recall_at_10") = rs.sum / rs.length
      m.latencies.get(Tiers(t)).filter(_.nonEmpty).foreach { lat =>
        detail(s"${Tiers(t)}_batch_qps") = B / (Stats.median(lat.toSeq) / 1000)
        detail(s"${Tiers(t)}_batches") = lat.length
      }
    }
    val tierRecalls = Tiers.indices.flatMap(t => detail.get(s"${Tiers(t)}_recall_at_10"))
    (if (tierRecalls.length < Tiers.length) Double.NaN else tierRecalls.min, detail.toMap)
  }

  def layers(ctx: Ctx, m: Meter): Map[String, Double] = {
    val st = new SpanStats(ctx.tracer)
    val sample = corpus.take(5000)
    val q = batches(0)(0)
    val codes = sample.map(RaBitQ.quantize(_, 8))
    st.sqlLayers(m.resultRows) ++ Map(
      "plans.served_frac" -> m.served.toDouble / math.max(1L, m.sqlRequests),
      "index.searchmany_ms" -> st.meanMs("index.searchMany"),
      "index.graph_search_ms" -> st.meanMs("index.graphSearch"),
      "ops.maxsim_ms" -> st.meanMs("ops.maxsim"),
      "index.bytes_read_per_query" ->
        st.sum("index.searchMany")(_.bytesRead).toDouble / math.max(1, st.count("index.searchMany") * B),
      "index.shuffle_bytes_per_batch" -> st.sumPer("index.searchMany")(_.shuffleWriteBytes),
      "core.estimate_ns_per_code" -> Kernels.estimateNsPerCode(codes, q),
      "core.l2_ns_per_pair" -> Kernels.l2NsPerPair(sample, q),
      "core.bytes_per_estimate" -> Kernels.bytesPerEstimate(codes(0))) ++
      Probes.dedup(ctx)
  }
}
