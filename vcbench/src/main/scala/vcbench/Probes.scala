package vcbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.index.{IvfConfig, IvfIndex}
import graft.kmeans.KMeans
import graft.ops.Dedup

/** Layer probes a traced run makes after its loop, for layers no
  * workload's requests reach: the index write path and `ops.Dedup`. Each
  * call is spanned and its answers checked like a request's. */
object Probes {

  /** (files, bytes) under an index directory. */
  def diskUse(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val sizes = s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).toArray
      (sizes.length.toLong, sizes.sum)
    } finally s.close()
  }

  /** appendDelta, delete, compact on `idx`, a top-k read after each; the
    * reads must never return a deleted id. `rows` holds every vector by
    * id: the indexed ones, then `fresh` more to append. */
  def maintenance(ctx: Ctx, idx: IvfIndex, rows: Array[Array[Float]], indexed: Int,
                  queries: Array[Array[Float]]): Map[String, Double] = {
    import ctx.spark.implicits._
    val k = 10
    val probes = math.ceil(math.sqrt(idx.meta.cfg.lists.toDouble)).toInt
    val fresh: DataFrame = (indexed until rows.length).map(i => (i.toLong, rows(i))).toDF("id", "embedding")
    val r = Rng(ctx.seed, "maintenance-deletes")
    val deleted = Iterator.continually(r.nextInt(indexed).toLong).distinct.take(indexed / 100).toSet
    def read(after: String, live: Long => Boolean): Unit =
      queries.take(3).zipWithIndex.foreach { case (q, i) =>
        val got = ctx.tracer.span("index.read", i)(idx.search(q, k, probes).collect()).map(_.getLong(0))
        ctx.checks(got.length == k && got.forall(live), s"read after $after returned ids that are not live")
      }
    ctx.tracer.span("index.append", 0)(idx.appendDelta(fresh, "id", "embedding"))
    read("append", id => id >= 0 && id < rows.length)
    ctx.tracer.span("index.delete", 0)(idx.delete(deleted.toSeq))
    read("delete", id => id >= 0 && id < rows.length && !deleted(id))
    ctx.tracer.span("index.compact", 0)(idx.compact())
    read("compact", id => id >= 0 && id < rows.length && !deleted(id))
    ctx.checks(idx.rowCount == rows.length - deleted.size,
      s"index holds ${idx.rowCount} rows after maintenance, ${rows.length - deleted.size} are live")
    val st = new SpanStats(ctx.tracer)
    val (files, bytes) = diskUse(idx.dir)
    // a sample the size of the one IvfIndex.build clusters
    val sample = rows.take(math.min(indexed, idx.meta.cfg.lists * IvfConfig().samplingFactor))
    val t0 = System.nanoTime()
    KMeans.hierarchical(sample, idx.meta.cfg.lists, IvfConfig().kmeansIters)
    Map(
      "index.append_ms" -> st.meanMs("index.append"),
      "index.delete_ms" -> st.meanMs("index.delete"),
      "index.compact_ms" -> st.meanMs("index.compact"),
      "index.files" -> files.toDouble,
      "index.bytes_on_disk" -> bytes.toDouble,
      "kmeans.fit_ms" -> (System.nanoTime() - t0) / 1e6,
      "core.quantize_ns_per_vec" -> Kernels.quantizeNsPerVec(rows.take(5000)))
  }

  /** Dedup.pipeline with minhashDedup pairs over documents holding planted
    * near-duplicate clusters; the pairs are materialized on their own so
    * each stage has its span. */
  def dedup(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = 2000
    val (texts, planted) = Gen.documents(ctx.seed, docs, words = 40, clusters = 100, clusterSize = 4, edits = 2)
    texts.iterator.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("id", "text").repartition(4).write.parquet(ctx.dir("docs-dedup"))
    val input = spark.read.parquet(ctx.dir("docs-dedup"))
    var pairCount = 0L
    val pipe = ctx.tracer.span("ops.pipeline", 0) {
      Dedup.pipeline(input, "id", d => {
        val p = Dedup.minhashDedup(d, "id", "text", 0.5).select("da", "db").persist()
        pairCount = ctx.tracer.span("ops.dedup_pairs", 0)(p.count())
        p
      })
    }
    try {
      val cleaned = ctx.tracer.span("ops.dedupe", 0)(pipe.cleaned.select("id").as[Long].collect())
      val labels = pipe.labels.select("id", "rep").as[(Long, Long)].collect().toMap
      ctx.checks(cleaned.forall(id => id >= 0 && id < docs) && cleaned.distinct.length == cleaned.length,
        "dedup kept ids outside the input, or one id twice")
      ctx.checks(cleaned.length == docs - labels.count { case (id, r) => id != r },
        "dedup kept a document labelled a duplicate, or dropped one that was not")
      val recall = Stats.pairRecall(planted.toSeq, id => labels.getOrElse(id, id))
      ctx.checks(recall >= 0.9, s"dedup found $recall of the planted near-duplicate pairs")
    } finally pipe.unpersist()
    val st = new SpanStats(ctx.tracer)
    Map(
      "ops.dedup_pairs_ms" -> st.meanMs("ops.dedup_pairs"),
      "ops.dedup_pairs" -> pairCount.toDouble,
      // the pipeline span holds the pairs span; its self time is the
      // connected-components labelling
      "ops.components_ms" -> st.selfMs("ops.pipeline"),
      "ops.dedupe_ms" -> st.meanMs("ops.dedupe"))
  }
}
