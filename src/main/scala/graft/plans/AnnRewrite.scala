package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{VecCosDistExpr, VecL2Expr, VecMaxSimExpr, VecNegDotExpr}
import graft.index.IvfIndex

/**
 * The `CREATE INDEX` planner integration (SURVEY §4.1 row 1 / build plan
 * M7): the reference's Postgres planner matches `ORDER BY embedding <op> q
 * LIMIT k` to a vchordrq opclass and plans an index scan (reference:
 * opclasses sql/install/vchord--1.1.1.sql:1138-1228, pushdown goldens
 * tests/vchordrq/pushdown_plan.slt). Here the same contract is a Catalyst
 * optimizer rule:
 *
 *     GlobalLimit k (Sort [vec_l2|vec_cosdist|vec_negdot(col, q) ASC]
 *       ([Project] [Filter pred] relation))
 *
 * over a Parquet relation registered in [[AnnCatalog]] becomes
 *
 *     GlobalLimit k (Sort [...] (Filter id IN (<ANN candidates>) child))
 *
 * The index supplies candidate row ids (probe -> estimate -> rerank); the
 * IN filter pushes down to the Parquet scan, so the full-table sort
 * collapses to a k-row sort over fetched candidates. An index serves only
 * its own metric (one opclass per operator, like the reference).
 *
 * Three planner behaviors mirror the reference's access-method glue:
 *
 *  - COST (reference `amcostestimate`, src/index/vchordrq/am/mod.rs:
 *    270-385): the rewrite is taken only when the estimated index work
 *    (code-only scan of the probed fraction + exact rerank of k*refine
 *    rows) undercuts the exact full scan. `probes = auto` sizes the probe
 *    budget as ceil(sqrt(lists)) (the GUC's reloption fallback role,
 *    src/index/gucs.rs:114-133). Kill switch: graft.ann.cost.enable.
 *
 *  - PREFILTER (reference `vchordrq.prefilter`, scanners/default.rs:
 *    178-224): a deterministic Filter between the Sort and the relation no
 *    longer disables the rewrite — candidates are fetched, the filter's
 *    survivor count is checked, and the probe/refine budget escalates
 *    (x4 per round, like re-scanning with a larger budget) until k
 *    survivors exist or the candidate set provably covers the table —
 *    at which point the plan is exact. Non-deterministic predicates
 *    conservatively keep the original plan.
 *
 *  - KILL SWITCH `graft.ann.enable=false` = `vchordrq.enable_scan`
 *    (reference: src/index/gucs.rs:60).
 *
 * Enable per session:
 *   spark.experimental.extraOptimizations ++= Seq(AnnTopKRewrite(spark))
 * or globally with spark.sql.extensions=graft.plans.GraftSparkExtensions.
 */
object AnnCatalog {
  /** `tablePath` kept on the entry so a CODES-ONLY index (storeVectors =
    * false) can fetch rerank vectors from its source table at serve time. */
  final case class Entry(indexDir: String, idCol: String, vecCol: String,
                         tablePath: String = "")

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val indexes = new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]()

  /** Serializes catalog MUTATIONS (register/unregister across the plain,
    * partial, and maxsim maps, and the eviction's check-then-act over all
    * three): without it, a registration for the same indexDir landing
    * between [[maybeEvictIndex]]'s stillUsed scan and its remove would
    * have its freshly memoized instance evicted and its persisted plans
    * dropped. Lookups and serves stay lock-free on the concurrent maps —
    * so an unregister racing an IN-FLIGHT query on the same index can
    * still release that query's cache mid-run (it recomputes, correct but
    * slower); don't unregister an index while queries it serves run. */
  private val mutationLock = new Object

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register: reads of `tablePath` may be served by the index at `indexDir`. */
  def register(tablePath: String, indexDir: String, idCol: String, vecCol: String): Unit =
    mutationLock.synchronized {
      entries.put(norm(tablePath), Entry(indexDir, idCol, vecCol, tablePath))
      coverCache.clear() // catalog changed: every cached cover decision is stale
    }

  def unregister(tablePath: String): Unit = mutationLock.synchronized {
    val old = entries.remove(norm(tablePath))
    coverCache.clear()
    if (old != null) maybeEvictIndex(old.indexDir)
  }

  /** Evict the memoized IvfIndex for `indexDir` unless another live
    * registration (plain, partial, or maxsim — they share the instance
    * cache) still references it, releasing its persisted plans: a
    * prewarm-persisted dataDf is pinned by Spark's CacheManager until
    * explicitly unpersisted, so dropping only the catalog entry would
    * leak the executor-memory copy for every dropped index forever.
    * Callers hold [[mutationLock]] — the stillUsed scan plus the remove
    * must be atomic against concurrent registrations of the same dir. */
  private def maybeEvictIndex(indexDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val stillUsed =
      entries.values.asScala.exists(_.indexDir == indexDir) ||
      partials.values.asScala.exists(_.exists(_.entry.indexDir == indexDir)) ||
      msEntries.values.asScala.exists(_.indexDir == indexDir)
    if (!stillUsed)
      Option(indexes.remove(indexDir)).foreach(_.release())
  }

  /** An entry may serve a relation only when it covers EVERY root:
    * first-match semantics on a multi-root read would silently restrict
    * the scan to one root's candidates and drop the other roots' rows
    * from the top-k (distinct per-root entries are the [[lookupAll]] /
    * union-serve case instead). */
  private def covering[T](rootPaths: Seq[String], get: String => T): Option[T] = {
    val vs = rootPaths.map(norm).map(p => Option(get(p)))
    if (vs.nonEmpty && vs.forall(_.isDefined)) {
      val d = vs.flatten.distinct
      if (d.size == 1) Some(d.head) else None
    } else None
  }

  def lookup(rootPaths: Seq[String]): Option[Entry] =
    covering(rootPaths, entries.get)

  /** Multi-root relation (`spark.read.parquet(rootA, rootB)` over a
    * manually-partitioned table): every root resolves to its own entry.
    * None unless EVERY root is registered — serving a subset would
    * silently drop the unindexed roots' rows from the result. */
  def lookupAll(rootPaths: Seq[String]): Option[Seq[Entry]] = {
    val es = rootPaths.map(p => Option(entries.get(norm(p))))
    if (es.nonEmpty && es.forall(_.isDefined)) Some(es.flatten.distinct)
    else None
  }

  /** Partitioned-table serving under ONE discovered root (a `tableDir`
    * whose `part=*` children each carry their own index, the reference's
    * per-partition indexes — tests/vchordrq/partition.slt:1-35): Some
    * iff every FILE the scan would read lies under a registered child
    * path, i.e. the per-child indexes jointly cover the whole scan.
    *
    * Only entries STRICTLY BELOW one of the scan's root paths are
    * considered: an entry above the root (an index registered for the
    * whole table while the scan reads one child dir) indexes MORE rows
    * than the scan — its global top-k is not the subset's top-k, so
    * "covering" through it would silently drop rows.
    *
    * This runs at plan time for every unserved ANN-shaped query, so it
    * must NOT be O(files x entries) per plan (a 100k-file covered table
    * would pay the full walk on every query). Two reductions: (1) files
    * in one leaf directory share their covering decision, so the prefix
    * match runs once per distinct PARENT DIRECTORY — O(partitions), not
    * O(files); (2) per-directory decisions are memoized across plans in
    * [[coverCache]], invalidated wholesale on any register/unregister
    * (cheap: re-deciding a directory is one prefix scan). Appends add
    * files to EXISTING partition dirs or new dirs — cached dirs stay
    * valid, new dirs get decided and cached on first sight. */
  def coverByFiles(rootPaths: Seq[String], files: => Seq[String]): Option[Seq[Entry]] =
    coverByFilesIn(rootPaths, files, entries, coverCache)

  /** [[coverByFiles]] generalized over an entry map + decision cache (the
    * same machinery serves the MaxSim catalog). */
  private def coverByFilesIn[E <: AnyRef](rootPaths: Seq[String], files: => Seq[String],
      all: java.util.concurrent.ConcurrentHashMap[String, E],
      cache: java.util.concurrent.ConcurrentHashMap[String, Option[E]]): Option[Seq[E]] = {
    import scala.jdk.CollectionConverters._
    if (all.isEmpty) return None
    val rootPrefixes = rootPaths.map(p => norm(p) + "/")
    val rootsKey = rootPrefixes.sorted.mkString("|")
    val regs = all.asScala.toSeq.collect {
      case (p, e) if rootPrefixes.exists(r => (p + "/").startsWith(r)) =>
        (p + "/", e)
    }
    // the registered-entry gate runs BEFORE `files` is forced: the
    // common unserved case (an ANN-shaped query over a table with no
    // child registrations at all) must not pay the O(files) inputFiles
    // materialization the caller passes by name — at 50k-file tables
    // that array build is the only per-plan cost that scales with the
    // table, and it buys nothing when no entry sits under the roots
    if (regs.isEmpty) return None
    val fileSeq = files
    if (fileSeq.isEmpty) return None
    val out = scala.collection.mutable.LinkedHashSet.empty[E]
    val seenDirs = scala.collection.mutable.HashSet.empty[String]
    val it = fileSeq.iterator
    while (it.hasNext) {
      val f = it.next()
      // dedupe on the RAW dir substring before normalizing: norm builds
      // a Hadoop Path + URI per call (~1 us), and paying it per FILE was
      // the walk's dominant term at 50k files (~50 ms/plan measured);
      // per distinct DIR it is O(partitions)
      val rawCut = f.lastIndexOf('/')
      val rawDir = if (rawCut >= 0) f.substring(0, rawCut) else f
      if (seenDirs.add(rawDir)) { // each distinct leaf dir decided once per plan
        val dir = norm(rawDir) + "/"
        val key = rootsKey + "|#|" + dir
        var dec = cache.get(key)
        if (dec == null) {
          dec = regs.find { case (prefix, _) => dir.startsWith(prefix) }
            .map(_._2)
          cache.put(key, dec)
        }
        dec match {
          case Some(e) => out += e
          case None => return None // first uncovered directory decides
        }
      }
    }
    Some(out.toSeq)
  }

  /** Memoized per-directory cover decisions: key = rootsKey + leaf dir,
    * value = the covering entry (or None = provably uncovered). Cleared on
    * any catalog mutation. Bounded by distinct (roots, partition-dir)
    * pairs actually planned — partitions, not files. */
  private val coverCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Entry]]()

  // ---- PARTIAL (predicate-scoped) indexes — the reference's
  // `CREATE INDEX ... WHERE (category_id = 1)` (partition.slt:40-48):
  // the index covers only rows satisfying the predicate, and may serve
  // only queries whose own predicate implies it ----

  final case class PartialEntry(predicateSql: String, entry: Entry)

  private val partials =
    new java.util.concurrent.ConcurrentHashMap[String, List[PartialEntry]]()

  /** Register a partial index: `indexDir` indexes exactly the rows of
    * `tablePath` satisfying `predicateSql` (caller contract, like
    * [[register]]). A query is served only when its own predicate
    * contains every conjunct of `predicateSql` (semantic equality) —
    * the restricted implication Postgres partial indexes use. */
  def registerPartial(tablePath: String, indexDir: String, idCol: String,
                      vecCol: String, predicateSql: String): Unit =
    mutationLock.synchronized {
      partials.compute(norm(tablePath), (_, cur) =>
        PartialEntry(predicateSql, Entry(indexDir, idCol, vecCol, tablePath)) ::
          (if (cur == null) Nil else cur.filterNot(_.entry.indexDir == indexDir)))
      ()
    }

  def unregisterPartial(tablePath: String, indexDir: String): Unit =
    mutationLock.synchronized {
      partials.computeIfPresent(norm(tablePath),
        (_, cur) => cur.filterNot(_.entry.indexDir == indexDir) match {
          case Nil => null
          case rest => rest
        })
      maybeEvictIndex(indexDir)
    }

  /** Covering semantics like [[lookup]]: every root must resolve to the
    * SAME partial-entry list — a partial index registered on one root of
    * a multi-root read indexes none of the other roots' qualifying rows
    * and must not serve the union. */
  def lookupPartials(rootPaths: Seq[String]): Seq[PartialEntry] =
    covering(rootPaths, partials.get).getOrElse(Nil)

  def index(spark: SparkSession, e: Entry): IvfIndex =
    indexes.computeIfAbsent(e.indexDir, d => IvfIndex.load(spark, d))

  /** Indexed row count (the cost model's N — the reference reads it from
    * pg_class reltuples). Delegates to the index, which re-counts when a
    * generation change or delta append invalidates the cached value. */
  def rowCount(spark: SparkSession, e: Entry): Long = index(spark, e).rowCount

  // ---- graph-index (vchordg) entries: same ORDER BY <-> LIMIT k shape,
  // served by beam search over the broadcast Vamana graph ----

  final case class GraphEntry(graphDir: String, idCol: String, vecCol: String)

  private val gEntries = new java.util.concurrent.ConcurrentHashMap[String, GraphEntry]()
  // dir -> (stamp, graph): a rebuild REPLACES the stale entry (the old
  // driver-resident graph becomes garbage) — a stamp-IN-KEY cache would
  // retain one full graph per rebuild forever, the leak the sharded
  // tier's handle cache already avoids
  private val graphs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, graft.index.VamanaGraph)]()

  def registerGraph(tablePath: String, graphDir: String, idCol: String, vecCol: String): Unit = {
    gEntries.put(norm(tablePath), GraphEntry(graphDir, idCol, vecCol))
    gCoverCache.clear()
  }

  def unregisterGraph(tablePath: String): Unit = {
    val old = gEntries.remove(norm(tablePath))
    gCoverCache.clear()
    if (old != null) {
      import scala.jdk.CollectionConverters._
      if (!gEntries.values.asScala.exists(_.graphDir == old.graphDir))
        graphs.remove(old.graphDir)
    }
  }

  def lookupGraph(rootPaths: Seq[String]): Option[GraphEntry] =
    covering(rootPaths, gEntries.get)

  /** Multi-root graph lookups (a partitioned corpus with one driver-tier
    * graph per child — the graph-tier analogue of [[lookupAll]] /
    * [[coverByFiles]]): every root, or every scanned child dir, must
    * resolve to its own registered graph. */
  def lookupAllGraphs(rootPaths: Seq[String]): Option[Seq[GraphEntry]] = {
    val es = rootPaths.map(p => Option(gEntries.get(norm(p))))
    if (es.nonEmpty && es.forall(_.isDefined)) Some(es.flatten.distinct)
    else None
  }

  def coverGraphsByFiles(rootPaths: Seq[String],
                         files: => Seq[String]): Option[Seq[GraphEntry]] =
    coverByFilesIn(rootPaths, files, gEntries, gCoverCache)

  private val gCoverCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[GraphEntry]]()

  /** Latest modification stamp under a graph dir — a rebuild+save into the
    * same dir (the deleteAndRebuild vacuum flow) must not be served stale. */
  private def graphStamp(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.mapToLong(f => java.nio.file.Files.getLastModifiedTime(f).toMillis).max().orElse(0L)
      finally s.close()
    }
  }

  def graph(spark: SparkSession, e: GraphEntry): graft.index.VamanaGraph = {
    val stamp = graphStamp(e.graphDir)
    graphs.compute(e.graphDir, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else (stamp, graft.index.VamanaGraph.load(spark, e.graphDir)))._2
  }

  // ---- SHARDED graph entries: the distributed graph tier serves the
  // same ORDER BY <-> LIMIT k shape when the driver-tier graph can't
  // hold the table ----

  final case class ShardedGraphEntry(dir: String, idCol: String, vecCol: String)

  private val sgEntries = new java.util.concurrent.ConcurrentHashMap[String, ShardedGraphEntry]()
  // dir -> (stamp, handle): a rebuild EVICTS and unpersists the stale
  // handle (it holds executor memory via its persisted RDD — a stamp-keyed
  // cache would leak one resident graph per rebuild)
  private val sgHandles =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, graft.index.ShardedVamana.Handle)]()

  def registerShardedGraph(tablePath: String, dir: String, idCol: String, vecCol: String): Unit =
    sgEntries.put(norm(tablePath), ShardedGraphEntry(dir, idCol, vecCol))

  def unregisterShardedGraph(tablePath: String): Unit = {
    val old = sgEntries.remove(norm(tablePath))
    if (old != null) {
      import scala.jdk.CollectionConverters._
      if (!sgEntries.values.asScala.exists(_.dir == old.dir))
        Option(sgHandles.remove(old.dir)).foreach(_._2.unpersist())
    }
  }

  def lookupShardedGraph(rootPaths: Seq[String]): Option[ShardedGraphEntry] =
    covering(rootPaths, sgEntries.get)

  def shardedGraph(spark: SparkSession, e: ShardedGraphEntry): graft.index.ShardedVamana.Handle = {
    val stamp = graphStamp(e.dir)
    sgHandles.compute(e.dir, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else {
        if (cur != null) cur._2.unpersist()
        (stamp, graft.index.ShardedVamana.load(spark, e.dir))
      })._2
  }

  // ---- multi-vector (MaxSim, reference opclass strategy 3) entries ----

  final case class MaxSimEntry(indexDir: String, docCol: String, tokensCol: String)

  private val msEntries = new java.util.concurrent.ConcurrentHashMap[String, MaxSimEntry]()

  /** Register: `tablePath` rows are (docCol, tokensCol: array<array<float>>)
    * documents whose exploded tokens were indexed (MaxSim.buildTokenIndex)
    * at `indexDir`. */
  def registerMaxSim(tablePath: String, indexDir: String,
                     docCol: String, tokensCol: String): Unit =
    mutationLock.synchronized {
      msEntries.put(norm(tablePath), MaxSimEntry(indexDir, docCol, tokensCol))
      msCoverCache.clear()
    }

  def unregisterMaxSim(tablePath: String): Unit = mutationLock.synchronized {
    val old = msEntries.remove(norm(tablePath))
    if (old != null) maybeEvictIndex(old.indexDir)
    msCoverCache.clear()
  }

  def lookupMaxSim(rootPaths: Seq[String]): Option[MaxSimEntry] =
    covering(rootPaths, msEntries.get)

  /** Multi-root MaxSim lookups (the partitioned multivector corpus,
    * strategy-3 analogue of [[lookupAll]] / [[coverByFiles]]): every
    * root — or every scanned child dir — must resolve to its own
    * registered per-child token index. */
  def lookupAllMaxSim(rootPaths: Seq[String]): Option[Seq[MaxSimEntry]] = {
    val es = rootPaths.map(p => Option(msEntries.get(norm(p))))
    if (es.nonEmpty && es.forall(_.isDefined)) Some(es.flatten.distinct)
    else None
  }

  def coverMaxSimByFiles(rootPaths: Seq[String],
                         files: => Seq[String]): Option[Seq[MaxSimEntry]] =
    coverByFilesIn(rootPaths, files, msEntries, msCoverCache)

  private val msCoverCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[MaxSimEntry]]()

  def maxSimIndex(spark: SparkSession, e: MaxSimEntry): IvfIndex =
    indexes.computeIfAbsent(e.indexDir, d => IvfIndex.load(spark, d))

  /** Shared resolution for the served batch entry points: the corpus's
    * file relation + root paths (the exact inputs the planner's serves
    * resolve registrations from). */
  private def resolveFs(spark: SparkSession, tablePath: String,
      face: String): HadoopFsRelation =
    spark.read.parquet(tablePath).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalArgumentException(
      s"$face: '$tablePath' did not resolve to a file-backed relation"))

  /** Bounded queries-side collect for the served entry points: the cap
    * is LOUD (the batch collects to the driver, the join-serve policy). */
  private def boundedRows(df: org.apache.spark.sql.DataFrame, maxQ: Int,
      face: String, conf: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxQ + 1).collect()
    require(rows.length <= maxQ,
      s"$face: queries table exceeds $maxQ rows ($conf) — the batch " +
      "collects to the driver; split it or raise the conf")
    rows
  }

  private def probesFor(spark: SparkSession, lists: Int): Int =
    spark.conf.get("graft.ann.probes", "auto") match {
      case "auto" => math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
      case s      => s.toInt
    }

  /** "SQL in, batch out" (round 15): answer a bounded queries TABLE of
    * spheres over a REGISTERED corpus through the batched range face.
    * The corpus resolves EXACTLY as the planner's range serves do — one
    * covering entry, explicit multi-root registrations, or the
    * per-child cover of every file the scan would read — then the whole
    * batch runs through [[IvfIndex.rangeSearchManyMulti]]: constant job
    * count in queries x roots, two-tier survivor delivery, per-query
    * scan fallback — the >maxInList regime the planner's IN rewrite
    * (`serveRangeJoin`) deliberately declines. Unregistered corpora and
    * oversized query tables refuse LOUDLY (the queries side must be
    * bounded: it collects to the driver, like the join serve's cap).
    * Rows with a null qid/center/radius match nothing (the join-serve
    * null contract) and are dropped. Output: (qid, id, dist).
    *
    * TIER CONTRACT (round 17): IVF registrations resolve first and are
    * the COMPLETE tier — every row inside the sphere is returned (the
    * ε-bounded estimate pass is a superset filter, the exact cutoff
    * runs over it). GRAPH and SHARDED-GRAPH registrations now serve
    * range too, with the reference's own strategy-2 semantics
    * (sql/install/vchord--1.1.1.sql:1230-1290; beam +
    * `take_while(dist < radius)` at
    * src/index/vchordg/scanners/default.rs:108-110,912-913): the beam
    * is BEST-EFFORT — an in-sphere vertex reachable only through
    * out-of-sphere hops beyond `graft.ann.efSearch` can be missed, and
    * the result is exact only at saturating ef. Callers needing the
    * completeness guarantee should register (or add) a codes-only IVF
    * index for the corpus — the guarantee is structural there, not a
    * budget. Quantized graph tiers rerank exactly from the corpus
    * table, so returned distances are always exact and strictly inside
    * the radius on every tier. */
  def servedRangeMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      centerCol: String, radiusCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val fsRel = resolveFs(spark, tablePath, "servedRangeMany")
    val roots = fsRel.location.rootPaths.map(_.toString)
    lazy val files = fsRel.location.inputFiles.toSeq
    val esOpt = lookup(roots).map(Seq(_))
      .orElse(lookupAll(roots))
      .orElse(coverByFiles(roots, files))
    val gesOpt =
      if (esOpt.isDefined) None
      else lookupGraph(roots).map(Seq(_))
        .orElse(lookupAllGraphs(roots).filter(_.size > 1))
        .orElse(coverGraphsByFiles(roots, files))
    val seOpt =
      if (esOpt.isDefined || gesOpt.isDefined) None
      else lookupShardedGraph(roots)
    if (esOpt.isEmpty && gesOpt.isEmpty && seOpt.isEmpty)
      throw new IllegalArgumentException(
        s"servedRangeMany: no registered index, graph, or sharded graph " +
        s"covers '$tablePath' — register the table (or every partition " +
        "child) with AnnCatalog.register / registerGraph / " +
        "registerShardedGraph first; unregistered corpora have the exact " +
        "DSL (IvfIndex.rangeSearch*) instead of a silent full scan")
    val maxQ = spark.conf.get("graft.ann.range.served.maxQueries", "4096").toInt
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(centerCol).cast("array<float>"), col(radiusCol).cast("double")),
      maxQ, "servedRangeMany", "graft.ann.range.served.maxQueries")
    val queries = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist")
    }
    val eps = spark.conf.get("graft.ann.epsilon", "1.9").toDouble
    val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
    esOpt match {
      case Some(es) =>
        val idxs = es.map(e => index(spark, e))
        // codes-only children rerank from their registered source table —
        // expressible only when every entry shares ONE table (the
        // per-child entries of a partitioned corpus each point at their
        // own child)
        val rt =
          if (idxs.forall(_.meta.cfg.storeVectors)) None
          else es.map(_.tablePath).filter(_.nonEmpty).distinct match {
            case Seq(tp) => Some((spark.read.parquet(tp), es.head.idCol, es.head.vecCol))
            case _ => None // rangeSearchManyMulti refuses loudly below
          }
        IvfIndex.rangeSearchManyMulti(idxs, queries, eps, rt)
      case None => gesOpt match {
        case Some(ges) =>
          val gs = ges.map(ge => graph(spark, ge))
          val rt =
            if (gs.exists(_.quantized))
              Some((spark.read.parquet(tablePath),
                ges.head.idCol, ges.head.vecCol))
            else None
          graft.index.VamanaGraph.rangeSearchManyMulti(spark, gs, queries,
            ef = ef, epsilon = eps, rerankTable = rt)
        case None =>
          val se = seOpt.get
          val h = shardedGraph(spark, se)
          val rt =
            if (h.cfg.bits > 0)
              Some((spark.read.parquet(tablePath), se.idCol, se.vecCol))
            else None
          h.rangeSearch(spark, queries, ef = ef, epsilon = eps,
            rerankTable = rt)
      }
    }
  }

  /** The TOP-K sibling of [[servedRangeMany]]: a bounded queries table
    * of (qid, center) rows over a REGISTERED corpus. The corpus resolves
    * across ALL the access tiers the planner's KNN-join serve routes —
    * IVF registrations first (single, explicit multi-root, or per-child
    * cover) through [[IvfIndex.searchManyMulti]] (two flat jobs however
    * many queries and roots), then driver-resident GRAPH registrations
    * through [[graft.index.VamanaGraph.searchManyMulti]], then the
    * SHARDED distributed graph through its resident-RDD search (round
    * 16 — tier parity with the KNN-join serve). Quantized graph tiers
    * rerank exactly from the corpus table itself. Probe/refine/ef
    * budgets come from the session confs the planner serves use
    * (`graft.ann.probes` / `graft.ann.refine` / `graft.ann.efSearch`).
    * Null rows are dropped; unregistered corpora and oversized query
    * tables refuse loudly. Output: (qid, id, dist, rn) — the
    * searchMany contract. The SQL-shape route to the same faces is the
    * planner's KNN-join serve (`serveKnnJoin`); this is the DSL door
    * for callers holding a queries DataFrame. */
  def servedSearchMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      centerCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val fsRel = resolveFs(spark, tablePath, "servedSearchMany")
    val roots = fsRel.location.rootPaths.map(_.toString)
    lazy val files = fsRel.location.inputFiles.toSeq
    val esOpt = lookup(roots).map(Seq(_))
      .orElse(lookupAll(roots))
      .orElse(coverByFiles(roots, files))
    val gesOpt =
      if (esOpt.isDefined) None
      else lookupGraph(roots).map(Seq(_))
        .orElse(lookupAllGraphs(roots).filter(_.size > 1))
        .orElse(coverGraphsByFiles(roots, files))
    val seOpt =
      if (esOpt.isDefined || gesOpt.isDefined) None
      else lookupShardedGraph(roots)
    if (esOpt.isEmpty && gesOpt.isEmpty && seOpt.isEmpty)
      throw new IllegalArgumentException(
        s"servedSearchMany: no registered index, graph, or sharded graph " +
        s"covers '$tablePath' — register the table (or every partition " +
        "child) with AnnCatalog.register / registerGraph / " +
        "registerShardedGraph first")
    val maxQ = spark.conf.get("graft.ann.knn.served.maxQueries", "4096").toInt
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(centerCol).cast("array<float>")),
      maxQ, "servedSearchMany", "graft.ann.knn.served.maxQueries")
    val queries = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)].toDF("qid", "id", "dist", "rn")
    }
    val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
    esOpt match {
      case Some(es) =>
        val idxs = es.map(e => index(spark, e))
        val probes = idxs.map(ix => probesFor(spark, ix.meta.cfg.lists)).max
        val refine = spark.conf.get("graft.ann.refine", "8").toInt
        val rt =
          if (idxs.forall(_.meta.cfg.storeVectors)) None
          else es.map(_.tablePath).filter(_.nonEmpty).distinct match {
            case Seq(tp) => Some((spark.read.parquet(tp), es.head.idCol, es.head.vecCol))
            case _ => None // searchManyMulti refuses loudly below
          }
        IvfIndex.searchManyMulti(idxs, queries, k, probes = probes,
          refine = refine, rerankTable = rt)
      case None => gesOpt match {
        case Some(ges) =>
          val gs = ges.map(ge => graph(spark, ge))
          val rt =
            if (gs.exists(_.quantized))
              Some((spark.read.parquet(tablePath),
                ges.head.idCol, ges.head.vecCol))
            else None
          graft.index.VamanaGraph.searchManyMulti(spark, gs, queries, k,
            ef = ef, rerankTable = rt)
        case None =>
          val se = seOpt.get
          val h = shardedGraph(spark, se)
          val rt =
            if (h.cfg.bits > 0)
              Some((spark.read.parquet(tablePath), se.idCol, se.vecCol))
            else None
          h.search(spark, queries, k, ef = ef, rerankTable = rt)
      }
    }
  }

  /** The MULTIVECTOR sibling (strategy 3): a bounded queries table of
    * (qid, tokens: array<array<float>>) documents over a REGISTERED
    * multivector corpus, answered by [[graft.ops.MaxSim.maxsimManyMulti]]
    * (one pooled retrieval + one exact rescore for the whole batch).
    * Codes-only or storage-mixed token children rescore from the
    * registered corpus itself (its doc/tokens columns explode into the
    * rerank token table). Output: (qid, doc, maxsim). */
  def servedMaxsimMany(spark: SparkSession, tablePath: String,
      queriesDf: org.apache.spark.sql.DataFrame, qidCol: String,
      tokensCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    val fsRel = resolveFs(spark, tablePath, "servedMaxsimMany")
    val roots = fsRel.location.rootPaths.map(_.toString)
    val es = lookupMaxSim(roots).map(Seq(_))
      .orElse(lookupAllMaxSim(roots))
      .orElse(coverMaxSimByFiles(roots, fsRel.location.inputFiles.toSeq))
      .getOrElse(throw new IllegalArgumentException(
        s"servedMaxsimMany: no registered token index covers '$tablePath' " +
        "— register the corpus (or every partition child) with " +
        "AnnCatalog.registerMaxSim first"))
    val idxs = es.map(e => maxSimIndex(spark, e))
    val maxQ = spark.conf.get("graft.ann.maxsim.served.maxQueries", "1024").toInt
    val rows = boundedRows(queriesDf.select(col(qidCol).cast("long"),
        col(tokensCol).cast("array<array<float>>")),
      maxQ, "servedMaxsimMany", "graft.ann.maxsim.served.maxQueries")
    val queries: Array[(Long, Array[Array[Float]])] = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0),
        r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray))
      .filter(_._2.nonEmpty)
      .toArray
    if (queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("qid", "doc", "maxsim")
    }
    val kPerToken = spark.conf.get("graft.ann.maxsim.kPerToken", "100").toInt
    val refine = spark.conf.get("graft.ann.refine", "8").toInt
    val probes = idxs.map(ix => probesFor(spark, ix.meta.cfg.lists))
    val h = idxs.head
    // codes-only / storage-mixed children: the rerank token table is the
    // registered corpus itself, exploded to one row per token
    val rt =
      if (idxs.forall(ix => ix.meta.cfg.storeVectors &&
          ix.meta.cfg.storage == h.meta.cfg.storage)) None
      else Some((spark.read.parquet(tablePath)
        .select(col(es.head.docCol), explode(col(es.head.tokensCol)).as("__tok")),
        es.head.docCol, "__tok"))
    graft.ops.MaxSim.maxsimManyMulti(idxs, queries, k, kPerToken = kPerToken,
      probes = probes, refine = refine, rerankTable = rt)
  }
}

/** The serve/decline COST FORMULAS, extracted pure so the BOUNDARY —
  * the smallest corpus at which each tier's gate flips to serve — is
  * spec-pinned instead of assumed (round-16 verdict, What's wrong #2;
  * `CostGateBoundarySpec`). Units are "rows touched per query row", the
  * reference's amcostestimate shape: every gate compares the index
  * path's work against the exact scan of all nTotal rows, and in the
  * JOIN routes the query-row count multiplies both sides, so it
  * cancels — the single-query and batch gates are the SAME formulas.
  * True = serve. */
private[plans] object CostGates {
  /** Per-root IVF work: the probed fraction of the corpus scanned as
    * codes (0.3 discount — code rows are far narrower than exact rows),
    * the bounded rerank fetch, and a small per-list descent term. */
  def ivfRootCost(rowCount: Long, lists: Int, probes: Int, k: Int,
      refine: Int): Double =
    rowCount.toDouble * probes / lists * 0.3 +
      math.min(k.toDouble * refine, rowCount.toDouble) +
      lists.toDouble * 0.01

  /** IVF serve gate (single-query serve and KNN-join route):
    * roots = (rowCount, lists, probes) per registered root. */
  def ivf(roots: Seq[(Long, Int, Int)], k: Int, refine: Int): Boolean =
    roots.map { case (n, lists, probes) =>
      ivfRootCost(n, lists, probes, k, refine)
    }.sum < roots.map(_._1).sum.toDouble

  /** Graph-tier gate (single serve, multi serve, and join route): the
    * summed ef-bounded beams plus the k-row fetch vs the exact scan. */
  def graph(nGraphs: Int, sumVertices: Long, ef: Int, k: Int): Boolean =
    nGraphs.toDouble * ef + k < sumVertices.toDouble

  /** Sharded-graph gate: per-shard beams vs the exact scan. */
  def sharded(shards: Int, totalVertices: Long, ef: Int, k: Int): Boolean =
    shards.toDouble * ef + k < totalVertices.toDouble

  /** Planning-time RECALL hint (round 17): true when the rerank pool
    * (k x refine) is far below a mean cluster's occupancy — the regime
    * where the KnnJoinAnchor measured recall as refine-limited (0.93 ->
    * 0.98 going refine 16 -> 64 on 1M rows / 64 lists). The serve still
    * runs; the hint points the operator at the knob BEFORE the recall
    * report does. The /8 keeps toy fixtures (hundreds of rows) quiet. */
  def refineLimited(rowCount: Long, lists: Int, k: Int, refine: Int): Boolean =
    lists > 0 && k.toDouble * refine < rowCount.toDouble / lists / 8

  /** MaxSim gate (single serve and join route): per query token, the
    * probed code scan plus the kPerToken pool, plus the doc-level exact
    * rescore, vs the exact maxsim scan (nTotal docs x qn tokens). */
  def maxsim(roots: Seq[(Long, Int, Int)], meanTokens: Double,
      kPerToken: Int, k: Int, refine: Int): Boolean = {
    val nTotal = roots.map(_._1).sum.toDouble
    val costIdx = roots.map { case (n, lists, probes) =>
      meanTokens * (n.toDouble * probes / lists * 0.3 + kPerToken)
    }.sum + k.toDouble * refine * 32
    costIdx < nTotal * meanTokens
  }
}

object AnnTopKRewrite {
  /** Spark jobs launched DURING PLANNING (prefilter escalation only):
    * each pool fetch and each survivor count is a bounded driver-blocking
    * job inside the optimizer rule — the Spark analogue of the
    * reference's scan-time escalation, which likewise does index work
    * before returning rows. Observable so operators can tell "slow
    * planning" apart from "slow execution"; reset is test-only. */
  val planningJobs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Stamped on every Filter this rule produces. Provenance the fixpoint
    * checks EXPLICITLY instead of inferring it from an In-over-id-column
    * conjunct: a legitimate user predicate `id IN (...) AND dist < r`
    * must stay servable, while the rule's own output must never be
    * re-served (Spark preserves tags through withNewChildren/makeCopy, so
    * the stamp survives the optimizer's own rewrites of the node). */
  val ServedFilterTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.ann.served")

  /** True while THIS thread is inside a planning-time helper job (the
    * prefilter survivor counts). The rule no-ops under the guard: a
    * survivor-count plan contains the user's own Filter, and optimizing
    * it would otherwise RE-FIRE the Filter-rooted serve cases (a sphere
    * conjunct re-launching range-candidate jobs once per escalation
    * round) — recursive serving of the planner's own internal queries.
    * ThreadLocal: Catalyst plans the nested query synchronously on the
    * calling thread, so the guard scopes exactly to the helper job. */
  private val inPlanning = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[plans] def planningGuardActive: Boolean = inPlanning.get()

  private[plans] def withPlanningGuard[T](body: => T): T = {
    val prev = inPlanning.get()
    inPlanning.set(java.lang.Boolean.TRUE)
    try body finally inPlanning.set(prev)
  }

  /** The candidate-id restriction over `ids`: an InSet at every size.
    * This rule runs in extraOptimizations — AFTER the main optimizer
    * batches — so OptimizeIn never revisits the Filter it emits. A
    * literal In chain inlines every id into the whole-stage code: each
    * query compiled fresh code, and at thousands of ids the chain blew
    * Janino's 64KB method limit (interpreted fallback, ~10x slower at
    * 1280 ids on a 16-root partitioned serve). InSet over a Long column
    * reads its value set through a reference object, so the generated
    * code is the same for every query and compiles once. Parquet pushdown
    * translates InSet to the same sources.In filter. */
  private[graft] def idsInExpr(attr: Expression, ids: Seq[Long],
                               idLit: Long => Literal): Expression =
    InSet(attr, ids.iterator.map(id => idLit(id).value).toSet)

  /** The TOP-K candidate restriction INCLUDING the exact plan's
    * null-ordering rows: `id IN (...) OR vec IS NULL`. Spark ascending
    * sorts are NULLS FIRST, so an indexed-side row whose vector (or
    * token array) is NULL sits at the TOP of every exact top-k / window
    * partition — but no index ever stores nulls, so a bare id
    * restriction would silently DROP those rows and the served plan
    * would diverge from the exact plan it replaces (round-17 self
    * review; regression-tested in AnnRewriteSpec / KnnJoinServeSpec).
    * COST: ParquetFilters cannot convert IsNull on an array column, so
    * the whole Or stays a post-scan filter — the IN list loses its
    * row-group pruning. `graft.ann.topk.keepNulls` (see
    * `AnnTopKRewrite.keepNullsFor`) restores the bare pushable IN for
    * corpora the operator asserts — or the index attests — null-free.
    * RANGE serves always use
    * the bare id restriction — their retained sphere predicate
    * (`dist < r`) is null-killing, so the exact plan never returns
    * null-vector rows.
    *
    * `keepEmpty` (MAXSIM orderings only): `vec_maxsim([], q)` is 0.0 —
    * a VALUE, not null — so a doc with an EMPTY token array ranks like
    * any scored row in the exact window (ahead of every doc scoring
    * positive) yet contributes no token to the index; the restriction
    * must keep `size(tokens) = 0` rows too or the serve drops them
    * whenever fewer than k candidates score below zero. The SCALAR
    * metrics need no empty keep: their kernels `require` matching
    * dims, so a degenerate vector crashes the exact plan and the
    * served plan identically (parity holds by both failing). */
  private[graft] def topkRestriction(idAttr: Expression, ids: Seq[Long],
      idLit: Long => Literal, vecAttr: Expression,
      keepEmpty: Boolean = false): Expression = {
    val keep =
      if (keepEmpty)
        Or(IsNull(vecAttr), EqualTo(Size(vecAttr, legacySizeOfNull = false),
          Literal(0)))
      else IsNull(vecAttr)
    Or(idsInExpr(idAttr, ids, idLit), keep)
  }

  /** Does an optimized-plan string show the rule's id restriction, in
    * either literal form? The one predicate every plan assert
    * (specs, goldens, probes) should use. */
  def inServed(planStr: String): Boolean =
    planStr.contains(" IN ") || planStr.contains(" INSET ")

  /** Occurrences of the id restriction in a plan string — literal In
    * prints " IN ", the large-set form " INSET " (disjoint substrings).
    * The counting companion of [[inServed]]: asserts that distinguish
    * "user IN only" from "user IN + candidate restriction" count
    * through this, so a new literal form is added HERE once. */
  def candInCount(planStr: String): Int = {
    def c(n: String) =
      planStr.split(java.util.regex.Pattern.quote(n), -1).length - 1
    c(" IN ") + c(" INSET ")
  }
}

case class AnnTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The served plans inject `id IN (candidates)` over the SOURCE table —
    * the pushdown-threshold management (raise to the list size, clamp
    * down past the or-chain-SOE cap) is [[IvfIndex.ensureInPushdown]],
    * shared with the index's own candidate fetches. */
  /** Stamped candidate Filter for the Sort-based TOP-K serves: the id
    * restriction plus the exact plan's null-ordering keep (see
    * [[AnnTopKRewrite.topkRestriction]]). The vec/tokens attribute is
    * recovered from the head sort key's references into `child`; a key
    * with no child reference (cannot happen for the matched distance
    * orderings) degrades to the bare id restriction. A maxsim ordering
    * additionally keeps empty token arrays (see
    * [[AnnTopKRewrite.topkRestriction]]'s `keepEmpty`). `complete` =
    * does the serving tier ATTEST that every source row entered the
    * index (IvfIndex.sourceComplete folded over every resolved root)?
    * Under the default keepNulls=auto an attested-complete corpus keeps
    * the bare parquet-pushable IN — there is nothing to keep. */
  private def topkFilter(sort: Sort, child: LogicalPlan, idAttr: Attribute,
      ids: Seq[Long], idLit: Long => Literal,
      complete: => Boolean = false): Filter = {
    val vecOpt =
      if (!keepNullsFor(complete)) None
      else sort.order.headOption
        .flatMap(_.child.references.find(a => child.outputSet.contains(a)))
    val maxsim = sort.order.headOption
      .exists(_.child.exists(_.isInstanceOf[VecMaxSimExpr]))
    stamped(Filter(vecOpt.map(v =>
        AnnTopKRewrite.topkRestriction(idAttr, ids, idLit, v,
          keepEmpty = maxsim))
      .getOrElse(AnnTopKRewrite.idsInExpr(idAttr, ids, idLit)), child))
  }

  /** `graft.ann.topk.keepNulls` — does a served top-k restrict with the
    * null-keeping `id IN (...) OR vec IS NULL` (so NULL-vector rows rank
    * first exactly as the ASC NULLS FIRST plan they replace would rank
    * them) or the bare parquet-pushable IN?
    *   - `auto` (default): bare IN when EVERY resolved root attests
    *     source completeness (recorded at build by comparing source vs
    *     written counts; IVF: IvfIndex.sourceComplete, tainted by
    *     null-bearing delta appends; graph/sharded:
    *     VamanaGraph/ShardedVamana.sourceComplete, cleared by
    *     insertAll, preserved by vacuum; MAXSIM tiers cannot attest — a
    *     token index never sees empty/null DOCS — and always keep the
    *     Or), the null-keeping Or otherwise. Exact either way; complete
    *     corpora — the overwhelmingly common case — keep row-group
    *     pruning.
    *   - `true`: always the null-keeping Or (the IsNull disjunct on an
    *     array column is not ParquetFilters-convertible, so the whole
    *     Or runs post-scan — candidate row-group pruning is lost).
    *   - `false`: always the bare IN — the operator asserts the corpus
    *     null-free regardless of what the index attests.
    * Range serves are unaffected in every mode (their retained sphere
    * predicate is null-killing). */
  private def keepNullsFor(complete: => Boolean): Boolean =
    spark.conf.get("graft.ann.topk.keepNulls", "auto") match {
      case "false" => false
      case "true"  => true
      case _       => !complete
    }

  private def ensureInPushdown(n: Int): Unit =
    IvfIndex.ensureInPushdown(spark, n)

  /** One distance opclass per operator, like the reference's
    * vector_l2_ops / vector_cosine_ops / vector_ip_ops. */
  private object DistOn {
    def unapply(e: Expression): Option[(String, AttributeReference, ArrayData)] = e match {
      case VecL2Expr(a: AttributeReference, Literal(v: ArrayData, _))      => Some(("l2", a, v))
      case VecCosDistExpr(a: AttributeReference, Literal(v: ArrayData, _)) => Some(("cosdist", a, v))
      case VecNegDotExpr(a: AttributeReference, Literal(v: ArrayData, _))  => Some(("negdot", a, v))
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  private def numLit(v: Any): Option[Double] = v match {
    case d: java.lang.Double  => Some(d)
    case f: java.lang.Float   => Some(f.toDouble)
    case i: java.lang.Integer => Some(i.toDouble)
    case l: java.lang.Long    => Some(l.toDouble)
    case s: java.lang.Short   => Some(s.toDouble)
    case b: java.lang.Byte    => Some(b.toDouble)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  /** Sphere range predicate (reference opclass strategy 2,
    * opclass.rs:145-172): some conjunct is the folded form of
    * `sphereContains` — `dist(attr, center) < radius`. Unrelated conjuncts
    * (including IN over non-id columns) are fine — the serve keeps the
    * whole original predicate; idempotence vs the rule's own output is
    * checked at the use sites against the catalog entry's id column. */
  private object SphereCond {
    def unapply(pred: Expression): Option[(String, AttributeReference, ArrayData, Double)] =
      conjuncts(pred).collectFirst(Function.unlift[Expression,
          (String, AttributeReference, ArrayData, Double)] {
        case LessThan(DistOn(metric, attr, qv), Literal(r, _)) =>
          numLit(r).map(rr => (metric, attr, qv, rr))
        case GreaterThan(Literal(r, _), DistOn(metric, attr, qv)) =>
          numLit(r).map(rr => (metric, attr, qv, rr))
        case _ => None
      })
  }

  /** Distance between a data vector COLUMN and a per-row query COLUMN —
    * the join-condition form of the sphere predicate (`vec_l2(d.vec,
    * q.center) < q.radius`). Either argument order: the metrics are
    * symmetric in their operands (l2/cosdist) or the reference treats the
    * query side uniformly (negdot), so side assignment happens at the
    * join matcher from attribute membership, not argument position. */
  private object DistCols {
    def unapply(e: Expression): Option[(String, AttributeReference, AttributeReference)] = e match {
      case VecL2Expr(a: AttributeReference, b: AttributeReference)      => Some(("l2", a, b))
      case VecCosDistExpr(a: AttributeReference, b: AttributeReference) => Some(("cosdist", a, b))
      case VecNegDotExpr(a: AttributeReference, b: AttributeReference)  => Some(("negdot", a, b))
      case _ => None
    }
  }

  /** Per-row radius: a queries-side column (possibly wrapped in the
    * analyzer's numeric widening Cast) or a plain literal. */
  private object RadiusExpr {
    def unapply(e: Expression): Option[Either[AttributeReference, Double]] = e match {
      case a: AttributeReference if a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        Some(scala.util.Left(a))
      case Cast(a: AttributeReference, _, _, _)
          if a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => Some(scala.util.Left(a))
      case Literal(v, _) => numLit(v).map(scala.util.Right(_))
      case _ => None
    }
  }

  /** True iff the subtree contains a Filter this rule produced (the
    * [[AnnTopKRewrite.ServedFilterTag]] stamp) — the idempotence guard for
    * the fixpoint user batch. Explicit provenance, not inference: a USER
    * predicate `id IN (...) AND dist < r` carries no tag and is served
    * normally. */
  private def isServedPlan(p: LogicalPlan): Boolean =
    p.exists {
      case f: Filter => f.getTagValue(AnnTopKRewrite.ServedFilterTag).contains(true)
      case _ => false
    }

  /** Stamp + return (Filter construction sites below). */
  private def stamped(f: Filter): Filter = {
    f.setTagValue(AnnTopKRewrite.ServedFilterTag, true)
    f
  }

  /** Supported sort children: bare relation, deterministic Project —
    * column pruning, or computed columns such as the distance a top-k
    * selects next to its ORDER BY (`SELECT id, vec_l2(e, q) AS dist ...
    * ORDER BY vec_l2(e, q) LIMIT k`) — deterministic prefilter, or
    * Project over prefilter. A deterministic projection maps each row on
    * its own, so restricting its input rows to the candidates restricts
    * its output the same way. The routes find the vector and id columns
    * BY NAME in the child's output, so a computed column may not reuse a
    * relation column's name: `withColumn("vec", normalize(vec))` or
    * `SELECT id + 1 AS id` would otherwise be served from the index on
    * the raw column. */
  private def destructure(plan: LogicalPlan)
      : Option[(LogicalRelation, Option[Expression])] = {
    def admits(pl: Seq[NamedExpression], r: LogicalRelation): Boolean =
      pl.forall {
        case _: AttributeReference => true
        case e => e.deterministic &&
          !r.output.exists(_.name.equalsIgnoreCase(e.name))
      }
    plan match {
      case r: LogicalRelation => Some((r, None))
      case Project(pl, r: LogicalRelation) if admits(pl, r) => Some((r, None))
      case Filter(pred, r: LogicalRelation) if pred.deterministic => Some((r, Some(pred)))
      case Project(pl, Filter(pred, r: LogicalRelation))
          if admits(pl, r) && pred.deterministic =>
        Some((r, Some(pred)))
      case _ => None
    }
  }

  /** Limit body: the Sort itself, or a deterministic Project over it.
    * Column pruning places the final projection between LocalLimit and
    * Sort for `.orderBy(dist).limit(k).select(cols)` queries; SQL
    * subselects (`SELECT id, round(vec_l2(...),3) AS dist FROM
    * (... ORDER BY vec_l2(...) LIMIT k)`) put COMPUTED columns there, so
    * the project list admits any deterministic expressions — the serve
    * rebuilds the identical projection over the candidate-filtered sort,
    * which stays well-formed because its inputs are the sort's output. */
  private object LimitBody {
    def unapply(p: LogicalPlan): Option[(Option[Seq[NamedExpression]], Sort)] = p match {
      case s: Sort => Some((None, s))
      case Project(pl, s: Sort) if pl.forall(_.deterministic) =>
        Some((Some(pl), s))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (AnnTopKRewrite.planningGuardActive) return plan
    if (!spark.conf.get("graft.ann.enable", "true").toBoolean) return plan
    plan.transformDown {
      case gl @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, LimitBody(projOpt, sort @ Sort(
            Seq(SortOrder(sortExpr, Ascending, _, _)),
            true, child, _)))) if k > 0 =>
        sortExpr match {
          case DistOn(metric, attr, qv) =>
            (for {
              (rel, predOpt) <- destructure(child)
              fsRel <- rel.relation match {
                case h: HadoopFsRelation => Some(h)
                case _ => None
              }
              roots = fsRel.location.rootPaths.map(_.toString)
              served <- {
                val viaIvf = for {
                  entry <- AnnCatalog.lookup(roots)
                  if attr.name == entry.vecCol
                  idAttr <- child.output.find(_.name == entry.idCol)
                  // IDEMPOTENCE: the user batch runs to fixpoint, so the
                  // rule sees its own output — every serve stamps its
                  // Filter with ServedFilterTag; re-serving would launch
                  // redundant planning jobs every iteration. A USER
                  // `id IN (...)` conjunct carries no tag and still serves.
                  if !isServedPlan(child)
                  // id literals must match the column's type (plan is
                  // already analyzed — no implicit casts will be inserted)
                  idLit <- litFor(idAttr)
                  // an index serves only queries in its own metric
                  if AnnCatalog.index(spark, entry).meta.cfg.metric == metric
                  s <- serve(gl, sort, child, projOpt, entry, idAttr, idLit, qv, k, predOpt)
                } yield s
                // PARTITIONED table (reference partition.slt): several
                // parquet roots — or one discovered root whose child
                // dirs — each carry their own index; candidates are the
                // bounded UNION of per-root pools. Prefiltered shapes
                // escalate the whole union (one job per round).
                def viaMulti = for {
                  es <- AnnCatalog.lookupAll(roots).filter(_.size > 1)
                    .orElse(AnnCatalog.coverByFiles(roots,
                      fsRel.location.inputFiles.toSeq))
                  if es.forall(_.vecCol == attr.name)
                  if es.map(_.idCol).distinct.size == 1
                  if !isServedPlan(child)
                  idAttr <- child.output.find(_.name == es.head.idCol)
                  idLit <- litFor(idAttr)
                  if es.forall(e =>
                    AnnCatalog.index(spark, e).meta.cfg.metric == metric)
                  s <- serveMulti(gl, sort, child, projOpt, es, idAttr, idLit,
                    qv, k, predOpt)
                } yield s
                // PARTIAL index (reference partition.slt:40-48): served
                // only when the query predicate IMPLIES the index
                // predicate (index conjuncts ⊆ query conjuncts);
                // leftover conjuncts run the prefilter escalation
                // against the partial index's own row population.
                def viaPartial = for {
                  pred <- predOpt
                  if !isServedPlan(child)
                  (pe, remaining) <- AnnCatalog.lookupPartials(roots)
                    .iterator.flatMap(pe =>
                      partialMatch(pe.predicateSql, pred, rel.output)
                        .map(pe -> _))
                    .nextOption()
                  if attr.name == pe.entry.vecCol
                  idAttr <- child.output.find(_.name == pe.entry.idCol)
                  idLit <- litFor(idAttr)
                  if AnnCatalog.index(spark, pe.entry).meta.cfg.metric == metric
                  s <- serve(gl, sort, child, projOpt, pe.entry, idAttr,
                    idLit, qv, k, remaining)
                } yield s
                // a vchordg-style graph index may serve the same shape when
                // the IVF path cannot (no entry, wrong metric, cost-declined)
                // — beam search; no prefilter machinery, like the
                // reference's graph AM
                def viaGraph = for {
                  ge <- AnnCatalog.lookupGraph(roots)
                  if attr.name == ge.vecCol && predOpt.isEmpty
                  idAttr <- child.output.find(_.name == ge.idCol)
                  idLit <- litFor(idAttr)
                  if AnnCatalog.graph(spark, ge).cfg.metric == metric
                  s <- serveGraph(gl, sort, child, projOpt, ge, idAttr, idLit, qv, k)
                } yield s
                // PARTITIONED table with one driver-tier graph per child:
                // each root's broadcast-resident graph beams (driver-side,
                // zero Spark jobs), candidates union, the plan's exact
                // Sort+Limit reranks — the graph-tier serveMulti analogue
                def viaGraphMulti = for {
                  ges <- AnnCatalog.lookupAllGraphs(roots).filter(_.size > 1)
                    .orElse(AnnCatalog.coverGraphsByFiles(roots,
                      fsRel.location.inputFiles.toSeq))
                  if ges.forall(_.vecCol == attr.name) && predOpt.isEmpty
                  if ges.map(_.idCol).distinct.size == 1
                  if !isServedPlan(child)
                  idAttr <- child.output.find(_.name == ges.head.idCol)
                  idLit <- litFor(idAttr)
                  if ges.forall(ge => AnnCatalog.graph(spark, ge).cfg.metric == metric)
                  s <- serveGraphMulti(gl, sort, child, projOpt, ges, idAttr,
                    idLit, qv, k)
                } yield s
                // the DISTRIBUTED graph tier serves last — same shape,
                // candidates come from the resident shard RDD (Spark jobs
                // at planning time, like prefilter escalation)
                def viaSharded = for {
                  se <- AnnCatalog.lookupShardedGraph(roots)
                  if attr.name == se.vecCol && predOpt.isEmpty
                  idAttr <- child.output.find(_.name == se.idCol)
                  idLit <- litFor(idAttr)
                  if AnnCatalog.shardedGraph(spark, se).cfg.metric == metric
                  s <- serveShardedGraph(gl, sort, child, projOpt, se, idAttr, idLit, qv, k)
                } yield s
                viaIvf.orElse(viaMulti).orElse(viaPartial)
                  .orElse(viaGraph).orElse(viaGraphMulti).orElse(viaSharded)
              }
            } yield served).getOrElse(gl)
          // multi-vector MaxSim (reference opclass strategy 3): no
          // prefilter form — the reference's recall harness likewise
          // rejects `@#` beyond the plain ordered scan
          case VecMaxSimExpr(attr: AttributeReference, Literal(qv: ArrayData, _)) =>
            (for {
              (rel, predOpt) <- destructure(child)
              if predOpt.isEmpty
              fsRel <- rel.relation match {
                case h: HadoopFsRelation => Some(h)
                case _ => None
              }
              roots = fsRel.location.rootPaths.map(_.toString)
              served <- {
                val viaSingle = for {
                  entry <- AnnCatalog.lookupMaxSim(roots)
                  if attr.name == entry.tokensCol
                  docAttr <- child.output.find(_.name == entry.docCol)
                  idLit <- litFor(docAttr)
                  if AnnCatalog.maxSimIndex(spark, entry).meta.cfg.metric == "negdot"
                  s <- serveMaxSim(gl, sort, child, projOpt, entry, docAttr, idLit, qv, k)
                } yield s
                // PARTITIONED multivector corpus (per-child token
                // indexes, the strategy-3 analogue of serveMulti):
                // candidate docs from one flat retrieval job over every
                // root's probed cells; the plan's own exact Sort+Limit
                // reranks the pooled docs
                def viaMulti = for {
                  es <- AnnCatalog.lookupAllMaxSim(roots).filter(_.size > 1)
                    .orElse(AnnCatalog.coverMaxSimByFiles(roots,
                      fsRel.location.inputFiles.toSeq))
                  if es.forall(_.tokensCol == attr.name)
                  if es.map(_.docCol).distinct.size == 1
                  if !isServedPlan(child)
                  docAttr <- child.output.find(_.name == es.head.docCol)
                  idLit <- litFor(docAttr)
                  if es.forall(e =>
                    AnnCatalog.maxSimIndex(spark, e).meta.cfg.metric == "negdot")
                  s <- serveMaxSimMulti(gl, sort, child, projOpt, es, docAttr,
                    idLit, qv, k)
                } yield s
                viaSingle.orElse(viaMulti)
              }
            } yield served).getOrElse(gl)
          case _ => gl
        }

      // `WHERE vec <<metric>> sphere(c, r)` with NO accompanying order-by
      // (reference pushdown_range.slt): the sphere's center becomes the
      // scan vector and the radius a cutoff — candidates from the index's
      // range scan, the original predicate retained for exactness.
      case f @ Filter(SphereCond(metric, attr, cv, radius), rel: LogicalRelation)
          if spark.conf.get("graft.ann.range.enable", "true").toBoolean =>
        serveRange(f, metric, attr, cv, radius, rel).getOrElse(f)

      // BATCH range as a JOIN (the SQL surface of rangeSearchMany):
      //   SELECT ... FROM queries q JOIN docs d
      //     ON vec_l2(d.vec, q.center) < q.radius
      // — an index nested-loop range join. The queries side is collected
      // at planning time (bounded), each sphere's estimate survivors come
      // from the index's codes-only range scan, and the UNION of candidate
      // ids restricts the indexed side; the original join condition is
      // retained, so output is exact. Without the serve this shape plans
      // as a broadcast nested-loop join over the FULL table per query row.
      case j @ Join(_, _, org.apache.spark.sql.catalyst.plans.Inner, Some(_), _)
          if spark.conf.get("graft.ann.range.join.enable", "true").toBoolean &&
            !isServedPlan(j) =>
        serveRangeJoin(j).getOrElse(j)

      // TOP-K KNN JOIN (the SQL surface of searchMany / searchManyMulti —
      // SURVEY §2.6's batch KNN-join; the reference drives one scan per
      // query, crates/vchordrq/src/search.rs:36):
      //   SELECT ... FROM (
      //     SELECT q.*, e.*, row_number() OVER (PARTITION BY q.<key>
      //       ORDER BY vec_l2(e.vec, q.center) [, tiebreaks]) AS rn
      //     FROM queries q JOIN docs e) WHERE rn <= k
      // — the lateral "k nearest per query row". The bounded queries side
      // is collected at planning time, per-query candidates come from ONE
      // batched index job (searchMany on a single root, searchManyMulti on
      // a partitioned corpus), and the indexed side is restricted to the
      // candidate UNION; the window reranks with the ORIGINAL distance
      // expression, so each query's output is the exact top-k of its
      // candidate superset (the standard ANN serve contract). Without the
      // serve this shape is a broadcast nested-loop cross join over the
      // full table per query row.
      case f @ Filter(_, _: Window)
          if spark.conf.get("graft.ann.knn.join.enable", "true").toBoolean &&
            !isServedPlan(f) =>
        serveKnnJoin(f).getOrElse(f)
    }
  }

  /** Index-served top-k KNN join (see the match site). Declines — leaving
    * the original exact plan — when: the window is not a single
    * row_number() ranked ascending by a column-column distance; the rank
    * bound conjunct is missing; the join carries a residual condition
    * touching the INDEXED side (it breaks the per-query k-floor the
    * candidate restriction guarantees; a deterministic queries-side-only
    * condition filters query rows, not candidates, and is applied before
    * the bounded collect instead); the window partition keys off the
    * indexed side; the queries side is non-deterministic, past the HARD
    * cap (`graft.ann.knn.join.maxQueriesTotal` — declined with a loud
    * log naming the DSL batch faces), or holds a NULL center (its pairs
    * rank by null-dist NULLS FIRST — semantics a candidate restriction
    * cannot reproduce); the candidate union exceeds `graft.ann.maxInList`;
    * or the cost model prefers the exact scan. Planning cost: one capped
    * queries-side collect plus ONE batched candidate job per
    * `graft.ann.knn.join.maxQueries`-sized SLICE of the (content-deduped)
    * query set — 1 + ceil(Q / maxQueries) bounded driver-blocking jobs,
    * the former EXACTLY-TWO for sets within one slice — all counted in
    * [[AnnTopKRewrite.planningJobs]]; a bulk query set amortizes through
    * the batch machinery instead of falling back to the O(Q x N) cross
    * join. A deterministic PREFILTER on the indexed side escalates
    * instead of declining (the single-query serve's contract, batched per
    * slice): the predicate is query-independent, so each round is one
    * pooled candidate job plus one bounded survivor fetch flooring EVERY
    * query's survivor count at once; probes/refine x4 until every query
    * holds k survivors or the pools provably cover the table. */
  private def serveKnnJoin(f: Filter): Option[LogicalPlan] = {
    val w = f.child.asInstanceOf[Window]
    // exactly one window expression: row_number() — rank() admits past-k
    // ties and dense_rank changes what the bound counts, so only
    // row_number's "k rows per partition" matches the KNN-join contract
    val rnAttr = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)) => a.toAttribute
      case _ => return None
    }
    // the rank bound: some conjunct `rn <= k` (any literal spelling);
    // other conjuncts only further restrict the output and are kept
    val k = conjuncts(f.condition).collectFirst {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(n))
          if a.exprId == rnAttr.exprId => n
      case LessThan(a: AttributeReference, IntegerLiteral(n))
          if a.exprId == rnAttr.exprId => n - 1
      case GreaterThanOrEqual(IntegerLiteral(n), a: AttributeReference)
          if a.exprId == rnAttr.exprId => n
      case GreaterThan(IntegerLiteral(n), a: AttributeReference)
          if a.exprId == rnAttr.exprId => n - 1
      case EqualTo(a: AttributeReference, IntegerLiteral(1))
          if a.exprId == rnAttr.exprId => 1
      case EqualTo(IntegerLiteral(1), a: AttributeReference)
          if a.exprId == rnAttr.exprId => 1
    } match {
      case Some(n) if n >= 1 => n
      case _ => return None
    }
    // strip the optimizer's WindowGroupLimit (physical per-partition
    // pruning inserted by InferWindowGroupLimit — same rows)
    val wchild = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val (projOpt, join) = wchild match {
      case j: Join => (None, j)
      case p @ Project(pl, j: Join) if pl.forall(_.deterministic) =>
        (Some(pl), j)
      case _ => return None
    }
    // per-query top-k needs the bare cross product ON THE INDEXED SIDE: a
    // residual join condition touching the indexed side (or mixed) could
    // leave fewer than k qualifying rows among the candidates — the
    // under-k recall problem the single-query serve solves with
    // escalation; those conservatively decline. A deterministic condition
    // referencing ONLY the queries side filters query ROWS, not
    // candidates — it is applied to the queries side before the bounded
    // collect and the original join keeps it for execution, so the serve
    // stays exact (checked per side assignment below, where the queries
    // side is known).
    join.joinType match {
      case org.apache.spark.sql.catalyst.plans.Inner |
           org.apache.spark.sql.catalyst.plans.Cross => ()
      case _ => return None
    }
    // window order/partition expressions are extracted into the Project
    // below the Window by the analyzer (`_w0`) — resolve them back
    def resolveThroughProj(e: Expression): Expression = e match {
      case a: AttributeReference =>
        projOpt.flatMap(_.collectFirst {
          case al @ Alias(c, _) if al.exprId == a.exprId => c
        }).getOrElse(a)
      case other => other
    }
    val headOrder = w.orderSpec.headOption.getOrElse(return None)
    if (headOrder.direction != Ascending) return None
    val (metric, x, y) = resolveThroughProj(headOrder.child) match {
      case DistCols(m, a, b) => (m, a, b)
      // the MULTIVECTOR ordering (strategy 3, reference
      // src/index/vchordrq/scanners/maxsim.rs:14-796): `row_number()
      // OVER (PARTITION BY q.<key> ORDER BY vec_maxsim(e.tokens,
      // q.qtokens))` — "k best documents per query DOCUMENT", answered
      // through the batched maxsim face instead of the exact O(Q x N)
      // maxsim cross join. vec_maxsim is ASYMMETRIC (doc tokens left,
      // query tokens right), so side assignment is fixed by argument
      // position — no both-ways reading
      case graft.functions.VecMaxSimExpr(d: AttributeReference,
          q: AttributeReference) =>
        return serveMaxsimJoin(f, w, join, projOpt, resolveThroughProj,
          k, d, q)
      case _ => return None
    }
    // side assignment as in the range join: the metrics are operand-
    // symmetric, so try both (vec, center) readings on both join sides
    val sides = Seq((x, y), (y, x)).flatMap { case (v, c) =>
      if (join.left.outputSet.contains(v) && join.right.outputSet.contains(c))
        Seq((join.left, join.right, v, c, true))
      else if (join.right.outputSet.contains(v) && join.left.outputSet.contains(c))
        Seq((join.right, join.left, v, c, false))
      else Nil
    }
    sides.view.flatMap { case (indexedSide, queriesSide, vecAttr, centerAttr, indexedIsLeft) =>
      val condQueriesOnly = join.condition.forall(c =>
        c.deterministic && c.references.subsetOf(queriesSide.outputSet))
      if (!condQueriesOnly) None
      else {
        val effQueries = join.condition
          .map(c => Filter(c, queriesSide): LogicalPlan).getOrElse(queriesSide)
        // ONE bounded queries-side collect per side assignment, MEMOIZED
        // across the three tier routes: a route that declines AFTER the
        // collect (pool or IN budget) must not make the next route
        // re-run the planning job
        lazy val centersOnce = collectCenters(effQueries, centerAttr)
        val centersOf = () => centersOnce
        tryServeKnnJoin(f, w, join, projOpt, resolveThroughProj, k, metric,
          vecAttr, centerAttr, indexedSide, effQueries, indexedIsLeft, centersOf)
          .orElse(tryServeKnnJoinGraph(f, w, join, projOpt, resolveThroughProj,
            k, metric, vecAttr, centerAttr, indexedSide, effQueries,
            indexedIsLeft, centersOf))
          .orElse(tryServeKnnJoinSharded(f, w, join, projOpt, resolveThroughProj,
            k, metric, vecAttr, centerAttr, indexedSide, effQueries,
            indexedIsLeft, centersOf))
      }
    }.headOption
  }

  /** The one bounded queries-side collect every KNN-join route shares.
    * NULL centers decline (their pairs rank by null dist NULLS FIRST —
    * semantics a candidate restriction cannot reproduce); identical
    * centers dedupe by CONTENT and share a candidate fetch; a set past
    * `graft.ann.knn.join.maxQueriesTotal` declines LOUDLY, naming the
    * DSL batch faces built for bulk query tables (the exact windowed
    * cross join that then runs is O(Q x N) — at that Q the user should
    * reach for `searchMany`/`searchManyMulti` or register the table for
    * the served batch routes). An empty array means an empty queries
    * side — the caller short-circuits to an empty relation. */
  private def collectCenters(queriesSide: LogicalPlan,
      centerAttr: AttributeReference): Option[Array[Array[Float]]] = {
    // the hard cap never undercuts a user-RAISED per-slice cap: someone
    // who set maxQueries=10000 before slicing existed must not silently
    // regress to the cross join because a newer conf defaults lower
    val maxQTotal = math.max(1, math.max(
      spark.conf.get("graft.ann.knn.join.maxQueriesTotal", "4096").toInt,
      spark.conf.get("graft.ann.knn.join.maxQueries", "256").toInt))
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val qRows = ColumnBridge.ofRows(spark,
        Project(Seq(Alias(centerAttr, "c")()), queriesSide))
      .limit(maxQTotal + 1).collect()
    if (qRows.length > maxQTotal) {
      logWarning(s"KNN-join serve declined: queries side exceeds " +
        s"graft.ann.knn.join.maxQueriesTotal=$maxQTotal rows — the exact " +
        "O(queries x table) windowed cross join will run. For bulk query " +
        "tables use the batched DSL faces (IvfIndex.searchMany / " +
        "searchManyMulti, VamanaGraph.searchManyMulti) or raise the cap.")
      None
    } else if (qRows.exists(_.isNullAt(0))) None
    else Some(qRows.iterator.map(_.getSeq[Float](0)).toArray
      .distinct.map(_.toArray))
  }

  /** The maxsim sibling of [[collectCenters]]: one bounded queries-side
    * collect of TOKEN-SET queries (array<array<float>>), content-deduped.
    * NULL or EMPTY token sets decline — an empty query scores 0.0 for
    * EVERY document (vec_maxsim sums over query tokens), a full-table
    * tie a candidate restriction cannot reproduce. Shares the KNN-join
    * caps (`graft.ann.knn.join.maxQueries[Total]`) and their one-way
    * interaction contract. */
  private def collectTokenQueries(queriesSide: LogicalPlan,
      qAttr: AttributeReference): Option[Array[Array[Array[Float]]]] = {
    val maxQTotal = math.max(1, math.max(
      spark.conf.get("graft.ann.knn.join.maxQueriesTotal", "4096").toInt,
      spark.conf.get("graft.ann.knn.join.maxQueries", "256").toInt))
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val qRows = ColumnBridge.ofRows(spark,
        Project(Seq(Alias(qAttr, "q")()), queriesSide))
      .limit(maxQTotal + 1).collect()
    if (qRows.length > maxQTotal) {
      logWarning(s"maxsim-join serve declined: queries side exceeds " +
        s"graft.ann.knn.join.maxQueriesTotal=$maxQTotal rows — the exact " +
        "O(queries x table) maxsim cross join will run. For bulk query " +
        "tables use the batched DSL faces (MaxSim.maxsimManyMulti, " +
        "AnnCatalog.servedMaxsimMany) or raise the cap.")
      None
    } else if (qRows.exists(_.isNullAt(0))) None
    else {
      val sets = qRows.iterator
        .map(_.getSeq[scala.collection.Seq[Float]](0)
          .map(_.toVector).toVector)
        .toArray.distinct
      if (sets.exists(_.isEmpty)) None
      else Some(sets.map(_.map(_.toArray).toArray))
    }
  }

  /** MaxSim windowed KNN join (strategy 3, reference
    * src/index/vchordrq/scanners/maxsim.rs:14-796): the [[serveKnnJoin]]
    * shape ordered by `vec_maxsim(e.tokens, q.qtokens)` — "k best
    * documents per query DOCUMENT" — served through the batched maxsim
    * face ([[graft.ops.MaxSim.maxsimManyMulti]]: one pooled token
    * retrieval + one exact rescore per slice) with the same contract as
    * the scalar routes: one memoized bounded queries-side collect,
    * slice-bounded planning jobs, the candidate-doc UNION IN-restricting
    * the indexed side, and the ORIGINAL window kept for the exact
    * rerank. Declines mirror the scalar matcher (residual indexed-side
    * conditions, indexed-side partition keys, non-deterministic or
    * oversized queries sides, NULL/empty token sets, pool/IN budgets,
    * cost gate). */
  private def serveMaxsimJoin(f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]],
      resolveThroughProj: Expression => Expression, k: Int,
      docTokensAttr: AttributeReference,
      qTokensAttr: AttributeReference): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{col => fcol, explode}
    // fixed side assignment (vec_maxsim(doc, query) — asymmetric)
    val sideOpt =
      if (join.left.outputSet.contains(docTokensAttr) &&
          join.right.outputSet.contains(qTokensAttr))
        Some((join.left, join.right, true))
      else if (join.right.outputSet.contains(docTokensAttr) &&
          join.left.outputSet.contains(qTokensAttr))
        Some((join.right, join.left, false))
      else None
    sideOpt.flatMap { case (indexedSide, queriesSide0, indexedIsLeft) =>
      val condQueriesOnly = join.condition.forall(c =>
        c.deterministic && c.references.subsetOf(queriesSide0.outputSet))
      if (!condQueriesOnly) None
      else {
        val queriesSide = join.condition
          .map(c => Filter(c, queriesSide0): LogicalPlan)
          .getOrElse(queriesSide0)
        for {
          _ <- Some(())
          if w.partitionSpec.nonEmpty
          if w.partitionSpec.forall(pe =>
            resolveThroughProj(pe).references.subsetOf(queriesSide0.outputSet))
          if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
          (rel, predOpt) <- destructure(indexedSide)
          // a prefilter would need a maxsim survivor-escalation loop; the
          // scalar routes have one, the maxsim face does not (yet) —
          // conservative decline keeps the per-query k-floor honest
          if predOpt.isEmpty
          fsRel <- rel.relation match {
            case h: HadoopFsRelation => Some(h)
            case _ => None
          }
          roots = fsRel.location.rootPaths.map(_.toString)
          es <- AnnCatalog.lookupMaxSim(roots).map(Seq(_))
            .orElse(AnnCatalog.lookupAllMaxSim(roots).filter(_.size > 1))
            .orElse(AnnCatalog.coverMaxSimByFiles(roots,
              fsRel.location.inputFiles.toSeq))
          if es.forall(_.tokensCol == docTokensAttr.name)
          if es.map(_.docCol).distinct.size == 1
          idAttr <- indexedSide.output.find(_.name == es.head.docCol)
          idLit <- litFor(idAttr)
          served <- {
            val idxs = es.map(e => AnnCatalog.maxSimIndex(spark, e))
            val probesConf = spark.conf.get("graft.ann.probes", "auto")
            def probesFor(lists: Int): Int =
              if (probesConf == "auto")
                math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
              else probesConf.toInt
            val refine = spark.conf.get("graft.ann.refine", "8").toInt
            val kPerToken =
              spark.conf.get("graft.ann.maxsim.kPerToken", "100").toInt
            val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
            // k-floor + cost gate (serveMaxSimMulti's formulas; the
            // query-row count multiplies both sides of the cost
            // comparison, so a representative single-query figure
            // decides — token counts enter via the collected queries,
            // checked per slice below)
            if (idxs.length.toLong * k > maxInList) None
            else {
              lazy val tokenQueriesOnce =
                collectTokenQueries(queriesSide, qTokensAttr)
              val costOk =
                !spark.conf.get("graft.ann.cost.enable", "true").toBoolean ||
                tokenQueriesOnce.exists { qs =>
                  val qn =
                    if (qs.isEmpty) 0.0
                    else qs.map(_.length).sum.toDouble / qs.length
                  CostGates.maxsim(idxs.map(ix => (ix.rowCount,
                      ix.meta.cfg.lists, probesFor(ix.meta.cfg.lists))),
                    qn, kPerToken, k, refine)
                }
              if (!costOk) None
              else {
                val h = idxs.head
                // codes-only / storage-mixed children rescore from the
                // corpus itself (the indexed side's own files), exploded
                // to one row per token — the servedMaxsimMany rule
                def rtOf: Option[(org.apache.spark.sql.DataFrame, String, String)] =
                  if (idxs.forall(ix => ix.meta.cfg.storeVectors &&
                      ix.meta.cfg.storage == h.meta.cfg.storage)) None
                  else Some((spark.read.parquet(roots: _*)
                    .select(fcol(es.head.docCol),
                      explode(fcol(es.head.tokensCol)).as("__tok")),
                    es.head.docCol, "__tok"))
                val maxPoolTuples = spark.conf
                  .get("graft.ann.maxsim.maxPoolTuples", "4000000").toLong
                serveKnnJoinRestrict(f, w, join, projOpt, indexedSide,
                    indexedIsLeft, idAttr, idLit, docTokensAttr,
                    () => tokenQueriesOnce, keepEmpty = true) { slice =>
                  val sliceTokens = slice.map(_.length.toLong).sum
                  // the batched face's own pool budget, checked here so
                  // the planner DECLINES instead of throwing mid-rule
                  if (idxs.length.toLong * sliceTokens * kPerToken >
                      maxPoolTuples) None
                  else {
                    AnnTopKRewrite.planningJobs.incrementAndGet()
                    val queries = slice.zipWithIndex
                      .map { case (ts, i) => (i.toLong, ts) }
                    val probes = idxs.map(ix => probesFor(ix.meta.cfg.lists))
                    Some(graft.ops.MaxSim.maxsimManyMulti(idxs, queries, k,
                        kPerToken = kPerToken, probes = probes,
                        refine = refine, rerankTable = rtOf)
                      .select("doc").distinct()
                      .collect().map(_.getLong(0)))
                  }
                }
              }
            }
          }
        } yield served
      }
    }
  }

  /** Shared tail of every KNN-join route: takes the side assignment's
    * memoized queries-side centers (see [[collectCenters]]), fetches
    * candidates in `graft.ann.knn.join.maxQueries`-sized SLICES through
    * the route's batched candidate job — a bulk query set amortizes
    * through the batch machinery instead of declining to the O(Q x N)
    * windowed cross join (one bounded candidate job per slice, so
    * planning cost is 1 + ceil(Q / maxQueries) driver-blocking jobs; a
    * set within the per-slice cap keeps the former EXACTLY-TWO) — then
    * the IN-restriction of the candidate UNION over the indexed side,
    * and the plan rebuild with the original window kept for exact
    * rerank. */
  private def serveKnnJoinRestrict[C: scala.reflect.ClassTag](
      f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]], indexedSide: LogicalPlan,
      indexedIsLeft: Boolean, idAttr: Attribute, idLit: Long => Literal,
      vecAttr: Attribute,
      centersOf: () => Option[Array[C]],
      keepEmpty: Boolean = false,
      complete: => Boolean = false)(
      cands: Array[C] => Option[Array[Long]]): Option[LogicalPlan] = {
    val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
    val sliceSize = math.max(1,
      spark.conf.get("graft.ann.knn.join.maxQueries", "256").toInt)
    centersOf().flatMap { centers =>
      if (centers.isEmpty) Some(LocalRelation(f.output))
      else {
        // per-slice fold with an EARLY EXIT on the running distinct-id
        // count: once the ids already exceed maxInList no remaining slice
        // can rescue the serve, so the decline fires without paying for
        // the unfetched candidate jobs (with maxQueriesTotal=4096 and
        // 256-query slices, up to 16 driver-blocking jobs — plus
        // prefilter escalation rounds — would otherwise run before a
        // post-hoc decline; round-16 ADVICE)
        val slices = centers.grouped(sliceSize).toArray
        val seen = scala.collection.mutable.HashSet.empty[Long]
        var sliceIdx = 0
        var candDeclined = false
        while (!candDeclined && sliceIdx < slices.length &&
            seen.size <= maxInList) {
          cands(slices(sliceIdx)) match {
            case None => candDeclined = true
            case Some(got) => seen ++= got; sliceIdx += 1
          }
        }
        val ids0: Option[Array[Long]] =
          if (candDeclined) None
          else if (seen.size > maxInList) {
            // loud: this decline lands AFTER (some) candidate jobs ran,
            // and the exact cross join that follows is the expensive
            // path — tell the operator which budget to move, and how
            // much work the early exit saved
            logWarning(s"KNN-join serve declined AFTER candidate fetch: " +
              s"${seen.size} distinct candidate ids already exceed " +
              s"graft.ann.maxInList=$maxInList after $sliceIdx of " +
              s"${slices.length} slices (remaining slices skipped) — the " +
              "exact windowed cross join will run. Raise the budget, " +
              "lower k/refine, or use the DSL batch faces for this " +
              "query volume.")
            None
          } else Some(seen.toArray)
        ids0.flatMap { raw =>
          val ids = raw.sorted
          // empty candidates only arise from an empty/degenerate index —
          // decline rather than guess at the table's rows
          if (ids.isEmpty) None
          else {
            ensureInPushdown(ids.length)
            val restricted = stamped(Filter(
              if (keepNullsFor(complete))
                AnnTopKRewrite.topkRestriction(idAttr, ids, idLit, vecAttr,
                  keepEmpty = keepEmpty)
              else AnnTopKRewrite.idsInExpr(idAttr, ids, idLit),
              indexedSide))
            val newJoin = if (indexedIsLeft) join.copy(left = restricted)
                          else join.copy(right = restricted)
            val newBody: LogicalPlan = projOpt
              .map(pl => Project(pl, newJoin): LogicalPlan).getOrElse(newJoin)
            val newWchild = w.child match {
              case wgl: WindowGroupLimit => wgl.withNewChildren(Seq(newBody))
              case _ => newBody
            }
            Some(f.withNewChildren(Seq(w.withNewChildren(Seq(newWchild)))))
          }
        }
      }
    }
  }

  /** Graph-tier KNN join: the same windowed rank shape served from
    * driver-resident Vamana graphs (single registration or per-child
    * partitioned cover) — every query beams against every graph ON THE
    * DRIVER (zero Spark jobs at planning, the serveGraphMulti economics
    * times the query count; one bounded queries-side collect only).
    * Per-(query, graph) candidate budgets match the planner's graph
    * serve: k on exact graphs, the full ef pool on quantized ones (the
    * window's exact rerank corrects estimate ordering). Declines mirror
    * [[tryServeKnnJoin]] plus the graph cost gate. */
  private def tryServeKnnJoinGraph(f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]],
      resolveThroughProj: Expression => Expression,
      k: Int, metric: String,
      vecAttr: AttributeReference, centerAttr: AttributeReference,
      indexedSide: LogicalPlan, queriesSide: LogicalPlan,
      indexedIsLeft: Boolean,
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    for {
      _ <- Some(())
      if w.partitionSpec.nonEmpty
      if w.partitionSpec.forall(pe =>
        resolveThroughProj(pe).references.subsetOf(queriesSide.outputSet))
      if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
      (rel, predOpt) <- destructure(indexedSide)
      if predOpt.isEmpty
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(_.toString)
      ges <- AnnCatalog.lookupGraph(roots).map(Seq(_))
        .orElse(AnnCatalog.lookupAllGraphs(roots).filter(_.size > 1))
        .orElse(AnnCatalog.coverGraphsByFiles(roots,
          fsRel.location.inputFiles.toSeq))
      if ges.forall(_.vecCol == vecAttr.name)
      if ges.map(_.idCol).distinct.size == 1
      idAttr <- indexedSide.output.find(_.name == ges.head.idCol)
      idLit <- litFor(idAttr)
      if ges.forall(ge => AnnCatalog.graph(spark, ge).cfg.metric == metric)
      served <- {
        val gs = ges.map(ge => AnnCatalog.graph(spark, ge))
        val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
        // per query row: summed beam work vs the exact cross join's
        // per-query row scan (serveGraphMulti's gate — M cancels)
        val costOk = !spark.conf.get("graft.ann.cost.enable", "true").toBoolean ||
          CostGates.graph(gs.length, gs.map(_.ids.length.toLong).sum, ef, k)
        if (!costOk) None
        else serveKnnJoinRestrict(f, w, join, projOpt,
            indexedSide, indexedIsLeft, idAttr, idLit, vecAttr,
            centersOf,
            complete = gs.forall(_.sourceComplete)) { centers =>
          Some(centers.flatMap { c =>
            gs.flatMap { g =>
              val kCand = if (g.quantized) math.max(ef, k) else k
              g.search(c, kCand, ef).map(_._1)
            }
          })
        }
      }
    } yield served
  }

  /** Sharded-graph KNN join: the same windowed rank shape served from
    * the DISTRIBUTED graph tier — the whole batch beams in ONE
    * [[graft.index.ShardedVamana.Handle.search]] call over the resident
    * shard RDD (Spark jobs at planning time, like the single-query
    * sharded serve); quantized shards keep the ef pool as candidates
    * and the window's exact rerank restores ordering. */
  private def tryServeKnnJoinSharded(f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]],
      resolveThroughProj: Expression => Expression,
      k: Int, metric: String,
      vecAttr: AttributeReference, centerAttr: AttributeReference,
      indexedSide: LogicalPlan, queriesSide: LogicalPlan,
      indexedIsLeft: Boolean,
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    for {
      _ <- Some(())
      if w.partitionSpec.nonEmpty
      if w.partitionSpec.forall(pe =>
        resolveThroughProj(pe).references.subsetOf(queriesSide.outputSet))
      if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
      (rel, predOpt) <- destructure(indexedSide)
      if predOpt.isEmpty
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(_.toString)
      se <- AnnCatalog.lookupShardedGraph(roots)
      if se.vecCol == vecAttr.name
      idAttr <- indexedSide.output.find(_.name == se.idCol)
      idLit <- litFor(idAttr)
      if AnnCatalog.shardedGraph(spark, se).cfg.metric == metric
      served <- {
        val h = AnnCatalog.shardedGraph(spark, se)
        val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
        val costOk = !spark.conf.get("graft.ann.cost.enable", "true").toBoolean ||
          CostGates.sharded(h.shards, h.totalVertices, ef, k)
        if (!costOk) None
        else serveKnnJoinRestrict(f, w, join, projOpt,
            indexedSide, indexedIsLeft, idAttr, idLit, vecAttr,
            centersOf,
            complete = h.sourceComplete) { centers =>
          AnnTopKRewrite.planningJobs.incrementAndGet()
          val queries = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }
          val kCand = if (h.cfg.bits > 0) math.max(ef, k) else k
          Some(h.search(spark, queries, kCand, ef, allowEstimates = true)
            .select("id").distinct()
            .collect().map(_.getLong(0)))
        }
      }
    } yield served
  }

  private def tryServeKnnJoin(f: Filter, w: Window, join: Join,
      projOpt: Option[Seq[NamedExpression]],
      resolveThroughProj: Expression => Expression,
      k: Int, metric: String,
      vecAttr: AttributeReference, centerAttr: AttributeReference,
      indexedSide: LogicalPlan, queriesSide: LogicalPlan,
      indexedIsLeft: Boolean,
      centersOf: () => Option[Array[Array[Float]]]): Option[LogicalPlan] = {
    for {
      _ <- Some(())
      // "k per QUERY row": the partition must key off the queries side —
      // partitioning by anything on the indexed side is a different
      // operator (k query rows per doc) the candidate restriction breaks
      if w.partitionSpec.nonEmpty
      if w.partitionSpec.forall(pe =>
        resolveThroughProj(pe).references.subsetOf(queriesSide.outputSet))
      // queries-side rows must reproduce identically at execution time
      if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
      (rel, predOpt) <- destructure(indexedSide)
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(_.toString)
      es <- AnnCatalog.lookup(roots).map(Seq(_))
        .orElse(AnnCatalog.lookupAll(roots).filter(_.size > 1))
        .orElse(AnnCatalog.coverByFiles(roots,
          fsRel.location.inputFiles.toSeq))
      if es.forall(_.vecCol == vecAttr.name)
      if es.map(_.idCol).distinct.size == 1
      idAttr <- indexedSide.output.find(_.name == es.head.idCol)
      idLit <- litFor(idAttr)
      if es.forall(e => AnnCatalog.index(spark, e).meta.cfg.metric == metric)
      served <- {
        val idxs = es.map(e => AnnCatalog.index(spark, e))
        val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
        val probesConf = spark.conf.get("graft.ann.probes", "auto")
        def probesFor(lists: Int): Int =
          if (probesConf == "auto")
            math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
          else probesConf.toInt
        val refine = spark.conf.get("graft.ann.refine", "8").toInt
        // cost gate: per query row, summed per-root index work vs the
        // exact cross join touching every indexed row — the query-row
        // count multiplies both sides, so it cancels (serve()'s formula)
        val costOk = !spark.conf.get("graft.ann.cost.enable", "true").toBoolean ||
          CostGates.ivf(idxs.map(ix => (ix.rowCount, ix.meta.cfg.lists,
            probesFor(ix.meta.cfg.lists))), k, refine)
        // recall hint (not a gate): at production cluster occupancy the
        // rerank pool is the recall limiter — say so at planning time so
        // the operator finds the knob before the recall report does
        idxs.find(ix => CostGates.refineLimited(ix.rowCount,
            ix.meta.cfg.lists, k, refine)).foreach { ix =>
          logWarning(s"KNN-join serve: k*refine = ${k * refine} is far " +
            s"below the mean cluster occupancy " +
            s"(~${ix.rowCount / math.max(1, ix.meta.cfg.lists)} rows/list " +
            s"on ${ix.dir}) — recall may be refine-limited; raise " +
            "graft.ann.refine (the 1M-row anchor measured recall " +
            "0.93 -> 0.98 going refine 16 -> 64)")
        }
        // searchManyMulti reranks from the roots' own stored vectors;
        // codes-only children would need a union rerank table the
        // per-child entries cannot supply — single-root codes-only serves
        // through its entry's tablePath below
        val multiOk = idxs.length == 1 || idxs.forall(_.meta.cfg.storeVectors)
        // batched-face driver-pool budget (the face itself refuses
        // loudly past it; the planner declines instead of throwing)
        val maxPool = scala.util.Try(
            spark.conf.get("graft.ann.batch.maxPoolTuples").toLong)
          .getOrElse(4000000L)
        if (!costOk || !multiOk) None
        else serveKnnJoinRestrict(f, w, join, projOpt,
            indexedSide, indexedIsLeft, idAttr, idLit, vecAttr,
            centersOf,
            complete = idxs.forall(_.sourceComplete)) { centers =>
          import spark.implicits._
          val queries = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }
          def rtOf: Option[(org.apache.spark.sql.DataFrame, String, String)] = {
            val e0 = es.head
            if (idxs.head.meta.cfg.storeVectors || e0.tablePath.isEmpty) None
            else Some((spark.read.parquet(e0.tablePath), e0.idCol, e0.vecCol))
          }
          // per-query candidate POOLS of k*r ids by estimate order (the
          // escalate() pool semantics — refine=1, the survivor floor needs
          // the whole pool, not its reranked top-k) at the given probe
          // scale — ONE batched job however many queries and roots
          def pools(probeScale: Int, r: Int): Option[Map[Long, Array[Long]]] = {
            val nCand = math.max(k * r, k)
            if (idxs.length.toLong * queries.length * nCand > maxPool) None
            else {
              AnnTopKRewrite.planningJobs.incrementAndGet()
              val probes = idxs.map(ix =>
                math.min(ix.meta.cfg.lists,
                  probesFor(ix.meta.cfg.lists) * probeScale)).max
              val pairs =
                if (idxs.length == 1)
                  idxs.head.searchRows(queries, nCand, probes = probes,
                    refine = 1, rerankTable = rtOf).map(r => (r._1, r._2))
                else
                  IvfIndex.searchManyMulti(idxs, queries, nCand,
                    probes = probes, refine = 1)
                    .select("qid", "id").as[(Long, Long)].collect()
              Some(pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
            }
          }
          predOpt match {
            case None =>
              // no prefilter: per-query exact-reranked top-k candidates in
              // one batched job (the window reranks the union again)
              val nCand = math.max(k * refine, k)
              if (idxs.length.toLong * queries.length * nCand > maxPool) None
              else {
                AnnTopKRewrite.planningJobs.incrementAndGet()
                val probes = idxs.map(ix => probesFor(ix.meta.cfg.lists)).max
                Some(
                  if (idxs.length == 1)
                    idxs.head.searchRows(queries, k, probes = probes,
                        refine = refine, rerankTable = rtOf).map(_._2)
                  else
                    IvfIndex.searchManyMulti(idxs, queries, k, probes = probes,
                        refine = refine)
                      .select("id").as[Long].collect())
              }
            case Some(_) =>
              // PREFILTER on the indexed side — the escalation contract of
              // the single-query serve, per query: the predicate is
              // query-INDEPENDENT, so one bounded survivor fetch per round
              // (ids of `indexedSide` rows — the user Filter is inside it —
              // within the pooled candidates) floors every query's
              // survivor count at once; probes/refine escalate x4 until
              // every query holds k survivors or the pools provably cover
              // the table. Overflowing maxInList declines to the exact
              // plan (a giant IN loses to the cross join).
              def survivorSet(allIds: Array[Long]): Option[Set[Long]] =
                if (allIds.isEmpty) Some(Set.empty)
                else if (allIds.length > maxInList) None
                else {
                  AnnTopKRewrite.planningJobs.incrementAndGet()
                  ensureInPushdown(allIds.length)
                  AnnTopKRewrite.withPlanningGuard {
                    Some(ColumnBridge.ofRows(spark,
                        Filter(AnnTopKRewrite.idsInExpr(idAttr, allIds, idLit),
                          indexedSide))
                      .select(idAttr.name).as[Long].collect().toSet)
                  }
                }
              var scale = 1
              var r = refine
              // coverage = "the pool provably holds EVERY row": full
              // probes per root AND k*r at least the SUMMED corpus row
              // count — pools() truncates to k*r candidates per query
              // GLOBALLY across roots (searchMany/searchManyMulti's final
              // fold), so a per-root rowCount comparison would declare
              // coverage with rows of the larger corpus missing and skip
              // the survivor floor
              def covered: Boolean =
                idxs.forall(ix =>
                  probesFor(ix.meta.cfg.lists) * scale >= ix.meta.cfg.lists) &&
                  k.toLong * r >= idxs.map(_.rowCount).sum
              var out: Option[Array[Long]] = None
              var done = false
              while (!done) {
                pools(scale, r) match {
                  case None => done = true // pool budget: decline
                  case Some(byQ) =>
                    val allIds = byQ.valuesIterator.flatten.toArray.distinct
                    if (allIds.length > maxInList) done = true // decline
                    else if (covered) { out = Some(allIds); done = true }
                    else survivorSet(allIds) match {
                      case None => done = true // IN budget: decline
                      case Some(surv) =>
                        // a query absent from the pool map retrieved
                        // nothing — zero survivors, keep escalating
                        val minSurv =
                          if (byQ.size < queries.length) 0L
                          else byQ.valuesIterator
                            .map(_.count(surv.contains).toLong).min
                        if (minSurv >= k) { out = Some(allIds); done = true }
                        else { scale *= 4; r *= 4 }
                    }
                }
              }
              // loud: a budget decline here lands AFTER one or more
              // escalation rounds already ran planning jobs, and the
              // prefiltered exact cross join that follows is the
              // expensive path
              if (out.isEmpty)
                logWarning("KNN-join prefilter escalation declined after " +
                  s"running its planning rounds (pool budget $maxPool, IN " +
                  s"budget $maxInList) — the exact windowed cross join " +
                  "will run. Raise the budgets or pre-filter the table " +
                  "into a registered corpus.")
              out
          }
        }
      }
    } yield served
  }

  /** Index-served range join (see the match site). The indexed side may
    * be a single registered table OR a PARTITIONED one whose children
    * each carry their own index (the serveMulti lookup chain — every
    * scanned child must be covered or the serve declines). Declines —
    * leaving the original exact plan — when: no sphere conjunct over a
    * registered indexed relation, the queries side exceeds
    * max(`graft.ann.range.join.maxQueries`,
    * `graft.ann.range.join.maxQueriesTotal`=4096) — a LOUD decline
    * naming the DSL faces — any non-deterministic expression
    * feeds the queries side (its rows must be identical at planning and
    * execution), or the candidate union exceeds `graft.ann.maxInList` (a
    * giant IN loses to the exact join). Planning cost: EXACTLY TWO
    * bounded driver-blocking jobs regardless of query-row count AND root
    * count (both counted in [[AnnTopKRewrite.planningJobs]]) — one
    * collect of the capped queries side, then ONE pooled codes pass
    * answering every sphere ([[IvfIndex.rangeCandidateIdsMany]] on a
    * single index; the flat multi-root relation of
    * [[IvfIndex.multiRangeCandidateIds]] on a partitioned side). The old
    * shape serialized one probe job per query row (up to maxQueries=256
    * planner-stalling jobs per range-join plan). For bulk M past the cap
    * use the DSL's `rangeSearchMany`. */
  private def serveRangeJoin(j: Join): Option[LogicalPlan] = {
    val cond = j.condition.get
    val sphere = conjuncts(cond).collectFirst(Function.unlift[Expression,
        (String, AttributeReference, AttributeReference, Either[AttributeReference, Double])] {
      case LessThan(DistCols(m, a, b), RadiusExpr(r)) => Some((m, a, b, r))
      case GreaterThan(RadiusExpr(r), DistCols(m, a, b)) => Some((m, a, b, r))
      case _ => None
    })
    sphere.flatMap { case (metric, x, y, rad) =>
      // side assignment: the operands are positionally symmetric, so try
      // BOTH (vecAttr, centerAttr) readings on both join sides and keep
      // the first whose vec attr resolves against a registered index —
      // `vec_l2(q.center, e.vec)` must serve the same as
      // `vec_l2(e.vec, q.center)`
      val assignments = Seq((x, y), (y, x)).flatMap { case (v, c) =>
        if (j.left.outputSet.contains(v) && j.right.outputSet.contains(c))
          Seq((j.left, j.right, v, c))
        else if (j.right.outputSet.contains(v) && j.left.outputSet.contains(c))
          Seq((j.right, j.left, v, c))
        else Nil
      }
      assignments.view.flatMap { case (indexedSide, queriesSide, vecAttr, centerAttr) =>
        tryServeRangeJoin(j, metric, rad, indexedSide, queriesSide, vecAttr, centerAttr)
      }.headOption
    }
  }

  private def tryServeRangeJoin(j: Join, metric: String,
      rad: Either[AttributeReference, Double],
      indexedSide: LogicalPlan, queriesSide: LogicalPlan,
      vecAttr: AttributeReference, centerAttr: AttributeReference): Option[LogicalPlan] = {
    for {
      _ <- Some(())
      radOk = rad match {
        case scala.util.Left(a)  => queriesSide.outputSet.contains(a)
        case scala.util.Right(_) => true
      }
      if radOk
      // queries-side rows must reproduce identically at execution time
      if !queriesSide.exists(p => !p.expressions.forall(_.deterministic))
      (rel, _) <- destructure(indexedSide)
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(_.toString)
      // single covering entry, or a PARTITIONED indexed side: per-child
      // indexes jointly covering the scan (the serveMulti lookup chain)
      es <- AnnCatalog.lookup(roots).map(Seq(_))
        .orElse(AnnCatalog.lookupAll(roots).filter(_.size > 1))
        .orElse(AnnCatalog.coverByFiles(roots,
          fsRel.location.inputFiles.toSeq))
      if es.forall(_.vecCol == vecAttr.name)
      if es.map(_.idCol).distinct.size == 1
      idAttr <- indexedSide.output.find(_.name == es.head.idCol)
      idLit <- litFor(idAttr)
      if es.forall(e => AnnCatalog.index(spark, e).meta.cfg.metric == metric)
      served <- {
        val idxs = es.map(e => AnnCatalog.index(spark, e))
        // the pooled candidate job below is ONE codes pass at ANY sphere
        // count, so unlike the KNN join there is nothing to slice — the
        // cap only bounds the queries-side collect. Round 16: the
        // effective cap is max(maxQueries, maxQueriesTotal=4096), the
        // KNN-join hard-cap contract (a raised legacy conf still wins),
        // and overflow declines LOUDLY naming the DSL faces.
        val maxQ = math.max(1, math.max(
          spark.conf.get("graft.ann.range.join.maxQueries", "256").toInt,
          spark.conf.get("graft.ann.range.join.maxQueriesTotal", "4096").toInt))
        val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
        val eps = spark.conf.get("graft.ann.epsilon", "1.9").toDouble
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val projOut = Seq(
          Alias(centerAttr, "c")(),
          Alias(Cast(rad match {
            case scala.util.Left(a)  => a
            case scala.util.Right(d) => Literal(d)
          }, org.apache.spark.sql.types.DoubleType), "r")())
        val qRows = ColumnBridge.ofRows(spark, Project(projOut, queriesSide))
          .limit(maxQ + 1).collect()
        if (qRows.length > maxQ) {
          logWarning(s"range-join serve declined: queries side exceeds " +
            s"$maxQ rows (graft.ann.range.join.maxQueries[Total]) — the " +
            "exact nested-loop join will run. For bulk sphere tables use " +
            "IvfIndex.rangeSearchMany/rangeSearchManyMulti or " +
            "AnnCatalog.servedRangeMany, or raise the cap.")
          None
        }
        else {
          // rows with a null center or radius can match nothing (the join
          // condition evaluates to null) — they contribute no sphere
          val spheres = qRows.iterator
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => (r.getSeq[Float](0).toArray, r.getDouble(1)))
            .toArray
          if (spheres.isEmpty) Some(LocalRelation(j.output))
          else {
            // ONE pooled candidate job for the whole batch: every
            // sphere's estimate survivors from a single codes pass
            // (single index) or one flat multi-root relation spanning
            // every child's intersecting cells (partitioned side) —
            // distinct, capped so overflow detection is itself bounded
            AnnTopKRewrite.planningJobs.incrementAndGet()
            val ids =
              if (idxs.length == 1)
                idxs.head.rangeCandidateIdsMany(spheres, eps, maxInList)
              else
                IvfIndex.multiRangeCandidateIds(idxs, spheres, eps, maxInList)
            // overflow BEFORE dedup (the flat multi-root rows may carry
            // gen+delta duplicates): a truncated-then-deduped list could
            // sneak under the cap while missing candidates past it
            if (ids.length > maxInList) None
            else if (ids.isEmpty) Some(LocalRelation(j.output))
            else {
              val dids = ids.distinct.sorted
              ensureInPushdown(dids.length)
              val restricted = stamped(Filter(
                AnnTopKRewrite.idsInExpr(idAttr, dids, idLit), indexedSide))
              Some(if (indexedSide eq j.left) j.copy(left = restricted)
                   else j.copy(right = restricted))
            }
          }
        }
      }
    } yield served
  }

  /** Range-filter serve (opclass strategy 2): candidate ids = the index's
    * estimate-phase survivors of the radius cutoff (codes-only scan of
    * sphere-intersecting cells). The rewritten plan keeps the ORIGINAL
    * predicate and adds `id IN (candidates)` — pushed to the Parquet scan
    * — so output is exact as long as candidates are a superset of
    * qualifying rows. Declines past `graft.ann.maxInList` (a huge IN loses
    * to the exact scan) — the same bound the prefilter escalation uses.
    * PARTITIONED tables serve too (one entry per root / per covered
    * child dir, like the top-k union path): each root's index answers
    * the sphere over its own rows, the candidate union is exact-superset
    * for the whole scan. */
  private def serveRange(f: Filter, metric: String, attr: AttributeReference,
                         cv: ArrayData, radius: Double,
                         rel: LogicalRelation): Option[LogicalPlan] =
    for {
      fsRel <- rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      roots = fsRel.location.rootPaths.map(_.toString)
      es <- AnnCatalog.lookupAll(roots)
        .orElse(AnnCatalog.coverByFiles(roots, fsRel.location.inputFiles.toSeq))
      if es.forall(_.vecCol == attr.name)
      if es.map(_.idCol).distinct.size == 1
      // IDEMPOTENCE: this rule's own output carries ServedFilterTag;
      // user In conjuncts (`id IN (...)`, `category IN (...)`) do NOT
      // block the serve
      if !isServedPlan(f)
      idAttr <- f.child.output.find(_.name == es.head.idCol)
      idLit <- litFor(idAttr)
      if es.forall(e => AnnCatalog.index(spark, e).meta.cfg.metric == metric)
      served <- {
        val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
        val eps = spark.conf.get("graft.ann.epsilon", "1.9").toDouble
        // ONE planning job AND one analyzed relation however many roots
        // (same flat shape as serveMulti): all roots' sphere-intersecting
        // cluster dirs read as a single scan, the union-level limit makes
        // overflow detection itself bounded — a sphere covering most of a
        // 500-child corpus stops after maxInList+1 ids instead of
        // materializing every root's pool. A single root keeps the
        // cache-aware per-index read (partition-local capped distinct ids,
        // one job, no CollectLimit rounds).
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val raw =
          if (es.length == 1)
            AnnCatalog.index(spark, es.head)
              .rangeCandidateIds(cv.toFloatArray(), radius, eps, maxInList)
          else
            IvfIndex.multiRangeCandidateIds(es.map(AnnCatalog.index(spark, _)),
              Array((cv.toFloatArray(), radius)), eps, maxInList)
        // overflow check BEFORE dedup (the multi-root rows may carry
        // gen+delta duplicates): a truncated-then-deduped list could
        // sneak under the cap while silently missing candidates past the
        // limit — serving it would drop qualifying rows.
        // DECISION (round 12, deliberate): overflow DECLINES to the exact
        // plan rather than escalating. Unlike top-k, a range's output is
        // every qualifying row — there is no k-floor to fill toward, and
        // past maxInList candidates the IN plan loses to the exact
        // cell-pruned scan anyway (the same economics that cap the
        // single-root path). Callers with genuinely huge spheres have the
        // DSL's rangeSearch/rangeSearchMany, which serve the >maxInList
        // regime with a DISTRIBUTED candidate join and a no-prune scan
        // fallback — machinery a planner rewrite cannot express as an IN.
        val all = if (raw.length > maxInList) raw else raw.distinct
        if (raw.length > maxInList) None
        else if (all.isEmpty) Some(LocalRelation(f.output))
        else {
          ensureInPushdown(all.length)
          // the id test first: FilterExec evaluates conjuncts in order, so
          // the distance kernel then runs only for candidate rows
          Some(stamped(Filter(And(AnnTopKRewrite.idsInExpr(idAttr, all, idLit),
            f.condition), f.child)))
        }
      }
    } yield served

  private def serveMaxSim(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                          projOpt: Option[Seq[NamedExpression]],
                          entry: AnnCatalog.MaxSimEntry, docAttr: Attribute,
                          idLit: Long => Literal, qv: ArrayData, k: Int): Option[LogicalPlan] = {
    val idx = AnnCatalog.maxSimIndex(spark, entry)
    val query: Array[Array[Float]] =
      Array.tabulate(qv.numElements())(i => qv.getArray(i).toFloatArray())
    if (query.isEmpty) return Some(gl)
    val probes = spark.conf.get("graft.ann.probes", "auto") match {
      case "auto" => math.max(1, math.ceil(math.sqrt(idx.meta.cfg.lists.toDouble)).toInt)
      case s      => s.toInt
    }
    val refine = spark.conf.get("graft.ann.refine", "8").toInt
    val kPerToken = spark.conf.get("graft.ann.maxsim.kPerToken", "100").toInt
    // cost gate (same shape as the single-vector serve): per query token,
    // a code-only scan of the probed fraction + its candidate fetch,
    // versus the exact scan touching every token row per query token
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.maxsim(Seq((idx.rowCount, idx.meta.cfg.lists, probes)),
          query.length.toDouble, kPerToken, k, refine))
      return None
    import spark.implicits._
    // refineDocs = k*refine exact rescues (the reference's maxsim_refine)
    val ids = graft.ops.MaxSim.approxTopK(idx, query, k,
        kPerToken = kPerToken, probes = probes, refine = refine,
        refineDocs = k * refine)
      .select("doc").as[Long].collect()
    if (ids.isEmpty) Some(gl)
    else {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, docAttr, ids, idLit)
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      Some(GlobalLimit(Literal(k), LocalLimit(Literal(k), body)))
    }
  }

  /** Partitioned MaxSim serve (strategy 3 over per-child indexes —
    * reference scanners/maxsim.rs semantics across partition.slt-style
    * children): ONE flat retrieval job pools every (root, token)'s
    * estimate candidates, docs score per root on the driver with per-root
    * miss stand-ins (MaxSim.multiRootCandidateDocs), and the rewritten
    * plan's own exact Sort+Limit over the IN-restricted scan restores
    * exact ordering. Candidate budget: k*refine docs per root, floored
    * at each root's top-k then filled globally by estimate when over
    * `graft.ann.maxInList` (the serveMulti policy — same ANN-contract
    * note as there). Cost gate: summed per-root token-index work vs the
    * total exact scan of every root's token rows. */
  private def serveMaxSimMulti(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                               projOpt: Option[Seq[NamedExpression]],
                               es: Seq[AnnCatalog.MaxSimEntry], docAttr: Attribute,
                               idLit: Long => Literal, qv: ArrayData,
                               k: Int): Option[LogicalPlan] = {
    val idxs = es.map(e => AnnCatalog.maxSimIndex(spark, e))
    val query: Array[Array[Float]] =
      Array.tabulate(qv.numElements())(i => qv.getArray(i).toFloatArray())
    if (query.isEmpty) return Some(gl)
    val probesConf = spark.conf.get("graft.ann.probes", "auto")
    def probesFor(lists: Int): Int =
      if (probesConf == "auto") math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
      else probesConf.toInt
    val refine = spark.conf.get("graft.ann.refine", "8").toInt
    val kPerToken = spark.conf.get("graft.ann.maxsim.kPerToken", "100").toInt
    val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.maxsim(idxs.map(ix => (ix.rowCount, ix.meta.cfg.lists,
            probesFor(ix.meta.cfg.lists))),
          query.length.toDouble, kPerToken, k, refine))
      return None
    // the k-floor is the serve/decline line (as serveMulti): if even k
    // docs per root overflow the IN budget, the exact plan wins
    if (idxs.length.toLong * k > maxInList) return Some(gl)
    // DRIVER-POOL budget: the pooled retrieval collects up to
    // roots x tokens x kPerToken (root, token, id, lb) tuples to the
    // driver for scoring. The flat read caps the collect at
    // max(4M direct-collect budget, that figure): past the budget it
    // merges partition-local heaps per (root, token) slot on executors
    // before collecting (IvfIndex.multiEstimatePools), so no scan
    // width can blow the guard below out by its partition count.
    // Bounded by construction, but a 256-child
    // corpus x a 64-token query x kPerToken=1000 would be 16M tuples
    // (~0.5 GB boxed). Past the cap the serve DECLINES LOUDLY to the
    // exact scan instead of silently truncating pools (the no-silent-
    // caps rule); lower kPerToken or raise the conf to serve wider.
    val maxPoolTuples =
      spark.conf.get("graft.ann.maxsim.maxPoolTuples", "4000000").toLong
    if (idxs.length.toLong * query.length * kPerToken > maxPoolTuples)
      return Some(gl)
    AnnTopKRewrite.planningJobs.incrementAndGet()
    val probes = idxs.map(ix => probesFor(ix.meta.cfg.lists))
    val perRoot = graft.ops.MaxSim.multiRootCandidateDocs(idxs, query,
      docsPerRoot = k * math.max(refine, 1), kPerToken = kPerToken,
      probes = probes)
    if (perRoot.isEmpty) return Some(gl)
    val ids: Array[Long] =
      if (perRoot.length <= maxInList) perRoot.map(_._2).distinct
      else {
        val floor = perRoot.groupBy(_._1).valuesIterator
          .flatMap(_.sortBy(t => (t._3, t._2)).take(k)).toArray
        val floorIds = floor.map(_._2).toSet
        val rest = perRoot.filter(t => !floorIds.contains(t._2))
          .sortBy(t => (t._3, t._2))
        (floor.map(_._2) ++
          rest.take(maxInList - floorIds.size).map(_._2)).distinct
      }
    ensureInPushdown(ids.length)
    val filter = topkFilter(sort, child, docAttr, ids, idLit)
    val sorted = Sort(sort.order, global = true, filter)
    val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
    Some(GlobalLimit(Literal(k), LocalLimit(Literal(k), body)))
  }

  private def litFor(idAttr: Attribute): Option[Long => Literal] =
    idAttr.dataType match {
      case org.apache.spark.sql.types.LongType    => Some((id: Long) => Literal(id))
      case org.apache.spark.sql.types.IntegerType => Some((id: Long) => Literal(id.toInt))
      case _ => None
    }

  /** Graph (vchordg) serve: ef-bounded beam search supplies the candidate
    * ids; `graft.ann.efSearch` mirrors the ef_search GUC (default 64,
    * reference src/index/gucs.rs:38-44). Cost gate: the beam visits ~ef
    * vertices plus a k-row fetch — decline when the exact scan of n rows
    * is no more work (tiny tables). */
  private def serveGraph(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                         projOpt: Option[Seq[NamedExpression]],
                         entry: AnnCatalog.GraphEntry, idAttr: Attribute,
                         idLit: Long => Literal, qv: ArrayData, k: Int): Option[LogicalPlan] = {
    val g = AnnCatalog.graph(spark, entry)
    val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.graph(1, g.ids.length.toLong, ef, k))
      return None
    // quantized graphs rank by code estimates: keep the ef pool as
    // candidates and let the rewritten plan's exact Sort+Limit pick top-k
    val kCand = if (g.quantized) math.max(ef, k) else k
    val ids = g.search(qv.toFloatArray(), kCand, ef).map(_._1)
    if (ids.isEmpty) Some(gl)
    else Some {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, idAttr, ids, idLit,
        complete = g.sourceComplete)
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }
  }

  /** Partitioned-graph serve (one driver-tier Vamana graph per child):
    * every root's graph beams with the per-root candidate budget
    * serveGraph uses (k, or the ef pool on quantized graphs, whose code
    * estimates the plan's exact Sort corrects), the ids union (docs are
    * unique across roots), and the standard exact Sort+Limit runs over
    * the IN-restricted scan. Driver-side only — zero Spark jobs at
    * planning. Cost gate: summed beam work (~roots*ef + k) vs the total
    * exact scan. The IN budget declines past `graft.ann.maxInList`. */
  private def serveGraphMulti(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                              projOpt: Option[Seq[NamedExpression]],
                              ges: Seq[AnnCatalog.GraphEntry], idAttr: Attribute,
                              idLit: Long => Literal, qv: ArrayData,
                              k: Int): Option[LogicalPlan] = {
    val gs = ges.map(ge => AnnCatalog.graph(spark, ge))
    val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.graph(gs.length, gs.map(_.ids.length.toLong).sum, ef, k))
      return None
    val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
    val q = qv.toFloatArray()
    val ids = gs.flatMap { g =>
      val kCand = if (g.quantized) math.max(ef, k) else k
      g.search(q, kCand, ef).map(_._1)
    }.distinct
    if (ids.length > maxInList) return Some(gl)
    if (ids.isEmpty) Some(gl)
    else Some {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, idAttr, ids, idLit,
        complete = gs.forall(_.sourceComplete))
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }
  }

  /** Sharded-graph serve: every shard beams, the bounded merge supplies
    * candidate ids. Runs Spark jobs AT PLANNING TIME over the resident
    * shard RDD (counted in [[AnnTopKRewrite.planningJobs]], like
    * prefilter escalation). Cost gate: total beam work is ~shards*ef —
    * decline when the exact scan is no more work. */
  private def serveShardedGraph(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                                projOpt: Option[Seq[NamedExpression]],
                                entry: AnnCatalog.ShardedGraphEntry, idAttr: Attribute,
                                idLit: Long => Literal, qv: ArrayData, k: Int): Option[LogicalPlan] = {
    val h = AnnCatalog.shardedGraph(spark, entry)
    val ef = spark.conf.get("graft.ann.efSearch", "64").toInt
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.sharded(h.shards, h.totalVertices, ef, k))
      return None
    AnnTopKRewrite.planningJobs.incrementAndGet()
    // on QUANTIZED shards the merge ranks by code estimates — keep the
    // whole ef pool as candidates (the rewritten plan's exact Sort+Limit
    // over the source table restores exactness, rerank-in-table style)
    val kCand = if (h.cfg.bits > 0) math.max(ef, k) else k
    val ids = h.search(spark, Array(0L -> qv.toFloatArray()), kCand, ef,
        allowEstimates = true)
      .select("id").collect().map(_.getLong(0))
    if (ids.isEmpty) Some(gl)
    else Some {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, idAttr, ids, idLit,
        complete = h.sourceComplete)
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }
  }

  /** Partial-index predicate implication, the restricted form Postgres
    * uses (`predicate_implied_by`): parse + resolve the registered
    * predicate against the relation's attributes, then require every
    * index conjunct to be PROVEN by some query conjunct — semantic
    * equality, or the literal-range implication [[impliesCmp]] handles
    * (`x > 6 ⇒ x > 5`, `x = 7 ⇒ x > 5`, BETWEEN narrowing via its two
    * conjuncts). Returns the REMAINING query conjuncts (None = every
    * query conjunct was an exact index conjunct — the partial index's
    * population IS the qualifying set; Some(expr) = extra-or-stronger
    * conjuncts, caller escalates like any prefilter; an implied-but-not-
    * equal conjunct MUST stay residual — the index population is wider
    * than the query's set). Parse or resolution failure, or an unprovable
    * conjunct, declines (None result) — a partial index must never serve
    * a query it doesn't cover. */
  private def partialMatch(predicateSql: String, queryPred: Expression,
      output: Seq[Attribute]): Option[Option[Expression]] = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicateSql)
      catch { case scala.util.control.NonFatal(_) => return None }
    var ok = true
    val resolved = parsed.transformUp {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        output.find(a => spark.sessionState.conf.resolver(a.name, ua.name))
          .getOrElse { ok = false; ua }
    }
    if (!ok || !resolved.resolved) return None
    val idxConj = conjuncts(resolved)
    val qConj = conjuncts(queryPred)
    if (!idxConj.forall(ic =>
        qConj.exists(qc => qc.semanticEquals(ic) || impliesPred(qc, ic)))) None
    else Some(qConj.filterNot(qc => idxConj.exists(_.semanticEquals(qc)))
      .reduceOption(And))
  }

  /** Predicate implication with DISJUNCTIONS, the subset of Postgres
    * `predicate_implied_by` the partial-index serve needs beyond
    * [[impliesCmp]]'s literal ranges:
    *
    *  - query side: `x IN (6,7)` / `x = 6 OR x = 7` implies `ic` iff
    *    EVERY disjunct implies it (a disjunction is true when any arm is,
    *    so all arms must land inside ic's value set);
    *  - index side: `q` implies `x IN (1,2)` / `a OR b` iff q implies
    *    SOME disjunct (any arm true makes the disjunction true).
    *
    * IN lists decompose to equality disjuncts only when every element is
    * a literal (a non-literal element can't be proven); a null element
    * fails [[impliesCmp]]'s null guard and declines the whole proof —
    * conservative, like Postgres's predtest. Non-disjunctive shapes fall
    * through to [[impliesCmp]] unchanged. */
  private def impliesPred(q: Expression, ic: Expression): Boolean = {
    (q, ic) match {
      case _ if q.semanticEquals(ic) => true
      // query-side disjunction: every arm must imply ic
      case (Or(l, r), _)    => impliesPred(l, ic) && impliesPred(r, ic)
      case (InD(qds), _)    => qds.forall(d => impliesPred(d, ic))
      // index-side disjunction: q need only imply one arm
      case (_, Or(l, r))    => impliesPred(q, l) || impliesPred(q, r)
      case (_, InD(ids))    => ids.exists(d => impliesPred(q, d))
      case _                => impliesCmp(q, ic)
    }
  }

  /** IN-over-literals decomposed to equality disjuncts (see
    * [[impliesPred]]). */
  private object InD {
    def unapply(e: Expression): Option[Seq[Expression]] = e match {
      case In(a: Attribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(v => EqualTo(a, v.asInstanceOf[Literal])))
      case _ => None
    }
  }

  /** Literal-comparison implication: does query conjunct `q` imply index
    * conjunct `ic`? Both must be a comparison of the SAME attribute
    * against a non-null literal of the SAME type; the proof is interval
    * containment (q's value set ⊆ ic's value set) under the type's own
    * ordering. Anything else — casts, expressions over the attribute,
    * mismatched types, null literals — conservatively fails, like
    * Postgres's operator-family-scoped predtest. No integer-width
    * reasoning (`x > 5 ⇒ x >= 6` over ints is NOT proven): containment
    * must hold over the type's full ordered domain. */
  private def impliesCmp(q: Expression, ic: Expression): Boolean = {
    def norm(e: Expression): Option[(Attribute, String, Literal)] = e match {
      case EqualTo(a: Attribute, l: Literal)            => Some((a, "=", l))
      case EqualTo(l: Literal, a: Attribute)            => Some((a, "=", l))
      case GreaterThan(a: Attribute, l: Literal)        => Some((a, ">", l))
      case GreaterThan(l: Literal, a: Attribute)        => Some((a, "<", l))
      case GreaterThanOrEqual(a: Attribute, l: Literal) => Some((a, ">=", l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => Some((a, "<=", l))
      case LessThan(a: Attribute, l: Literal)           => Some((a, "<", l))
      case LessThan(l: Literal, a: Attribute)           => Some((a, ">", l))
      case LessThanOrEqual(a: Attribute, l: Literal)    => Some((a, "<=", l))
      case LessThanOrEqual(l: Literal, a: Attribute)    => Some((a, ">=", l))
      case _ => None
    }
    (norm(q), norm(ic)) match {
      case (Some((qa, qop, ql)), Some((ia, iop, il)))
          if qa.semanticEquals(ia) && ql.dataType == il.dataType &&
             ql.value != null && il.value != null =>
        val ord =
          try org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(ql.dataType)
          catch { case scala.util.control.NonFatal(_) => return false }
        val c = ord.compare(ql.value, il.value)
        (qop, iop) match {
          case ("=", "=")   => c == 0
          case ("=", ">")   => c > 0
          case ("=", ">=")  => c >= 0
          case ("=", "<")   => c < 0
          case ("=", "<=")  => c <= 0
          case (">", ">")   => c >= 0 // {x > ql} ⊆ {x > il} iff ql >= il
          case (">=", ">")  => c > 0  // [ql,∞) ⊆ (il,∞) needs ql strictly above
          case (">", ">=")  => c >= 0
          case (">=", ">=") => c >= 0
          case ("<", "<")   => c <= 0
          case ("<=", "<")  => c < 0
          case ("<", "<=")  => c <= 0
          case ("<=", "<=") => c <= 0
          case _ => false
        }
      case _ => false
    }
  }

  /** Partitioned-table serve: one bounded top-k pool per per-root index,
    * unioned (≤ roots×k ids — the same bounded merge rangeSearchMany
    * uses), then the standard exact Sort+Limit over the IN-restricted
    * scan. Cost model sums the per-root index costs against the total
    * exact scan. Declines past `graft.ann.maxInList`. */
  private def serveMulti(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                         projOpt: Option[Seq[NamedExpression]],
                         es: Seq[AnnCatalog.Entry], idAttr: Attribute,
                         idLit: Long => Literal, qv: ArrayData,
                         k: Int,
                         predOpt: Option[Expression] = None): Option[LogicalPlan] = {
    val idxs = es.map(e => (e, AnnCatalog.index(spark, e)))
    val probesConf = spark.conf.get("graft.ann.probes", "auto")
    def probesFor(lists: Int): Int =
      if (probesConf == "auto") math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
      else probesConf.toInt
    val refine0 = spark.conf.get("graft.ann.refine", "8").toInt
    val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
    if (spark.conf.get("graft.ann.cost.enable", "true").toBoolean &&
        !CostGates.ivf(idxs.map { case (_, ix) => (ix.rowCount,
          ix.meta.cfg.lists, probesFor(ix.meta.cfg.lists)) }, k, refine0))
      return None
    val qArr = qv.toFloatArray()
    import spark.implicits._
    // ONE planning job AND one analyzed relation however many roots: all
    // roots' probed cluster dirs read as a single flat parquet scan
    // (IvfIndex.multiEstimateCandidates), each row scored with its own
    // root's prep from a broadcast dir map, per-root top k*refine (id,
    // lb) merged from bounded partition-local heaps. The per-root
    // union-of-frames shape this replaces was one JOB but linear DRIVER
    // cost — Catalyst analyzed R union branches and listed R relations
    // (measured 0.44 s at 4 roots -> 3.09 s at 32). The per-root exact
    // rerank the pre-round-11 shape paid one serialized Spark job each
    // for stays unnecessary: the rewritten plan's own Sort+Limit over
    // the IN-restricted scan reranks the pooled candidates exactly, and
    // the full-depth pool per root is a superset of what per-root rerank
    // would have kept — end-to-end recall is the old path's or better.
    // A SINGLE covered root keeps the per-index frame (cache-aware and
    // branch-free anyway).
    // the k-floor is the serve/decline line, as in the old per-root
    // shape: if even k ids per root overflow maxInList, decline to exact
    if (idxs.length.toLong * k > maxInList) return Some(gl)
    // one unioned collect per call: (id, lb, root) for the per-root top
    // k*refineScale estimate candidates at the given probe scale
    def unionPool(probeScale: Int, refineScale: Int): Array[(Long, Double, Int)] = {
      AnnTopKRewrite.planningJobs.incrementAndGet()
      val nCand = math.max(k * refineScale, k)
      val prs = idxs.map { case (_, ix) =>
        math.min(ix.meta.cfg.lists, probesFor(ix.meta.cfg.lists) * probeScale) }
      if (idxs.length == 1)
        idxs.head._2.estimateCandidates(qArr, nCand, probes = prs.head)
          .withColumn("root", org.apache.spark.sql.functions.lit(0))
          .as[(Long, Double, Int)].collect()
      else
        IvfIndex.multiEstimateCandidates(idxs.map(_._2), qArr, nCand, prs)
    }
    // dedup ids across roots (keep the best lb for budgeting)
    def dedup(pool: Array[(Long, Double, Int)]): Array[(Long, Double, Int)] =
      pool.groupBy(_._1).valuesIterator.map(_.minBy(t => (t._2, t._3))).toArray
    def planWith(ids: Array[Long]): LogicalPlan = {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, idAttr, ids, idLit,
        complete = idxs.forall(_._2.sourceComplete))
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }

    predOpt match {
      case None =>
        val distinctPool = dedup(unionPool(1, refine0))
        // over the IN budget: keep every root's estimated top-k (no root
        // loses representation — its local winners must reach the exact
        // rerank), then spend the rest of the budget globally by lb. This
        // is the single-index cell-pool policy applied across roots,
        // instead of blind per-root truncation.
        // ANN CONTRACT NOTE: the per-root floor ranks by estimate lower
        // bound (lb), not exact distance — a root's true top-k member
        // whose lb ranks past k AND past the global fill can be dropped.
        // This is the same estimate-order candidate admission every IVF
        // pool uses (cells admit by code bound before any exact rerank);
        // the epsilon-scaled lb makes it rare, and it only arises at all
        // when the pool exceeds maxInList (where the old per-root exact
        // shape paid one serialized Spark job per root to avoid it —
        // the wrong trade at hundreds of roots).
        val ids: Array[Long] =
          if (distinctPool.length <= maxInList) distinctPool.map(_._1)
          else {
            val floor = distinctPool.groupBy(_._3).valuesIterator
              .flatMap(_.sortBy(t => (t._2, t._1)).take(k)).toArray
            val floorIds = floor.map(_._1).toSet
            val rest = distinctPool.filter(t => !floorIds.contains(t._1))
              .sortBy(t => (t._2, t._1))
            floor.map(_._1) ++
              rest.take(maxInList - floorIds.size).map(_._1)
          }
        if (ids.isEmpty) Some(gl) else Some(planWith(ids))
      case Some(pred) =>
        // PREFILTER over a partitioned table: the same escalation contract
        // as the single-root serve — pool candidates, count the
        // predicate's survivors among them (child already contains the
        // user Filter), escalate probes/refine x4 until k survivors exist
        // or every root is provably covered. Each round is ONE unioned
        // pool job + ONE survivor count, regardless of root count. The
        // budget contract also matches: a pool past maxInList means the
        // exact plan is equivalent-or-cheaper than a giant IN — declined
        // BEFORE the pool job runs, like the single-root escalate().
        def escalateMulti(): Option[LogicalPlan] = {
          var scale = 1
          var r = refine0
          // tight at full probes, conservative below — the single-root
          // contract (poolSize pre-decline) summed per root
          def poolBound: Long =
            idxs.map { case (_, ix) => math.min(k.toLong * r, ix.rowCount) }.sum
          def covered: Boolean = idxs.forall { case (_, ix) =>
            math.min(ix.meta.cfg.lists,
              probesFor(ix.meta.cfg.lists) * scale) >= ix.meta.cfg.lists &&
              k.toLong * r >= ix.rowCount
          }
          def survivors(ids: Array[Long]): Long =
            if (ids.isEmpty) 0L
            else {
              AnnTopKRewrite.planningJobs.incrementAndGet()
              ensureInPushdown(ids.length)
              AnnTopKRewrite.withPlanningGuard {
                ColumnBridge.ofRows(spark,
                  Filter(AnnTopKRewrite.idsInExpr(idAttr, ids, idLit),
                    child)).count()
              }
            }
          if (poolBound > maxInList) return Some(gl)
          var ids = dedup(unionPool(scale, r)).map(_._1)
          if (ids.length > maxInList) return Some(gl)
          // check coverage FIRST: a covered pool serves regardless of the
          // survivor count, so the count job is pure waste there
          var cov = covered
          while (!cov && survivors(ids) < k) {
            scale *= 4
            r *= 4
            if (poolBound > maxInList) return Some(gl)
            ids = dedup(unionPool(scale, r)).map(_._1)
            if (ids.length > maxInList) return Some(gl)
            cov = covered
          }
          if (ids.isEmpty) Some(gl) else Some(planWith(ids))
        }
        pred match {
          // sphere prefilter in the shared index metric: per-root RANGE
          // candidates (cell + code lower bounds — a SUPERSET of every
          // qualifying row per root) union into one job, exactly the
          // single-root SphereCond branch generalized; no escalation
          // rounds, exact output. Oversized pools fall back to the
          // generic escalation. Without this branch the generic loop
          // would stop at k pool-order survivors — approximate where the
          // single-root path (and the pre-partitioned decline) was exact.
          case SphereCond(sphMetric, sphAttr, sphCv, sphRadius)
              if idxs.forall(_._2.meta.cfg.metric == sphMetric) &&
                 sphAttr.name == es.head.vecCol =>
            val eps = spark.conf.get("graft.ann.epsilon", "1.9").toDouble
            AnnTopKRewrite.planningJobs.incrementAndGet()
            // >1 roots: one flat read over every root's sphere-intersecting
            // cluster dirs (no per-root union branches — see unionPool)
            val raw =
              if (idxs.length == 1)
                idxs.head._2.rangeCandidateIds(sphCv.toFloatArray(),
                  sphRadius, eps, maxInList)
              else
                IvfIndex.multiRangeCandidateIds(idxs.map(_._2),
                  Array((sphCv.toFloatArray(), sphRadius)), eps, maxInList)
            // overflow BEFORE dedup: a truncated-then-deduped list could
            // silently miss qualifying candidates past the limit
            if (raw.length > maxInList) escalateMulti()
            else if (raw.isEmpty) Some(LocalRelation(gl.output))
            else {
              // merge the IN into the EXISTING Filter and stamp it (the
              // single-root planWithMerged contract): a fresh In-Filter
              // wrapped AROUND the unstamped sphere Filter would leave
              // the inner node servable by the standalone range case —
              // a second planning job re-serving this rule's own output
              val ids = raw.distinct
              ensureInPushdown(ids.length)
              val inExpr = AnnTopKRewrite.idsInExpr(idAttr, ids, idLit)
              val newChild = child match {
                case Filter(p, rel0)              => stamped(Filter(And(inExpr, p), rel0))
                case Project(pl, Filter(p, rel0)) =>
                  Project(pl, stamped(Filter(And(inExpr, p), rel0)))
                case other                        => stamped(Filter(inExpr, other))
              }
              val sorted = Sort(sort.order, global = true, newChild)
              val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan)
                .getOrElse(sorted)
              Some(GlobalLimit(Literal(k), LocalLimit(Literal(k), body)))
            }
          case _ => escalateMulti()
        }
    }
  }

  private def serve(gl: LogicalPlan, sort: Sort, child: LogicalPlan,
                    projOpt: Option[Seq[NamedExpression]],
                    entry: AnnCatalog.Entry, idAttr: Attribute, idLit: Long => Literal,
                    qv: ArrayData, k: Int,
                    predOpt: Option[Expression]): Option[LogicalPlan] = {
    val idx = AnnCatalog.index(spark, entry)
    val lists = idx.meta.cfg.lists
    val probesConf = spark.conf.get("graft.ann.probes", "auto")
    val probes0 =
      if (probesConf == "auto") math.max(1, math.ceil(math.sqrt(lists.toDouble)).toInt)
      else probesConf.toInt
    val refine0 = spark.conf.get("graft.ann.refine", "8").toInt
    val n = AnnCatalog.rowCount(spark, entry)

    // cost model (reference amcostestimate): exact full scan = n rows at
    // unit cost; index scan = code-only estimate over the probed fraction
    // (~0.3 units/row: pruned columns, integer kernel) + exact rerank of
    // k*refine candidate rows + per-query probe overhead.
    val costEnabled = spark.conf.get("graft.ann.cost.enable", "true").toBoolean
    if (costEnabled && !CostGates.ivf(Seq((n, lists, probes0)), k, refine0))
      return None

    val qArr = qv.toFloatArray()
    // codes-only index: candidate pools rerank against the SOURCE table
    // (the reference's rerank_in_table pairing); a full index keeps the
    // cheaper in-index rerank. Exactness of the final output is the
    // rewritten plan's Sort+Limit either way.
    val rt: Option[(org.apache.spark.sql.DataFrame, String, String)] =
      if (idx.meta.cfg.storeVectors || entry.tablePath.isEmpty) None
      else Some((spark.read.parquet(entry.tablePath), entry.idCol, entry.vecCol))
    def planWith(ids: Array[Long]): LogicalPlan = {
      ensureInPushdown(ids.length)
      val filter = topkFilter(sort, child, idAttr, ids, idLit,
        complete = idx.sourceComplete)
      val sorted = Sort(sort.order, global = true, filter)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }

    // merge the IN into the EXISTING Filter node (sphere prefilter path),
    // ahead of the user predicate as in serveRange: the inner Filter is
    // stamped, so the standalone range-filter case cannot re-serve a plan
    // this rewrite produced
    def planWithMerged(ids: Array[Long]): LogicalPlan = {
      ensureInPushdown(ids.length)
      val inExpr = AnnTopKRewrite.idsInExpr(idAttr, ids, idLit)
      val newChild = child match {
        case Filter(p, r)              => stamped(Filter(And(inExpr, p), r))
        case Project(pl, Filter(p, r)) => Project(pl, stamped(Filter(And(inExpr, p), r)))
        case other                     => stamped(Filter(inExpr, other))
      }
      val sorted = Sort(sort.order, global = true, newChild)
      val body = projOpt.map(pl => Project(pl, sorted): LogicalPlan).getOrElse(sorted)
      GlobalLimit(Literal(k), LocalLimit(Literal(k), body))
    }

    def escalate(): Option[LogicalPlan] = {
        // prefilter escalation. The IN list must be the candidate POOL
        // (k*refine ids by estimate order), not the final top-k — a top-k
        // list can never contain k predicate survivors unless the
        // predicate passes all of them. `child` already contains the user
        // Filter, so counting the candidate-restricted child counts
        // survivors. Bounded: once the pool would exceed `maxInList`
        // literals (or would have to cover the whole table), the original
        // exact plan is equivalent-or-cheaper than a giant IN — serve that
        // instead of multi-thousand-literal expressions.
        val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
        var p = probes0
        var r = refine0
        def poolSize(r: Int): Long = math.min(k.toLong * r, n)
        def pool(p: Int, r: Int): Array[Long] = {
          AnnTopKRewrite.planningJobs.incrementAndGet()
          idx.searchOne(qArr, poolSize(r).toInt, probes = p,
            refine = 1, rerankTable = rt).map(_._1)
        }
        if (poolSize(r) > maxInList) return Some(gl)
        var ids = pool(p, r)
        def survivors(ids: Array[Long]): Long =
          if (ids.isEmpty) 0L
          else {
            AnnTopKRewrite.planningJobs.incrementAndGet()
            ensureInPushdown(ids.length)
            // guard: the count plan contains the user's own Filter —
            // optimizing it must not re-fire this rule's Filter cases
            AnnTopKRewrite.withPlanningGuard {
              ColumnBridge.ofRows(spark,
                Filter(AnnTopKRewrite.idsInExpr(idAttr, ids, idLit),
                  child)).count()
            }
          }
        // coverage FIRST: a covered pool serves regardless of the
        // survivor count, so that count job would be pure waste
        var covered = p >= lists && k.toLong * r >= n
        while (!covered && survivors(ids) < k) {
          p = math.min(lists, p * 4)
          r = r * 4
          if (poolSize(r) > maxInList) return Some(gl) // exact plan beats a huge IN
          ids = pool(p, r)
          covered = p >= lists && k.toLong * r >= n
        }
        if (ids.isEmpty) Some(gl) else Some(planWith(ids))
    }

    predOpt match {
      case None =>
        val ids = idx.searchOne(qArr, k, probes = probes0,
          refine = refine0, rerankTable = rt).map(_._1)
        if (ids.isEmpty) Some(gl) else Some(planWith(ids))
      // sphere prefilter in the INDEX METRIC (reference opclass strategy 2
      // WITH an accompanying order-by, pushdown_range.slt): the range
      // scan's estimate survivors are a SUPERSET of the sphere conjunct's
      // qualifying rows — and any further conjuncts only shrink that set —
      // so they serve as the candidate pool directly: one planning job, no
      // escalation rounds, exact output (the plan keeps the original
      // filter + sort). Oversized pools fall back to the generic
      // escalation.
      case Some(SphereCond(sphMetric, sphAttr, sphCv, sphRadius))
          if sphMetric == idx.meta.cfg.metric && sphAttr.name == entry.vecCol =>
        val maxInList = spark.conf.get("graft.ann.maxInList", "8192").toInt
        val eps = spark.conf.get("graft.ann.epsilon", "1.9").toDouble
        AnnTopKRewrite.planningJobs.incrementAndGet()
        val ids = idx.rangeCandidateIds(sphCv.toFloatArray(), sphRadius, eps, maxInList)
        if (ids.length > maxInList) escalate()
        else if (ids.isEmpty) Some(LocalRelation(gl.output))
        else Some(planWithMerged(ids))
      case Some(_) => escalate()
    }
  }
}

/** `spark.sql.extensions` entry point. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(session => AnnTopKRewrite(session))
}
