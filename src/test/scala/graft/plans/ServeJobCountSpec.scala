package graft.plans

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.index.{IvfConfig, IvfIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files

/**
 * Spark jobs spent per served query. Forcing `executedPlan` runs the
 * planner rule, so the jobs counted there are the rule's candidate jobs:
 * one for a served single-query top-k (the fused estimate+rerank pass)
 * and one for a served single-root range (the capped candidate collect).
 * The batched face pins the same count on an index that stores vectors,
 * and two (estimate, then the source-table fetch) on a codes-only index.
 */
class ServeJobCountSpec extends SparkSpec {

  private lazy val table: String = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0L until 2000L).map(i => i -> Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val dir = Files.createTempDirectory("graft-jobs-table").toString
    rows.toDF("id", "vec").write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val index: IvfIndex =
    IvfIndex.build(spark.read.parquet(table), "id", "vec",
      Files.createTempDirectory("graft-jobs-index").toString, IvfConfig(lists = 16))

  /** Jobs this thread launches while `body` runs, counted by a listener
    * on a job group unique to the call. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  private def withServe[T](f: => T): T = {
    val rule = AnnTopKRewrite(spark)
    AnnCatalog.register(table, index.dir, "id", "vec")
    spark.read.parquet(table).createOrReplaceTempView("jobs_tbl")
    GraftFunctions.registerAll(spark)
    spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    try graft.core.Confs.withConfs(spark,
      "graft.ann.probes" -> "4", "graft.ann.cost.enable" -> "false")(f)
    finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
      AnnCatalog.unregister(table)
      spark.catalog.dropTempView("jobs_tbl")
    }
  }

  private def qSql(q: Array[Float]): String =
    q.map(_.toString).mkString("array(", "F, ", "F)")

  /** Jobs spent planning `sql`, after one untimed planning of the same
    * shape has filled the index's row-count and cell-radius caches. */
  private def planningJobs(sql: Array[Float] => String): Int = {
    spark.sql(sql(Array.fill(8)(0.3f))).queryExecution.executedPlan
    val df = spark.sql(sql(Array.fill(8)(-0.1f)))
    val n = jobsDuring(df.queryExecution.executedPlan)
    assert(AnnTopKRewrite.inServed(df.queryExecution.optimizedPlan.toString),
      s"expected a served plan:\n${df.queryExecution.optimizedPlan}")
    n
  }

  test("a served single-query SQL top-k plans with exactly ONE Spark job") {
    withServe {
      val n = planningJobs(q =>
        s"SELECT id, vec FROM jobs_tbl ORDER BY vec_l2(vec, ${qSql(q)}) LIMIT 10")
      assert(n == 1, s"top-k planning ran $n jobs")
    }
  }

  test("a served single-root SQL range plans with exactly ONE Spark job") {
    withServe {
      val n = planningJobs(q =>
        s"SELECT id FROM jobs_tbl WHERE vec_l2(vec, ${qSql(q)}) < 1.2")
      assert(n == 1, s"range planning ran $n jobs")
    }
  }

  test("searchMany runs ONE job on a stored-vector index, TWO on a " +
       "codes-only index") {
    val queries = Array(0L -> Array.fill(8)(0.1f), 1L -> Array.fill(8)(-0.4f))
    index.searchMany(queries, 5, probes = 4) // warm the plan caches
    assert(jobsDuring(index.searchMany(queries, 5, probes = 4)) == 1)
    assert(jobsDuring(index.search(queries(0)._2, 5, probes = 4)) == 1)
    val novec = index.dropVectors(Files.createTempDirectory("graft-jobs-novec").toString)
    val rt = Some((spark.read.parquet(table), "id", "vec"))
    novec.searchMany(queries, 5, probes = 4, rerankTable = rt)
    assert(jobsDuring(novec.searchMany(queries, 5, probes = 4, rerankTable = rt)) == 2)
    // pure-estimate output needs no exact phase: one job even codes-only
    assert(jobsDuring(novec.searchMany(queries, 5, probes = 4, epsilon = 0.0,
      exactBudget = 0)) == 1)
  }
}
