package graft.eval

import graft.SparkSpec
import graft.index.{IvfConfig, IvfIndex}
import java.nio.file.Files

class QueryRecorderSpec extends SparkSpec {

  test("disabled by default; enabled recorder samples at rate with a cap") {
    import spark.implicits._
    QueryRecorder.clear()
    val rng = new scala.util.Random(41)
    val rows = (0L until 200L).map(i => i -> Seq.fill(6)(rng.nextFloat()))
    val dir = Files.createTempDirectory("graft-qrec").toString
    val idx = IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", dir, IvfConfig(lists = 4))

    def searchN(n: Int): Unit = (0 until n).foreach { i =>
      idx.search(Array.fill(6)(i * 0.01f), 3, probes = 2).count()
    }

    // default off: nothing recorded
    searchN(3)
    assert(QueryRecorder.sampledQueries(spark).count() == 0)

    QueryRecorder.enabled = true
    QueryRecorder.rate = 2
    QueryRecorder.maxRecords = 5
    try {
      searchN(8) // every 2nd of 8 -> 4 samples
      val df = QueryRecorder.sampledQueries(spark)
      assert(df.count() == 4)
      assert(df.select("index_dir").distinct().as[String].head() == dir)
      searchN(10) // 5 more samples, cap 5 -> oldest evicted
      assert(QueryRecorder.sampledQueries(spark).count() == 5)
    } finally {
      QueryRecorder.enabled = false
      QueryRecorder.clear()
    }
  }

  test("single-query search records; batched searchMany does not") {
    import spark.implicits._
    QueryRecorder.clear()
    val rng = new scala.util.Random(43)
    val rows = (0L until 200L).map(i => i -> Seq.fill(6)(rng.nextFloat()))
    val dir = Files.createTempDirectory("graft-qrec-batch").toString
    val idx = IvfIndex.build(rows.toDF("id", "vec"), "id", "vec", dir, IvfConfig(lists = 4))
    QueryRecorder.enabled = true
    QueryRecorder.rate = 1
    try {
      idx.searchMany((0 until 6).map(i => i.toLong -> Array.fill(6)(i * 0.1f)).toArray,
        3, probes = 2).count()
      assert(QueryRecorder.sampledQueries(spark).count() == 0)
      idx.search(Array.fill(6)(0.3f), 3, probes = 2).count()
      assert(QueryRecorder.sampledQueries(spark).count() == 1)
    } finally {
      QueryRecorder.enabled = false
      QueryRecorder.clear()
    }
  }
}
