package graft

import graft.obs.QueryMetrics
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.functions._

/** Pins the engine-metrics collector on shapes whose numbers are known
  * in advance; every read follows the collector's own drain. */
class QueryMetricsSpec extends SparkSpec {
  /** A shuffle whose partition 0 receives `hot` rows of key 0 and every
    * other partition one row (Int keys hash to themselves), so the
    * busiest reduce task reads exactly `hot` records. */
  private def skewed(hot: Int): Long =
    spark.sparkContext.parallelize(Seq.fill(hot)(0) ++ (1 until 4), 4)
      .map(k => (k, k)).partitionBy(new HashPartitioner(4)).count()

  private def ranges(m: QueryMetrics) = m.nodes.count(_._1.isInstanceOf[RangeExec])

  test("a groupBy aggregate runs as 2 stages: map writes the shuffle, reduce reads it") {
    val (rows, m) = QueryMetrics.of(spark)(
      spark.range(1000).groupBy(col("id") % 10).count().collect())
    assert(rows.length == 10)
    assert(m.stagesPerJob.max == 2, m.stagesPerJob)
    val st = m.stages
    assert(st.size == 2, st)
    assert(st.head.shuffleWriteBytes > 0 && st.head.shuffleReadBytes == 0, st)
    assert(st.last.shuffleReadBytes > 0, st)
    assert(st.forall(s => s.tasks > 0 && s.completed >= s.submitted && s.submitted > 0), st)
  }

  test("under AQE every stage's site holds the graft frame that ran the query") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (rows, m) = QueryMetrics.of(spark)(
      spark.range(1000).repartition(3).groupBy(col("id") % 10).count().collect())
    assert(rows.length == 10)
    val st = m.stages
    assert(st.size >= 2, st)
    assert(st.forall(_.site.linesIterator.exists(_.startsWith("graft."))),
      st.map(_.site).mkString("\n---\n"))
  }

  test("a cached frame's scan counts once across two actions; an uncached one twice") {
    val plain = spark.range(100).filter(col("id") % 2 === 0)
    assert(ranges(QueryMetrics.of(spark) { plain.count(); plain.collect() }._2) == 2)
    val cached = spark.range(100).filter(col("id") % 3 === 0).cache()
    try {
      val (n, m) = QueryMetrics.of(spark) {
        cached.count(); cached.agg(sum("id")).collect(); cached.count()
      }
      assert(n == 34)
      assert(ranges(m) == 1)
    } finally cached.unpersist(true)
  }

  test("tasks run under another job group are not counted") {
    val sc = spark.sparkContext
    val m = new QueryMetrics(spark, Some("query-metrics-mine"))
    try {
      sc.setJobGroup("query-metrics-other", "other")
      skewed(5000)
      sc.setJobGroup("query-metrics-mine", "mine")
      skewed(100)
      m.drain()
      assert(m.maxTaskShuffleRecords == 100)
      assert(m.stagesPerJob == Seq(2))
      assert(m.stages.size == 2)
    } finally {
      sc.clearJobGroup()
      m.close()
    }
  }

  test("a skewed shuffle's max task records equal the hot key's row count") {
    assert(QueryMetrics.of(spark)(skewed(3000))._2.maxTaskShuffleRecords == 3000)
  }
}
