package graft

import graft.pipelines.FeeBot
import graft.evm.LogPipeline
import graft.evm.DumpEndpoint
import org.apache.spark.sql.functions._
import java.nio.file.Files

class FeeBotSpec extends SparkSpec {

  test("fee bot end-to-end: metrics + signals CSV export (S9)") {
    val out = Files.createTempDirectory("feebot").toString
    val (metrics, signals) = FeeBot.run(spark, "/root/testdata/sf0.001", out)
    val m = metrics.head()
    assert(m.getLong(0) > 0 && m.getDouble(2) >= 0.0 && m.getDouble(2) <= 1.0)
    val back = spark.read.option("header", "true").csv(s"$out/now_signals")
    assert(back.count() == signals.count() && back.count() > 0)
    assert(back.columns.contains("signal"))
  }

  test("latest-height probe bounds a replay scan (S2)") {
    val dir = Files.createTempDirectory("dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"))
      .coalesce(1).write.mode("overwrite").json(dir)
    assert(DumpEndpoint(dir).tip() == 99L)
  }
}
