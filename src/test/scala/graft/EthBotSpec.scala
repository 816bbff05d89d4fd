package graft

import graft.pipelines.EthBot
import org.apache.spark.sql.functions._

/** Golden end-to-end: the composed pipeline vs a pinned run of the
  * reference's own stable_eth_meanrevert_bot.py on the same fixture
  * CSVs (src/test/resources/ethbot — includes malformed lines and a
  * positive-polarity pool). */
class EthBotSpec extends SparkSpec {

  private def resource(name: String): String =
    getClass.getResource(s"/ethbot/$name").getPath
  private lazy val dataDir = resource("data")

  private def pinned(name: String) =
    spark.read.option("header", "true").csv(resource(name))

  test("mean-reversion trades match the reference run exactly") {
    val got = EthBot.tradesMeanReversion(spark, dataDir, thrPct = 0.05)
      .orderBy("pool", "entry_ts").collect()
    val exp = pinned("trades_meanrev.csv")
      .orderBy("pool", "entry_ts").collect()
    assert(got.length == exp.length && got.length == 30)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0)) // pool
      assert(g.getString(1) == e.getString(1)) // side
      val expEpoch = java.time.LocalDateTime
        .parse(e.getString(2).replace(" ", "T").takeWhile(_ != '+'))
        .toEpochSecond(java.time.ZoneOffset.UTC)
      assert(g.getTimestamp(2).toInstant.getEpochSecond == expEpoch)
      assert(math.abs(g.getDouble(6) - e.getString(6).toDouble) < 1e-9)
    }
  }

  test("z-score trades match the reference run exactly") {
    val got = EthBot.tradesZscore(spark, dataDir, lookback = 60,
        entryZ = 1.5, exitZ = 0.2, maxHold = 120)
      .orderBy("pool", "entry_ts").collect()
    val exp = pinned("trades_zscore.csv")
      .orderBy("pool", "entry_ts").collect()
    assert(got.length == exp.length && got.length == 60)
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      assert(g.getString(1) == e.getString(1))
      assert(g.getInt(9) == e.getString(9).toInt) // held_rows
      assert(math.abs(g.getDouble(8) - e.getString(8).toDouble) < 1e-9) // pct
      assert(math.abs(g.getDouble(6) - e.getString(6).toDouble) < 1e-9) // entry_z
    }
  }

  test("monthly aggregation matches the reference total") {
    val trades = EthBot.tradesMeanReversion(spark, dataDir, thrPct = 0.05)
    val monthly = EthBot.monthlyReturns(trades).collect()
    assert(monthly.length == 1)
    assert(math.abs(monthly(0).getDouble(1) - 0.107032) < 1e-5)
  }

  test("z-score mode: flat stretches give null z, not a divide by zero") {
    // two pools on one tick; USDC goes 100 ticks up for minutes 5-8.
    // With lookback 3 the warm-up and the flat windows (minutes 2-4 and
    // 7-8) have σ 0; dev = ±d at the jump gives z = ±√2, then ±1/√2,
    // and −/+√2 when USDC drops back at minute 9
    val dir = java.nio.file.Files.createTempDirectory("ethbot_flat")
    val t0 = 1704067200L
    def write(name: String, tick: Int => Int): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        ("timestamp,tick,extra" +: (0 until 10).map(m => s"${t0 + 60 * m + 7},${tick(m)},x"))
          .mkString("", "\n", "\n"))
    write("DAIETH500_Swap.csv", _ => -80000)
    write("USDCETH500_Swap.csv", m => if (m >= 5 && m <= 8) -79900 else -80000)
    val got = EthBot.tradesZscore(spark, dir.toString, lookback = 3,
        entryZ = 1.4, exitZ = 0.2, maxHold = 100)
      .orderBy("pool").collect()
    val up = 1.0 - math.pow(1.0001, -100) // short return on USDC's drop
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("DAIETH500", "long"), ("USDCETH500", "short")))
    got.zip(Seq((-1.0, 0.0), (1.0, up))).foreach { case (g, (sign, ret)) =>
      assert(g.getTimestamp(2).toInstant.getEpochSecond == t0 + 300)
      assert(g.getTimestamp(3).toInstant.getEpochSecond == t0 + 540)
      assert(math.abs(g.getDouble(6) - sign * math.sqrt(2)) < 1e-9) // entry_z
      assert(math.abs(g.getDouble(7) + sign * math.sqrt(2)) < 1e-9) // exit_z
      assert(math.abs(g.getDouble(8) - ret) < 1e-12)
      assert(g.getInt(9) == 4)
    }
  }

  test("one executed swap-CSV scan per tradesZscore call") {
    // polarity, resample, common grid and consensus all ride the one scan
    val (trades, m) = graft.obs.QueryMetrics.of(spark)(EthBot.tradesZscore(spark, dataDir,
      lookback = 60, entryZ = 1.5, exitZ = 0.2, maxHold = 120).collect())
    val scans = m.nodes.count {
      case (f: org.apache.spark.sql.execution.FileSourceScanExec, _) =>
        f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dataDir))
      case _ => false
    }
    assert(trades.length == 60)
    assert(scans == 1, s"$scans swap-CSV scans executed")
  }
}
