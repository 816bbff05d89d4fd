package graft

import graft.ops.{Backtest, SeriesQueries, TimeSeries}
import org.apache.spark.sql.functions._

class BacktestSpec extends SparkSpec {
  import spark.implicits._

  test("meanReversion: entry row makes no exit decision; open tail discarded") {
    // dev: -0.6 (enter long), -0.1 (hold), 0.2 (exit), 0.7 (enter short), stays
    val rows = Seq(
      ("p", 1L, 10.0, -0.6), ("p", 2L, 11.0, -0.1),
      ("p", 3L, 12.0, 0.2), ("p", 4L, 13.0, 0.7), ("p", 5L, 14.0, 0.8))
    val got = Backtest.meanReversion(rows.toDF("k", "t", "px", "dev"),
      "k", "t", "px", "dev", thr = 0.5).collect()
    assert(got.length == 1)
    val t = got(0)
    assert(t.getString(1) == "long")
    assert(t.getDouble(4) == 10.0 && t.getDouble(5) == 12.0)
    assert(math.abs(t.getDouble(6) - 0.2) < 1e-12)
  }

  test("meanReversion: short return is negated") {
    val rows = Seq(("p", 1L, 100.0, 0.9), ("p", 2L, 80.0, -0.1))
    val got = Backtest.meanReversion(rows.toDF("k", "t", "px", "dev"),
      "k", "t", "px", "dev", thr = 0.5).collect()
    assert(got.length == 1 && got(0).getString(1) == "short")
    assert(math.abs(got(0).getDouble(6) - 0.2) < 1e-12) // (100-80)/100
  }

  test("meanReversion: keys are independent") {
    val rows = Seq(
      ("a", 1L, 10.0, -0.6), ("a", 2L, 12.0, 0.1),
      ("b", 1L, 10.0, -0.6), ("b", 2L, 11.0, -0.2))
    val got = Backtest.meanReversion(rows.toDF("k", "t", "px", "dev"),
      "k", "t", "px", "dev", thr = 0.5).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a")) // b never exits
  }

  test("zscoreReversion: time stop fires, held counts skipped null rows") {
    // enter at t=1 (z=-3); nulls at t=2..3 advance the clock; at t=4 held=3>=3
    val rows = Seq(
      ("p", 1L, 10.0, Some(-3.0)), ("p", 2L, 11.0, None),
      ("p", 3L, 12.0, None), ("p", 4L, 13.0, Some(-1.0)))
    val got = Backtest.zscoreReversion(rows.toDF("k", "t", "px", "z"),
      "k", "t", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 3).collect()
    assert(got.length == 1)
    assert(got(0).getInt(9) == 3) // held_rows
    assert(math.abs(got(0).getDouble(8) - 0.3) < 1e-12)
  }

  test("zscoreReversion: one-sided exit — long exits when z >= -exitZ") {
    val rows = Seq(
      ("p", 1L, 10.0, Some(-2.5)), ("p", 2L, 11.0, Some(-0.1)))
    val got = Backtest.zscoreReversion(rows.toDF("k", "t", "px", "z"),
      "k", "t", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 100).collect()
    assert(got.length == 1 && got(0).getString(1) == "long")
    assert(got(0).getDouble(7) == -0.1) // exit_z
  }

  test("zscoreReversion: short does not exit while z stays above exitZ") {
    val rows = Seq(
      ("p", 1L, 10.0, Some(2.5)), ("p", 2L, 11.0, Some(1.0)),
      ("p", 3L, 12.0, Some(0.1)))
    val got = Backtest.zscoreReversion(rows.toDF("k", "t", "px", "z"),
      "k", "t", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 100).collect()
    assert(got.length == 1)
    assert(got(0).getLong(3) == 0L || got(0).get(3) != null) // exits at t=3
    assert(got(0).getDouble(7) == 0.1)
  }

  test("pct_return is null, not inf, at a zero entry price in both FSMs") {
    val mr = Backtest.meanReversion(
      Seq(("p", 1L, 0.0, -0.6), ("p", 2L, 5.0, 0.1)).toDF("k", "t", "px", "dev"),
      "k", "t", "px", "dev", thr = 0.5).collect()
    assert(mr.length == 1 && mr(0).isNullAt(6))
    val zs = Backtest.zscoreReversion(
      Seq(("p", 1L, 0.0, 2.5), ("p", 2L, 5.0, 0.1)).toDF("k", "t", "px", "z"),
      "k", "t", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 100).collect()
    assert(zs.length == 1 && zs(0).getString(1) == "short" && zs(0).isNullAt(8))
    assert(zs(0).getInt(9) == 1)
  }

  test("a NaN price makes no decision in either FSM; the F2 clock still advances") {
    // t=1 and t=3 carry a NaN price with a signal that would open (t=1)
    // or close (t=3): the position opens at t=2 and closes at t=4
    val nan = Double.NaN
    val mr = Backtest.meanReversion(
      Seq(("p", 1L, nan, -0.6), ("p", 2L, 10.0, -0.6), ("p", 3L, nan, 0.1),
        ("p", 4L, 12.0, 0.1)).toDF("k", "t", "px", "dev"),
      "k", "t", "px", "dev", thr = 0.5).collect()
    assert(mr.map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4),
      r.getDouble(5))).toSeq == Seq(("long", 2L, 4L, 10.0, 12.0)))
    assert(math.abs(mr(0).getDouble(6) - 0.2) < 1e-12)
    val zs = Backtest.zscoreReversion(
      Seq(("p", 1L, nan, -2.5), ("p", 2L, 10.0, -2.5), ("p", 3L, nan, -0.1),
        ("p", 4L, 11.0, -0.1)).toDF("k", "t", "px", "z"),
      "k", "t", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 100).collect()
    assert(zs.map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4),
      r.getDouble(5), r.getInt(9))).toSeq == Seq(("long", 2L, 4L, 10.0, 11.0, 2)))
    assert(math.abs(zs(0).getDouble(8) - 0.1) < 1e-12)
  }

  /** Random walk per key with null and short constant runs, and prices. */
  private def series(seed: Long, keys: Seq[(String, Int)], maxRun: Int) = {
    val rnd = new scala.util.Random(seed)
    keys.flatMap { case (k, n) =>
      var v = rnd.nextGaussian()
      var run = 0
      (0 until n).map { i =>
        if (run > 0) run -= 1
        else {
          v += rnd.nextGaussian()
          if (maxRun > 1 && rnd.nextDouble() < 0.05) run = rnd.nextInt(maxRun - 1) + 1
        }
        val dev = if (rnd.nextDouble() < 0.03) None else Some(v)
        (k, i.toLong, 50.0 + 10.0 * rnd.nextDouble(), dev)
      }
    }.toDF("k", "t", "px", "dev")
  }

  test("rollingZscoreReversion equals rollingStats + zscoreReversion") {
    def close(a: Double, b: Double, tol: Double) =
      math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    for (lookback <- Seq(1, 2, 24, 60)) {
      // constant runs stay shorter than the window, so no window has σ 0
      val df = series(lookback, Seq(("a", 700), ("b", 450), ("c", 900)), lookback - 1)
      val withZ = TimeSeries.rollingStats(df, "k", "t", "dev", n = lookback,
          minPeriods = lookback, ddofZero = true, meanCol = "rm", stdCol = "rs")
        .withColumn("z", when(col("rs") =!= 0, (col("dev") - col("rm")) / col("rs")))
      val exp = Backtest.zscoreReversion(withZ, "k", "t", "px", "z",
          entryZ = 0.9, exitZ = 0.2, maxHold = 10)
        .orderBy("pool", "entry_ts").collect()
      val got = Backtest.rollingZscoreReversion(df, "k", "t", "px", "dev",
          lookback, entryZ = 0.9, exitZ = 0.2, maxHold = 10)
        .orderBy("pool", "entry_ts").collect()
      // the window's σ at each row, for the z tolerance below
      val sigma = withZ.filter(col("rs").isNotNull).select("k", "t", "rs").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // a one-row window has σ 0 everywhere: no z, no trades
      if (lookback == 1) assert(exp.isEmpty)
      else assert(exp.map(_.getString(0)).distinct.length == 3, s"lookback $lookback")
      assert(got.length == exp.length, s"lookback $lookback")
      got.zip(exp).foreach { case (g, e) =>
        assert((0 to 3).map(g.get) == (0 to 3).map(e.get), s"lookback $lookback")
        assert(g.getInt(9) == e.getInt(9))
        Seq(4, 5, 8).foreach(i => assert(close(g.getDouble(i), e.getDouble(i), 1e-9),
          s"lookback $lookback col $i: ${g.getDouble(i)} vs ${e.getDouble(i)}"))
        // z to 1e-9 relative, plus the absolute variance error that
        // pandas' add/remove update accumulates along a series (~3e-13
        // seen on these random walks; budget 1e-11) over the window's σ².
        // Only a nearly flat window, which the sliding frame recomputes
        // exactly, needs more than the 1e-9
        Seq((6, 2), (7, 3)).foreach { case (zi, ti) =>
          val sd = sigma((g.getString(0), g.getLong(ti)))
          assert(close(g.getDouble(zi), e.getDouble(zi), 1e-9 + 1e-11 / (sd * sd)),
            s"lookback $lookback col $zi σ $sd: ${g.getDouble(zi)} vs ${e.getDouble(zi)}")
        }
      }
    }
  }

  test("rollingZscoreReversion: a flat window gives null z, and its rows count toward held") {
    // dev 0,0,0,0,0 | 1,1,1,1 | 0 with lookback 3: z null on the warm-up
    // and on every flat window; √2 at the jump opens a short, 1/√2 holds
    // it, and −√2 closes it four rows after entry
    val devs = Seq(0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.0)
    val df = devs.zipWithIndex.map { case (d, i) => ("p", i.toLong, 10.0 + d, d) }
      .toDF("k", "t", "px", "dev")
    val got = Backtest.rollingZscoreReversion(df, "k", "t", "px", "dev",
      lookback = 3, entryZ = 1.4, exitZ = 0.2, maxHold = 100).collect()
    assert(got.length == 1)
    val t = got(0)
    assert(t.getString(1) == "short" && t.getLong(2) == 5L && t.getLong(3) == 9L)
    assert(math.abs(t.getDouble(6) - math.sqrt(2.0)) < 1e-12)
    assert(math.abs(t.getDouble(7) + math.sqrt(2.0)) < 1e-12)
    assert(t.getInt(9) == 4)
    assert(math.abs(t.getDouble(8) - 1.0 / 11.0) < 1e-12)
  }

  test("q_fsm_zscore: a flat stretch of the lookback gives null z, not a divide by zero") {
    // two event types, hourly; both flat at 10.0 for 30 h (every window
    // of 24 has σ 0), then click jumps to 20.0 for two hours and back
    val dir = java.nio.file.Files.createTempDirectory("fsm_flat").toString
    val t0 = 1704067200000L
    val rows = for (h <- 0 until 36; (et, j) <- Seq(("click", 0), ("view", 1))) yield {
      val v = if (et == "click" && (h == 30 || h == 31)) 20.0 else 10.0
      ((h * 2 + j).toLong, new java.sql.Timestamp(t0 + h * 3600000L), 1L, et, v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SeriesQueries.fsmZscore(spark, dir).collect()
    // dev jumps from 0 to ±5 in a window of 23 zeros: z = ±√23; two rows
    // later the window holds two ±5 and z = ∓10/√1100, inside ±0.2
    val exp = Seq(("click", "short", 20.0, 10.0, math.sqrt(23), -10 / math.sqrt(1100), 0.5),
      ("view", "long", 10.0, 10.0, -math.sqrt(23), 10 / math.sqrt(1100), 0.0))
    assert(got.length == 2)
    got.zip(exp).foreach { case (g, (pool, side, epx, xpx, ez, xz, ret)) =>
      assert(g.getString(0) == pool && g.getString(1) == side)
      assert(g.get(2).toString == "2024-01-02T06:00" && g.get(3).toString == "2024-01-02T08:00")
      assert(g.getDouble(4) == epx && g.getDouble(5) == xpx)
      assert(math.abs(g.getDouble(6) - ez) < 1e-6 && math.abs(g.getDouble(7) - xz) < 1e-6)
      assert(math.abs(g.getDouble(8) - ret) < 1e-6 && g.getInt(9) == 2)
    }
  }
}
