package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.ops.TimeSeries

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("rowMean / rowMedian skip nulls like pandas axis=1") {
    val df = Seq(
      (Some(1.0), Some(3.0), Some(5.0)),
      (Some(2.0), None, Some(4.0)),
      (None, None, None)
    ).toDF("a", "b", "c")
    val cols = Seq(col("a"), col("b"), col("c"))
    val got = df.select(
      TimeSeries.rowMean(cols).as("m"),
      TimeSeries.rowMedian(cols).as("med")).collect()
    assert(got(0).getDouble(0) == 3.0 && got(0).getDouble(1) == 3.0)
    assert(got(1).getDouble(0) == 3.0 && got(1).getDouble(1) == 3.0)
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("resampleFfill fills gaps per key without leaking across keys") {
    val df = Seq(
      ("a", ts("2024-01-01 00:10:00"), 1.0, 1L),
      ("a", ts("2024-01-01 03:20:00"), 4.0, 2L),
      ("b", ts("2024-01-01 01:05:00"), 9.0, 3L)
    ).toDF("k", "t", "v", "id")
    val got = TimeSeries.resampleFfill(df, "k", "t", "v", "hour", "id")
      .orderBy("k", "bucket").collect()
    // key a: 00,01,02,03 → 1,1(filled),1(filled),4 ; key b: just 01 → 9
    assert(got.length == 5)
    assert(got.take(4).map(_.getDouble(2)).toSeq == Seq(1.0, 1.0, 1.0, 4.0))
    assert(got(4).getString(0) == "b" && got(4).getDouble(2) == 9.0)
  }

  test("resampleLast keeps the chronologically last row per bucket") {
    val df = Seq(
      ("a", ts("2024-01-01 00:10:00"), 1.0, 1L),
      ("a", ts("2024-01-01 00:50:00"), 2.0, 2L),
      ("a", ts("2024-01-01 00:50:00"), 3.0, 9L) // same ts → higher id wins
    ).toDF("k", "t", "v", "id")
    val got = TimeSeries.resampleLast(df, "k", "t", "v", "hour", "id").collect()
    assert(got.length == 1 && got(0).getDouble(2) == 3.0)
  }

  test("ewmMean matches pandas adjust=False recursion with min_periods") {
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val df = xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "t", "v")
    val got = TimeSeries.ewmMean(df, "k", "t", "v", halflife = 3.0,
        minPeriods = 2, out = "b")
      .orderBy("t").select("b").collect()
    // pandas: s.ewm(alpha=1-0.5**(1/3), adjust=False, min_periods=2).mean()
    val exp = Seq(None, Some(2.58740105196820), Some(2.87881947462977),
      Some(2.49122000000000), Some(3.00878000000000), Some(4.24476552669313),
      Some(3.78167158286918), Some(4.23931157094522))
    got.zip(exp).foreach {
      case (r, None) => assert(r.isNullAt(0))
      case (r, Some(e)) => assert(math.abs(r.getDouble(0) - e) < 1e-6)
    }
  }

  test("ewmMean halflife<=0 yields zero bias") {
    val df = Seq(("k", 0L, 5.0), ("k", 1L, 7.0)).toDF("k", "t", "v")
    val got = TimeSeries.ewmMean(df, "k", "t", "v", halflife = 0.0,
      minPeriods = 1, out = "b").select("b").collect()
    assert(got.forall(_.getDouble(0) == 0.0))
  }

  test("rollingStats honors min_periods and ddof") {
    val df = (1 to 5).map(i => ("k", i.toLong, i.toDouble)).toDF("k", "t", "v")
    val got = TimeSeries.rollingStats(df, "k", "t", "v", n = 3, minPeriods = 3,
        ddofZero = true, meanCol = "m", stdCol = "s")
      .orderBy("t").collect()
    assert(got(0).isNullAt(3) && got(1).isNullAt(3))
    assert(got(2).getDouble(3) == 2.0) // mean(1,2,3)
    assert(math.abs(got(2).getDouble(4) - math.sqrt(2.0 / 3.0)) < 1e-12) // pop std
  }

  test("forwardLabel drops dev>=0 and tail rows without lookahead") {
    val df = Seq(
      ("k", 1L, -5.0), ("k", 2L, 1.0), ("k", 3L, -2.0), ("k", 4L, -1.0)
    ).toDF("k", "t", "dev")
    val got = TimeSeries.forwardLabel(df, "k", "t", "dev", horizon = 2, target = 3.0)
      .orderBy("t").collect()
    // t=1: fmax over {1,-2}=1, 1-(-5)=6>=3 → y=1 ; t=2 dev>0 skip;
    // t=3: fmax={-1}, -1-(-2)=1<3 → y=0 ; t=4: no lookahead → dropped
    assert(got.map(r => (r.getLong(1), r.getInt(4))).toSeq == Seq((1L, 1), (3L, 0)))
  }

  test("canonizePair truth table (pyc stable_fee_ml_bot.py:57-63)") {
    val allowed = Seq(("DAI", "USDC"), ("DAI", "USDT"), ("USDC", "USDT"))
    val df = Seq(("DAI", "USDC"), ("USDC", "DAI"), ("USDT", "USDC"))
      .toDF("a", "b")
    val got = df.select(TimeSeries.canonizePair(col("a"), col("b"), allowed).as("c"))
      .select("c.a", "c.b", "c.sign").collect()
    assert(got(0) == Row("DAI", "USDC", 1))
    assert(got(1) == Row("DAI", "USDC", -1))
    assert(got(2) == Row("USDC", "USDT", -1))
  }

  test("polarity flips sign only when median >= 0") {
    val df = Seq(("p", 1.0), ("p", 2.0), ("n", -1.0), ("n", -2.0)).toDF("k", "v")
    val got = TimeSeries.polarity(df, "k", "v").orderBy("k", "v")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("n", -2.0), ("n", -1.0), ("p", -2.0), ("p", -1.0)))
  }

  /** (key, bucket µs, value bits or null), sorted: equality is bit for bit. */
  private def cells(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Option[Long])] =
    df.select(col("k").cast("string"), unix_micros(col("bucket")), col("v").cast("double"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      .sortBy(c => (Option(c._1), c._2))

  test("resampleFfillFold equals resampleFfill, with and without polarity") {
    val rnd = new scala.util.Random(7)
    def at(sec: Long) = Some(new java.sql.Timestamp(sec * 1000))
    val t0 = ts("2024-01-01 00:00:00").getTime / 1000
    // five keys of 1-400 rows with gaps, 10% null values, equal ts broken
    // by the tiebreak and null ts; "p" has a positive median, "n" only
    // null values. Minute 3 of key "a" ends on a null value after a
    // non-null one: the null wins the bucket and the fill carries minute
    // 2's value
    val random = Seq("a" -> 400, "b" -> 120, "p" -> 200, "q" -> 1, "r" -> 3).flatMap {
      case (k, n) =>
        var t = t0 + rnd.nextInt(600)
        (0 until n).map { _ =>
          if (rnd.nextInt(10) > 0) t += (if (rnd.nextInt(8) == 0) rnd.nextInt(20000) else rnd.nextInt(90))
          val v = if (rnd.nextInt(10) == 0) None
            else Some((if (k == "p") 50.0 else -50.0) + rnd.nextGaussian() * 30)
          val when = if (rnd.nextInt(50) == 0) None else at(t)
          (k, when, v)
        }
    }
    val fixed = Seq(("a", at(t0 - 3600 + 125), Some(1.5)), ("a", at(t0 - 3600 + 130), Some(2.5)),
      ("a", at(t0 - 3600 + 190), Some(3.5)), ("a", at(t0 - 3600 + 195), None),
      ("n", at(t0), None), ("n", at(t0 + 7300), None))
    // unique tiebreaks, in an order unrelated to the rows'
    val rows = (random ++ fixed)
      .zip(rnd.shuffle((0L until random.size + fixed.size.toLong).toList))
      .map { case ((k, t, v), id) => (k, t, v, id) }
    val df = rows.toDF("k", "t", "v", "id").repartition(3)
    for (freq <- Seq("minute", "hour")) {
      val fold = cells(TimeSeries.resampleFfillFold(df, "k", "t", "v", freq, "id"))
      assert(fold == cells(TimeSeries.resampleFfill(df, "k", "t", "v", freq, "id")), freq)
      assert(fold.exists(_._3.isEmpty) && fold.map(_._1).distinct.size == 6)
      val flipped = cells(TimeSeries.resampleFfillFold(df, "k", "t", "v", freq, "id",
        polarity = true))
      assert(flipped == cells(TimeSeries.resampleFfill(TimeSeries.polarity(df, "k", "v"),
        "k", "t", "v", freq, "id")), s"$freq, polarity")
      assert(flipped != fold)
    }
    // minute 3's null last value: the fill carries minute 2's last value
    val a = cells(TimeSeries.resampleFfillFold(df, "k", "t", "v", "minute", "id"))
      .filter(_._1 == "a").take(2).map(_._3.map(java.lang.Double.longBitsToDouble))
    assert(a == Seq(Some(2.5), Some(2.5)))
  }
}
