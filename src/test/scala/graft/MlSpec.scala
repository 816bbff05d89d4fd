package graft

import graft.ml.MlPipeline
import graft.ops.TimeSeries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("dataset: features finite, labels binary, only negative devdt rows") {
    val ds = MlPipeline.dataset(spark, sf).cache()
    assert(ds.count() > 0)
    assert(ds.filter(col("devdt") >= 0).count() == 0)
    assert(ds.filter(!col("y").isin(0, 1)).count() == 0)
    assert(ds.filter(col("sigma") < MlPipeline.SigmaMin).count() == 0)
  }

  test("timeSplit is chronological, not random") {
    val ds = MlPipeline.dataset(spark, sf)
    val (train, test) = MlPipeline.timeSplit(ds, 0.7, "bucket")
    val maxTrain = train.agg(max("bucket")).head().getTimestamp(0)
    val minTest = test.agg(min("bucket")).head().getTimestamp(0)
    assert(!minTest.before(maxTrain) || minTest.equals(maxTrain))
    val n = ds.count()
    assert(math.abs(train.count() - (n * 0.7).toLong) <= 1)
  }

  test("trainEval produces sane metrics") {
    val m = MlPipeline.trainEval(spark, sf).head()
    val acc = m.getDouble(2)
    assert(acc >= 0.0 && acc <= 1.0)
    assert(m.getLong(0) > 0 && m.getLong(1) > 0)
  }

  test("nowSignals: one row per key with LONG/NO TRADE") {
    val s = MlPipeline.nowSignals(spark, sf).collect()
    assert(s.nonEmpty && s.length <= 5)
    assert(s.forall(r => Set("LONG", "NO TRADE").contains(r.getString(4))))
  }

  test("metrics pinned at sf0.01: regressions cannot hide behind no_oracle") {
    // q_ml_train_eval / q_ml_signals are rows-only at the driver gate
    // (model-dependent — no SQL oracle); these pins are the recorded
    // 2026-08-13 run at sf0.01, tolerance 1e-6, so any change in the
    // feature chain, split, scaling or fit shows up here instead of
    // slipping through.
    val d = "/root/testdata/sf0.01"
    val m = MlPipeline.trainEval(spark, d).head()
    assert(m.getLong(0) == 1639L && m.getLong(1) == 703L)
    assert(math.abs(m.getDouble(2) - 0.9928876244665719) < 1e-6, s"accuracy ${m.getDouble(2)}")
    assert(math.abs(m.getDouble(3) - 0.9326647564469914) < 1e-6, s"auc ${m.getDouble(3)}")
    assert(math.abs(m.getDouble(4) - 0.9871873093349604) < 1e-6, s"base rate ${m.getDouble(4)}")
    val pinned = Map( // event_type -> (prob, devdt, signal)
      "click"    -> (0.999986, -76.869904, "LONG"),
      "error"    -> (0.999995, -72.538221, "LONG"),
      "purchase" -> (0.979357, -2.081147, "LONG"),
      "signup"   -> (0.999745, -69.058502, "LONG"),
      "view"     -> (0.912427, -4.234161, "LONG"))
    val got = MlPipeline.nowSignals(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getString(4))))
      .toMap
    assert(got.keySet == pinned.keySet)
    for ((k, (p, dv, s)) <- pinned) {
      val (gp, gdv, gs) = got(k)
      assert(math.abs(gp - p) < 2e-6 && math.abs(gdv - dv) < 2e-6 && gs == s,
        s"$k: got ($gp, $gdv, $gs), pinned ($p, $dv, $s)")
    }
  }

  test("pinned serving artifact matches a live refit at sf0.01 (drift gate)") {
    // PinnedModel.W/B is the PinModel export of exactly this fit; if the
    // feature chain, split, scaler or LBFGS drifts, the pinned queries
    // would stay green against a STALE artifact — this is the gate that
    // makes the artifact's provenance a live invariant instead of a
    // comment. (Uses the fitted-cache, so no extra LBFGS run when the
    // metrics-pin test above has already trained at sf0.01.)
    val (w, b) = MlPipeline.foldedWeights(spark, "/root/testdata/sf0.01")
    assert(w.length == graft.ml.PinnedModel.W.length)
    w.zip(graft.ml.PinnedModel.W).zipWithIndex.foreach { case ((g, p), i) =>
      assert(math.abs(g - p) < 1e-6, s"folded weight $i: refit $g vs pinned $p")
    }
    assert(math.abs(b - graft.ml.PinnedModel.B) < 1e-6,
      s"folded intercept: refit $b vs pinned ${graft.ml.PinnedModel.B}")
  }

  test("fitted-model LRU eviction releases executor storage") {
    // cap 1: the second fit must evict (and unpersist) the first.
    // Each fit persists ~4 blocks (ds/train/test frames + the sorted
    // base RDD); without eviction the persistent-RDD count grows by
    // that much per fit, with eviction it stays flat.
    val old = MlPipeline.MaxFitted
    MlPipeline.MaxFitted = 1
    try {
      MlPipeline.trainEval(spark, sf).count()
      val n1 = spark.sparkContext.getPersistentRDDs.size
      MlPipeline.trainEval(spark, "/root/testdata/sf0.01").count()
      val n2 = spark.sparkContext.getPersistentRDDs.size
      assert(n2 <= n1 + 1, s"eviction leaked storage: $n1 -> $n2")
    } finally MlPipeline.MaxFitted = old
  }

  /** The reference `dataset` must equal: the feature chain composed from
    * the public operators, one window or join per step. */
  private def chain(events: DataFrame): DataFrame = {
    val filled = TimeSeries.resampleFfill(events, "event_type", "ts", "value", "hour",
      "event_id")
    val consensus = filled.groupBy("bucket").agg(median(col("value")).as("consensus"))
    val dev = filled.join(consensus, Seq("bucket"))
      .withColumn("dev", col("value") - col("consensus"))
    val withBias = TimeSeries.ewmMean(dev, "event_type", "bucket", "dev",
        MlPipeline.EwmHalflife, minPeriods = 5, out = "bias")
      .withColumn("devdt", col("dev") - col("bias"))
    val withSigma = TimeSeries.rollingStats(withBias, "event_type", "bucket", "devdt",
        n = MlPipeline.StdWin, minPeriods = 8, ddofZero = false,
        meanCol = "m_unused", stdCol = "sigma_raw")
      .withColumn("sigma", TimeSeries.sigmaFloor(col("sigma_raw"), MlPipeline.SigmaMin))
      .withColumn("z", col("devdt") / col("sigma"))
    val pairId = when(col("event_type") === "click", 0)
      .when(col("event_type") === "error", 1)
      .when(col("event_type") === "purchase", 2)
      .when(col("event_type") === "signup", 3)
      .when(col("event_type") === "view", 4).otherwise(-1)
    TimeSeries.forwardLabel(withSigma.filter(col("devdt").isNotNull), "event_type",
        "bucket", "devdt", MlPipeline.Horizon, MlPipeline.Target)
      .select(col("event_type"), col("bucket"), col("z"), col("devdt"), col("bias"),
        col("sigma"), pairId.as("pair_id"), col("y"))
  }

  /** Rows in (event_type, bucket) order with every double as its bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("event_type", "bucket").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case o => o
    })

  private def assertSameAsChain(dir: String): Int = {
    val got = MlPipeline.dataset(spark, dir)
    val exp = chain(Tables.events(spark, dir))
    assert(got.schema == exp.schema, s"${got.schema.treeString}\nvs\n${exp.schema.treeString}")
    val (g, e) = (bits(got), bits(exp))
    assert(g.size == e.size, s"$dir: ${g.size} rows vs ${e.size}")
    g.zip(e).foreach { case (a, b) => assert(a == b, s"$dir: $a vs $b") }
    g.size
  }

  test("dataset equals the public-operator chain bit for bit at sf0.01") {
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    assert(assertSameAsChain(sf01) > 2000)
  }

  test("dataset equals the public-operator chain on a stress table") {
    // six keys: one shorter than the EWM and σ min periods, one outside
    // the pair map; 8% null values; constant runs of 10-60 rows (σ 0,
    // floored); gaps of up to two days; ties in ts broken by event_id
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val keys = Seq("click" -> 900, "error" -> 600, "purchase" -> 700, "signup" -> 800,
      "view" -> 4, "zz" -> 300)
    var id = 0L
    val rows = keys.flatMap { case (k, n) =>
      var t = t0 + rnd.nextInt(3600000)
      var level = rnd.nextGaussian() * 80
      var flat = 0
      (0 until n).map { _ =>
        t += (rnd.nextInt(20) match {
          case 0 => rnd.nextInt(172800) * 1000L
          case 1 => 0L
          case _ => rnd.nextInt(5400) * 1000L
        })
        if (flat > 0) flat -= 1
        else if (rnd.nextInt(25) == 0) flat = 10 + rnd.nextInt(50)
        else level += rnd.nextGaussian() * 40
        id += 1
        (id, new java.sql.Timestamp(t), 0L, k,
          if (rnd.nextInt(100) < 8) None else Some(level), "")
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("ml_stress").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.parquet(s"$dir/events.parquet")
    val n = assertSameAsChain(dir)
    val ds = MlPipeline.dataset(spark, dir)
    assert(n > 500 && ds.filter(col("y") === 1).count() > 0 &&
      ds.filter(col("y") === 0).count() > 0 && ds.filter(col("pair_id") === -1).count() > 0)
  }
}
