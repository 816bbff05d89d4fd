package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.ops.TimeSeries

/** ML surface (SURVEY.md §2.7) — the fee-bot's detrended-deviation
  * feature chain, forward label, time-ordered split, scale+logistic
  * pipeline, evaluation and NOW-signal scoring, re-expressed on
  * spark.ml. Feature construction mirrors `add_devs_detrended` /
  * `build_ml_dataset` (pyc stable_fee_ml_bot.py:115-169): consensus =
  * row median across keys, bias = EWM of deviation, devdt = dev − bias,
  * sigma = relaxed-min_periods rolling std of devdt (floored), z =
  * devdt / sigma, label = forward-horizon max gain ≥ target.
  */
object MlPipeline {

  val Horizon = 24
  val Target = 50.0
  val EwmHalflife = 12.0
  val StdWin = 24
  val SigmaMin = 0.5

  /** Deterministic feature/label dataset from the hourly events grid.
    * Everything here is oracle-checkable (no model involved).
    *
    * Three passes, each one shuffle:
    *  1. per key: the hourly resample + ffill fold
    *     ([[TimeSeries.resampleFfillFold]]);
    *  2. per bucket: the consensus, `median(value)` over a window;
    *  3. per key, one sorted walk ([[featureWalk]]): EWM bias (the
    *     [[TimeSeries.Ewm]] step), devdt, the floored rolling σ, z and
    *     the forward label.
    * Its rows equal, bit for bit, those of the operator chain
    * `resampleFfill` → median join → `ewmMean` → `rollingStats` →
    * `forwardLabel` (MlSpec). Precondition: a key's grid fits one task.
    */
  def dataset(spark: SparkSession, dir: String): DataFrame = {
    val filled = TimeSeries.resampleFfillFold(Tables.events(spark, dir),
      "event_type", "ts", "value", "hour", "event_id")
    // consensus: row-median across keys present at the bucket (A4)
    val dev = filled.select(col("event_type"), unix_micros(col("bucket")).as("bucket"),
      (col("value") - median(col("value")).over(Window.partitionBy("bucket"))).as("dev"))
    // pair_id: ordinal key id (M1's {DAI/USDC:0,…} map); fee: synthetic tier
    val pairId = when(col("event_type") === "click", 0)
      .when(col("event_type") === "error", 1)
      .when(col("event_type") === "purchase", 2)
      .when(col("event_type") === "signup", 3)
      .when(col("event_type") === "view", 4).otherwise(-1)
    TimeSeries.foldByKey(dev, FeatureSchema)(featureWalk)
      .select(col("event_type"), timestamp_micros(col("bucket")).as("bucket"),
        col("z"), col("devdt"), col("bias"), col("sigma"),
        pairId.as("pair_id"), col("y"))
  }

  private val EwmMinPeriods = math.max(5, (EwmHalflife / 3).toInt)
  private val StdMinPeriods = math.max(5, StdWin / 3)

  private val FeatureSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("bucket", LongType, nullable = false),
    StructField("z", DoubleType), StructField("devdt", DoubleType),
    StructField("bias", DoubleType), StructField("sigma", DoubleType, nullable = false),
    StructField("y", IntegerType)))

  /** One key's features from its (key, bucket µs, dev) rows, the window
    * chain's semantics in one walk:
    *  - bias: `ewmMean(dev)`; devdt = dev − bias, null when either is;
    *  - σ: `stddev_samp(devdt)` over the trailing [[StdWin]] rows when
    *    they hold ≥ [[StdMinPeriods]] non-null devdt, computed as Spark's
    *    sliding frame does — `CentralMomentAgg`'s n/avg/m2 update run
    *    afresh over the frame for each row, so the doubles are identical;
    *    sigma = σ floored at [[SigmaMin]], z = devdt / sigma;
    *  - label: over the non-null-devdt rows, fmax = `max` of the next
    *    [[Horizon]] devdt; rows with devdt < 0 and an fmax are kept, y =
    *    fmax − devdt ≥ [[Target]].
    * Comparisons use Spark's double order (NaN largest, −0.0 = 0.0). */
  private def featureWalk(key: String, rows: Iterator[Row]): Iterator[Row] = {
    val sorted = rows.toArray.sortBy(_.getLong(1))
    val n = sorted.length
    val ewm = new TimeSeries.Ewm(EwmHalflife, EwmMinPeriods)
    val bias = new Array[Double](n)
    val devdt = new Array[Double](n)
    val hasDt = new Array[Boolean](n)
    for (i <- 0 until n) {
      val r = sorted(i)
      val x = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      bias(i) = ewm.next(x)
      hasDt(i) = !r.isNullAt(2) && !bias(i).isNaN
      devdt(i) = x - bias(i)
    }
    def sigma(i: Int): Double = {
      val from = math.max(0, i - StdWin + 1)
      var cnt = 0.0
      var avg = 0.0
      var m2 = 0.0
      for (j <- from to i if hasDt(j)) {
        val newN = cnt + 1.0
        val delta = devdt(j) - avg
        val deltaN = delta / newN
        avg = avg + deltaN
        m2 = m2 + delta * (delta - deltaN)
        cnt = newN
      }
      // stddev_samp; null (then floored) below the min periods
      val sd = if (cnt >= StdMinPeriods) math.sqrt(m2 / (cnt - 1.0)) else SigmaMin
      if (cmp(SigmaMin, sd) > 0) SigmaMin else sd
    }
    val kept = (0 until n).filter(hasDt).toArray
    val out = Iterator.newBuilder[Row]
    for (j <- kept.indices) {
      val i = kept(j)
      val last = math.min(kept.length - 1, j + Horizon)
      if (cmp(devdt(i), 0.0) < 0 && j < last) {
        var fmax = devdt(kept(j + 1))
        for (k <- j + 2 to last) if (cmp(devdt(kept(k)), fmax) > 0) fmax = devdt(kept(k))
        val s = sigma(i)
        out += Row(key, sorted(i).getLong(1), devdt(i) / s, devdt(i), bias(i), s,
          if (cmp(fmax - devdt(i), Target) >= 0) 1 else 0)
      }
    }
    out.result()
  }

  private def cmp(a: Double, b: Double): Int =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  /** M2: chronological 70/30 split — NOT randomSplit; train is the first
    * 70% of rows in (ts, event_type) order. Implemented as a distributed
    * range-partitioned sort + `zipWithIndex` (per-partition offsets from
    * one small count job), NOT a global-window `row_number` — the window
    * form funnels every row through a single partition, which is the
    * classic 100 TB deadlock. (ts, event_type) is unique on the feature
    * grid, so the total order — and the split — is deterministic. */
  def timeSplit(df: DataFrame, frac: Double, ts: String): (DataFrame, DataFrame) = {
    val sp = timeSplitWithBase(df, frac, ts)
    (sp.train, sp.test)
  }

  /** A chronological split, its persisted sorted base RDD and its row
    * counts. The counts fall out of the cut, so nobody recounts a side. */
  private case class Split(train: DataFrame, test: DataFrame,
                           base: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
                           indexed: org.apache.spark.rdd.RDD[(Row, Long)],
                           nTrain: Long, nTest: Long) {
    /** The train side's positive labels and whether the test side holds
      * both labels, in one job over the persisted base. */
    def labels(): (Long, Boolean) = {
      val (yi, cut) = (train.schema.fieldIndex("y"), nTrain)
      val (pos, lo, hi) = indexed.aggregate((0L, Int.MaxValue, Int.MinValue))(
        { case ((p, l, h), (r, i)) =>
            val y = r.getInt(yi)
            if (i < cut) (p + y, l, h) else (p, l min y, h max y) },
        { case ((p1, l1, h1), (p2, l2, h2)) => (p1 + p2, l1 min l2, h1 max h2) })
      (pos, lo < hi)
    }
  }

  /** timeSplit plus the persisted sorted base RDD, so callers that cache
    * the split (the fitted-model cache) can release the base explicitly
    * on eviction instead of waiting for the ContextCleaner. */
  private def timeSplitWithBase(df: DataFrame, frac: Double, ts: String): Split = {
    val spark = df.sparkSession
    val schema = df.schema
    // The sorted base is consumed three times (count for the cut,
    // zipWithIndex's offsets job, the filtered reads) — persist it so
    // the range-shuffle sort runs once. Lifecycle: released by the
    // caller via the returned handle, or by the ContextCleaner once
    // the split's lineage becomes unreachable.
    val base = df.orderBy(col(ts), col("event_type")).rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = base.count()
    val cut = (total * frac).toLong
    val indexed = base.zipWithIndex()
    Split(spark.createDataFrame(indexed.filter(_._2 < cut).map(_._1), schema),
      spark.createDataFrame(indexed.filter(_._2 >= cut).map(_._1), schema),
      base, indexed, cut, total - cut)
  }

  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(Array("z", "devdt", "bias", "sigma", "pair_id"))
      .setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    // tol 1e-4 matches sklearn's LBFGS default (the reference's
    // solver, stable_fee_ml_bot.py:173-183); Spark's 1e-6 default is
    // TIGHTER than the reference and just buys extra treeAggregate
    // rounds past the reference's own convergence point
    val lr = new LogisticRegression()
      .setMaxIter(1000).setTol(1e-4).setLabelCol("y").setFeaturesCol("features")
    new Pipeline().setStages(Array(assembler, scaler, lr))
  }

  /** Feature dataset + fitted model, computed once per (session, dir):
    * trainEval and nowSignals train the SAME chronological-70% model, so
    * a second LBFGS run would be pure waste. LRU-bounded: past
    * [[MaxFitted]] entries the least-recently-used fit is dropped and
    * its cached blocks (frames AND timeSplit's sorted base) unpersisted,
    * so a long-lived session scoring many datasets can't accumulate
    * executor storage without bound. Same-key dedup comes from
    * computeIfAbsent's per-key blocking — different keys fit
    * concurrently and cache hits never wait on a fit; the LRU order
    * lives in a separate, briefly-locked structure. */
  private case class Fitted(ds: DataFrame, train: DataFrame, test: DataFrame,
                            base: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
                            nTrain: Long, nTest: Long, trainPos: Long,
                            testBothLabels: Boolean,
                            model: org.apache.spark.ml.PipelineModel)

  /** LRU capacity; var only so tests can exercise eviction with a
    * small cap. */
  private[graft] var MaxFitted = 4

  private val fittedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Fitted]
  // access-ordered key set guarded by its own monitor; values unused
  private val fittedLru =
    new java.util.LinkedHashMap[(SparkSession, String), Unit](8, 0.75f, true)

  private def fitted(spark: SparkSession, dir: String): Fitted = {
    val key = (spark, dir)
    val f = fittedCache.computeIfAbsent(key, _ => {
      val ds = dataset(spark, dir)
        .withColumn("pair_id", col("pair_id").cast("double")).cache()
      val sp = timeSplitWithBase(ds, 0.7, "bucket")
      // LBFGS runs one treeAggregate job per iteration; right-size the
      // train partitioning to the data (~100k rows/task) or per-task
      // scheduling overhead dominates the fit on small feature sets.
      val parts = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong, sp.nTrain / 100000L)).toInt
      val train = sp.train.coalesce(parts).cache()
      val test = sp.test.cache()
      val (trainPos, testBothLabels) = sp.labels()
      Fitted(ds, train, test, sp.base, sp.nTrain, sp.nTest, trainPos, testBothLabels,
        pipeline().fit(train))
    })
    recordUse(key)
    f
  }

  /** Bump `key` in the LRU and release whatever falls off the end
    * (everything over capacity — the cap can shrink at runtime). */
  private def recordUse(key: (SparkSession, String)): Unit = {
    val evicted = fittedLru.synchronized {
      fittedLru.put(key, ())
      val out = Seq.newBuilder[(SparkSession, String)]
      val it = fittedLru.keySet().iterator()
      var over = fittedLru.size - MaxFitted
      while (over > 0 && it.hasNext) {
        out += it.next(); it.remove(); over -= 1
      }
      out.result()
    }
    evicted.foreach(k => Option(fittedCache.remove(k)).foreach(release))
  }

  /** Unpersist an evicted fit's blocks. The entry's session may already
    * be stopped (its blocks died with it) — never let that failure
    * propagate into the healthy caller that triggered the eviction. */
  private def release(f: Fitted): Unit =
    try {
      if (!f.ds.sparkSession.sparkContext.isStopped) {
        // blocking=false: eviction must not stall the caller's fit
        f.ds.unpersist(false); f.train.unpersist(false); f.test.unpersist(false)
        f.base.unpersist(false)
      }
    } catch { case _: Exception => () }

  /** M3+M4: train on the chronological 70%, evaluate accuracy + AUC on
    * the 30% (single-class guard → NaN AUC, like the reference). */
  def trainEval(spark: SparkSession, dir: String): DataFrame = {
    val f = fitted(spark, dir)
    val scored = f.model.transform(f.test)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("y").setMetricName("accuracy").evaluate(scored)
    val auc =
      if (!f.testBothLabels) Double.NaN
      else new BinaryClassificationEvaluator()
        .setLabelCol("y").setMetricName("areaUnderROC").evaluate(scored)
    // avg("y"): an exact double sum of 0/1 over the count
    val base = f.trainPos.toDouble / f.nTrain
    import spark.implicits._
    Seq((f.nTrain, f.nTest, acc, auc, base))
      .toDF("n_train", "n_test", "accuracy", "auc", "train_base_rate")
  }

  /** M5+O3: NOW signals — score the latest row per key, fire when
    * P(y=1) ≥ thr and devdt < 0, keep the best per pair (top-1 by
    * probability), emit LONG / NO TRADE. */
  def nowSignals(spark: SparkSession, dir: String, probThr: Double = 0.6): DataFrame = {
    val f = fitted(spark, dir)
    val ds = f.ds
    val model = f.model
    val wLatest = Window.partitionBy("event_type").orderBy(col("bucket").desc)
    val latest = ds.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn")
    val scored = model.transform(latest)
      .withColumn("prob", element_at(vector_to_array(col("probability")), 2))
    val wBest = Window.partitionBy("pair_id").orderBy(col("prob").desc)
    scored.withColumn("__rk", row_number().over(wBest)).filter(col("__rk") === 1)
      .withColumn("fire", col("prob") >= probThr && col("devdt") < 0)
      .select(col("event_type"), col("bucket"), round(col("prob"), 6).as("prob"),
        round(col("devdt"), 6).as("devdt"),
        when(col("fire"), "LONG").otherwise("NO TRADE").as("signal"))
  }

  /** Deterministic train/eval report — the oracle-able face of M3+M4.
    * Per chronological split (the same 70/30 cut on the rounded feature
    * grid the fits use): row and positive-label counts, base rate, and
    * the PINNED artifact's accuracy on that split — i.e. the
    * train-vs-test generalization gap of the served model, which
    * [[evalPinned]] (test-only) doesn't expose. The live LBFGS fit
    * stays a library entry point ([[trainEval]]) under MlSpec's drift
    * gate (refit ≡ pinned artifact within 1e-6); everything HERE is
    * pure column arithmetic over rounded doubles, so DuckDB replays it
    * bit-for-bit. Train-side stats come from (total − test) on the
    * integer aggregates — one corpus pass plus the cached test tail,
    * never a second split materialization. */
  def trainReport(spark: SparkSession, dir: String): DataFrame = {
    val sp = pinnedSplit(spark, dir)
    def stats(df: DataFrame): (Long, Long, Long) = {
      val r = df.withColumn("score", pinnedScore).agg(
        count(lit(1)),
        sum(col("y").cast("long")),
        sum(when((col("score") > 0) === (col("y") === 1), 1L)
          .otherwise(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (nAll, posAll, corAll) = stats(datasetRounded(spark, dir))
    val (nTe, posTe, corTe) = stats(sp.test)
    import spark.implicits._
    Seq(("train", nAll - nTe, posAll - posTe, corAll - corTe),
        ("test", nTe, posTe, corTe))
      .toDF("split", "n_rows", "n_pos", "n_correct")
      .select(col("split"), col("n_rows"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_rows"), 6).as("base_rate"),
        round(col("n_correct").cast("double") / col("n_rows"), 6).as("accuracy"))
      .orderBy("split")
  }

  /** Pinned-artifact serving audit: EVERY latest-per-key row scored and
    * stamped with its fire decision. [[signalsPinned]] keeps only the
    * winning top-1 per pair; operations also wants the full candidate
    * table the winners were chosen from (which instruments were close
    * to firing, per-pair margins). Same artifact, same logit-space
    * threshold, fully oracle-able. */
  def signalsAll(spark: SparkSession, dir: String): DataFrame = {
    val ds = datasetRounded(spark, dir)
    val wLatest = Window.partitionBy("event_type").orderBy(col("bucket").desc)
    val latest = ds.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn")
    latest.withColumn("score", pinnedScore)
      .withColumn("fire", col("score") >= math.log(1.5) && col("devdt") < 0)
      .select(col("event_type"), col("bucket"), col("pair_id"),
        col("score"), col("devdt"),
        when(col("fire"), "LONG").otherwise("NO TRADE").as("signal"))
      .orderBy("event_type")
  }

  /** Streaming serving with the SAME pinned artifact: score a stream of
    * feature rows (z, devdt, bias, sigma, pair_id) and stamp the fire
    * decision. Stateless map-only — the model is plan-time literals, so
    * the streaming plan needs no state store and no watermark, and
    * scales with the source's partitioning alone. One artifact, two
    * runtimes: the expression is identical to the batch pinned queries,
    * and the spec pins stream-vs-batch score equality. */
  def scorePinnedStream(features: DataFrame, probThr: Double = 0.6): DataFrame =
    features.withColumn("score", pinnedScore)
      .withColumn("fire",
        col("score") >= math.log(probThr / (1 - probThr)) && col("devdt") < 0)

  private def vector_to_array(c: org.apache.spark.sql.Column) =
    org.apache.spark.ml.functions.vector_to_array(c)

  // ---------------------------------------------------------------------
  // Pinned-model serving path (oracle-checkable ML)
  //
  // q_ml_train_eval / q_ml_signals train live, so no independent engine
  // can recompute their outputs (LBFGS isn't SQL) — they stay rows-only
  // + spec-pinned. The queries below are the SERVING half made fully
  // oracle-checkable: a model artifact (scaler+LR folded to linear
  // weights, trained once offline by [[PinModel]]) applied as pure
  // column arithmetic over the rounded feature table, so DuckDB can
  // replay scoring, threshold/top-1 signal logic, accuracy and AUC
  // bit-for-bit. This is also how production serving actually works:
  // training exports an artifact; scoring is a plan-time-literal
  // projection that never touches spark.ml at runtime.
  // ---------------------------------------------------------------------

  /** Serving-time linear weights: logit = b + w·(z, devdt, bias, sigma,
    * pair_id) equals the fitted pipeline's logit exactly (the scaler's
    * (x−μ)/σ is folded into w and b). */
  def foldedWeights(spark: SparkSession, dir: String): (Array[Double], Double) = {
    val f = fitted(spark, dir)
    val scaler = f.model.stages(1)
      .asInstanceOf[org.apache.spark.ml.feature.StandardScalerModel]
    val lr = f.model.stages(2)
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val w = lr.coefficients.toArray
    val mu = scaler.mean.toArray
    val sd = scaler.std.toArray
    val wf = w.zip(sd).map { case (wi, s) => if (s == 0.0) 0.0 else wi / s }
    (wf, lr.intercept - wf.zip(mu).map { case (a, m) => a * m }.sum)
  }

  /** The rounded feature table (exactly the q_ml_dataset surface — the
    * rounding makes the doubles bit-identical across engines, so
    * everything computed from them with literal weights is too). */
  def datasetRounded(spark: SparkSession, dir: String): DataFrame =
    dataset(spark, dir).select(
      col("event_type"), col("bucket"),
      round(col("z"), 6).as("z"), round(col("devdt"), 6).as("devdt"),
      round(col("bias"), 6).as("bias"), round(col("sigma"), 6).as("sigma"),
      col("pair_id"), col("y"))

  /** logit score under the pinned artifact; rounded so downstream
    * grouping/comparisons are on cross-engine-stable values. Term order
    * mirrors the oracle SQL text exactly (double + is not associative). */
  private def pinnedScore: org.apache.spark.sql.Column = {
    val w = PinnedModel.W
    round(lit(PinnedModel.B)
      + lit(w(0)) * col("z") + lit(w(1)) * col("devdt") + lit(w(2)) * col("bias")
      + lit(w(3)) * col("sigma") + lit(w(4)) * col("pair_id"), 6)
  }

  /** Pinned-model accuracy + AUC on the chronological 30% test split.
    * AUC via the Mann-Whitney pair count kept in INTEGER space until the
    * final division: per distinct score s (ascending), positives at s
    * see 2·(negatives strictly below) + (negatives tied at s) half-pairs
    * — summing longs is order-independent, so the distributed sum can't
    * drift from the oracle the way a double sum would. The rank window
    * runs over DISTINCT scores (bounded by the score grid, not rows). */
  /** The rounded-feature chronological split, computed ONCE per
    * (session, dir) and shared by every pinned-serving invocation —
    * the "reuse the fitted-cache split" fix for evalPinned re-running
    * its construction-time actions on every call. The cached `test`
    * frame is the ~30% tail of the (small) feature grid; `nTotal` is a
    * plain long, so repeat calls touch no corpus lineage at all. A
    * cache-external unpersist (the bench's inter-query sweep) is
    * tolerated: [[evalPinned]] re-persists before use. A fully-lazy
    * spelling was tried and measured strictly worse (the rank needs
    * the corpus twice — probe side + offsets side — so laziness costs
    * a second feature-chain execution per call, 3.4 s vs 2.0 s cold
    * and vs ~0.2 s warm here). */
  private case class PinSplit(nTotal: Long, test: DataFrame)
  private val pinCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), PinSplit]

  private def pinnedSplit(spark: SparkSession, dir: String): PinSplit = {
    val sp = pinCache.computeIfAbsent((spark, dir), _ => {
      val split = timeSplitWithBase(datasetRounded(spark, dir), 0.7, "bucket")
      val test = split.test.persist()
      test.count() // materialize test off the persisted base...
      split.base.unpersist(false) // ...then release the base eagerly
      PinSplit(split.nTrain + split.nTest, test)
    })
    // repopulate if an external sweep dropped the blocks
    if (sp.test.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      sp.test.persist()
    sp
  }

  def evalPinned(spark: SparkSession, dir: String): DataFrame = {
    val sp = pinnedSplit(spark, dir)
    val t = sp.test.withColumn("score", pinnedScore)
    val accRow = t.agg(
      count(lit(1)),
      sum(when((col("score") > 0) === (col("y") === 1), 1L).otherwise(0L)),
      sum(col("y").cast("long"))).head()
    val (nTest, nCorrect, nPos) =
      (accRow.getLong(0), accRow.getLong(1), accRow.getLong(2))
    val byScore = t.groupBy("score")
      .agg(count(lit(1)).as("n"), sum(col("y").cast("long")).as("np"))
      .withColumn("nn", col("n") - col("np"))
    val wb = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    val u2 = byScore
      .withColumn("cumneg", coalesce(sum(col("nn")).over(wb), lit(0L)))
      .agg(sum(col("np") * (col("cumneg") * 2 + col("nn")))).head().getLong(0)
    // final division/rounding through the SAME Spark round expressions
    // as the oracle mirrors (not scala-side math), over the collected
    // integer aggregates
    import spark.implicits._
    Seq((sp.nTotal - nTest, nTest, nPos, nCorrect, u2))
      .toDF("n_train", "n_test", "n_pos", "n_correct", "u2")
      .select(col("n_train"), col("n_test"), col("n_pos"),
        round(col("n_correct").cast("double") / col("n_test"), 6).as("accuracy"),
        round(when(col("n_pos") > 0 && col("n_pos") < col("n_test"),
          col("u2").cast("double") /
            (col("n_pos") * (col("n_test") - col("n_pos")) * lit(2.0))),
          6).as("auc"))
  }

  /** Pinned-model NOW signals (M5+O3 with the artifact): latest row per
    * key, logit score, fire when score ≥ logit(0.6) ∧ devdt < 0, top-1
    * per pair by score. Thresholding in logit space avoids exp() —
    * libm/JVM exp can differ in the last ulp, logits can't. */
  def signalsPinned(spark: SparkSession, dir: String): DataFrame = {
    val ds = datasetRounded(spark, dir)
    val wLatest = Window.partitionBy("event_type").orderBy(col("bucket").desc)
    val latest = ds.withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn")
    val scored = latest.withColumn("score", pinnedScore)
    val wBest = Window.partitionBy("pair_id")
      .orderBy(col("score").desc, col("event_type").asc)
    scored.withColumn("__rk", row_number().over(wBest)).filter(col("__rk") === 1)
      .withColumn("fire", col("score") >= math.log(1.5) && col("devdt") < 0)
      .select(col("event_type"), col("bucket"), col("score"), col("devdt"),
        when(col("fire"), "LONG").otherwise("NO TRADE").as("signal"))
      .orderBy("event_type")
  }
}

/** The pinned serving artifact. Provenance: `PinModel` main — fit of
  * [[MlPipeline.pipeline]] on the chronological-70% train split at
  * sf0.01, scaler fold applied by [[MlPipeline.foldedWeights]]. The
  * shortest-round-trip decimal forms below parse to the identical IEEE
  * double in Scala and in DuckDB SQL, which is what makes the pinned
  * queries hash-exact cross-engine. */
object PinnedModel {
  /** Weights for (z, devdt, bias, sigma, pair_id); PinModel @ sf0.01. */
  val W: Array[Double] = Array(
    -5.287233102849995,
    0.02090196913767673,
    -0.06618165611660727,
    0.04248469941090293,
    -0.7649168745775582)
  val B: Double = 3.7824432055068424
}
