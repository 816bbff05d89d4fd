package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Backtest, TimeSeries}
import graft.sources.Sinks

/** The reference's mean-reversion bot as one composed pipeline
  * (`analytics/stable_eth_meanrevert_bot.py`): discover swap CSVs by
  * filename pattern → read with bad-line skip + numeric coercion →
  * polarity → 60s resample + ffill → tick→price → common grid (the
  * inner join across pools) → consensus dev → trade FSM → monthly
  * aggregation. Golden-tested against a pinned run of the reference
  * itself on the same fixture CSVs (EthBotSpec).
  *
  * A trades call is three passes over one CSV scan:
  *  1. per pool ([[poolPrices]], one shuffle on the pool): polarity,
  *     resample + ffill and tick→price in one fold
  *     ([[TimeSeries.resampleFfillFold]]);
  *  2. per bucket (one shuffle on the bucket): the common-grid count and
  *     the consensus mean as one window, against the pool count, an
  *     aggregate broadcast inside the same plan;
  *  3. per pool: the trade FSM ([[Backtest.rollingZscoreReversion]]
  *     computes its rolling z in the same pass).
  * Precondition: a pool's rows fit one task.
  */
object EthBot {

  val FilePattern = ".*/(DAI|USDC|USDT)ETH(100|500|3000)_Swap\\.csv$"

  /** Long price series per pool on the 60s grid (ref `:60-104,115`). */
  def poolPrices(spark: SparkSession, dataDir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("timestamp", StringType),
      StructField("tick", StringType),
      StructField("extra", StringType)))
    val raw = spark.read.schema(schema)
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(s"$dataDir/*ETH*_Swap.csv")
    val withPool = Sinks.readWithFilenameMeta(raw, FilePattern,
        Seq(("stable", 1), ("fee", 2)))
      .filter(col("stable") =!= "") // keep only pattern-matching files (S8)
      .withColumn("pool", concat(col("stable"), lit("ETH"), col("fee")))
      // P8: to_numeric(errors="coerce") + dropna (try_cast nulls garbage
      // instead of failing under ANSI mode — also swallows the bad-line
      // fragments the CSV reader let through)
      .select(col("pool"),
        expr("try_cast(timestamp AS long)").as("ts_sec"),
        expr("try_cast(tick AS long)").as("tick"))
      .filter(col("ts_sec").isNotNull && col("tick").isNotNull)
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withColumn("rid", monotonically_increasing_id())
    // P10 polarity (median >= 0 → flip sign, USD-per-ETH orientation) and
    // A1 (60s grid, last per bucket, ffill) in one fold; P12 1.0001^tick
    TimeSeries.resampleFfillFold(withPool, "pool", "ts", "tick", "minute", "rid",
        polarity = true)
      .select(col("pool"), col("bucket"), TimeSeries.tickToPrice(col("tick")).as("price"))
  }

  /** Common-grid restriction (the reference's iterated inner join,
    * `:120-127`): keep buckets where every pool has a row. */
  def commonGrid(prices: DataFrame): DataFrame =
    withConsensus(prices).select("pool", "bucket", "price")

  /** [[commonGrid]] plus each bucket's `mean_price`, from one window over
    * the bucket: a bucket is kept when its row count equals the number
    * of pools with any row, an aggregate broadcast into the same plan.
    * The mean sums in pool order. */
  private def withConsensus(prices: DataFrame): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy("pool")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pools = prices.agg(countDistinct("pool").as("__pools"))
    prices.withColumn("__n", count(lit(1)).over(w))
      .withColumn("mean_price", avg("price").over(w))
      .crossJoin(broadcast(pools))
      .filter(col("__n") === col("__pools"))
      .select("pool", "bucket", "price", "mean_price")
  }

  /** F1 mode: fractional deviation vs row mean, threshold in percent. */
  def tradesMeanReversion(spark: SparkSession, dataDir: String,
                          thrPct: Double): DataFrame = {
    val dev = withConsensus(poolPrices(spark, dataDir))
      .withColumn("dev", (col("price") - col("mean_price")) / col("mean_price"))
    Backtest.meanReversion(dev, "pool", "bucket", "price", "dev", thrPct / 100.0)
  }

  /** F2 mode: rolling z-score of the absolute deviation (ref `:182-251`),
    * z and FSM in one per-pool pass ([[Backtest.rollingZscoreReversion]]):
    * O(rows) for any `lookback` (the reference's 1440), and a flat
    * stretch of `lookback` rows gives null z instead of a divide by zero. */
  def tradesZscore(spark: SparkSession, dataDir: String, lookback: Int,
                   entryZ: Double, exitZ: Double, maxHold: Int): DataFrame = {
    val dev = withConsensus(poolPrices(spark, dataDir))
      .withColumn("dev", col("price") - col("mean_price"))
    Backtest.rollingZscoreReversion(dev, "pool", "bucket", "price", "dev",
      lookback, entryZ, exitZ, maxHold)
  }

  /** A9: monthly / yearly return sums (ref `aggregate_returns`). */
  def monthlyReturns(trades: DataFrame): DataFrame =
    trades.groupBy(to_date(date_trunc("month", col("exit_ts"))).as("month"))
      .agg(sum("pct_return").as("sum_return"))
      .orderBy("month")
}
