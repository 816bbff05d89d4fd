package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Backtest, TimeSeries}
import graft.sources.Sinks

/** The reference's mean-reversion bot as one composed pipeline
  * (`analytics/stable_eth_meanrevert_bot.py`): discover swap CSVs by
  * filename pattern → read with bad-line skip + numeric coercion →
  * polarity → 60s resample + ffill → tick→price → common grid (the
  * inner join across pools) → consensus dev → trade FSM (the z-score
  * mode computes its rolling z inside the FSM's per-pool pass) →
  * monthly aggregation. Golden-tested against a pinned run of the reference
  * itself on the same fixture CSVs (EthBotSpec).
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
    // P10 polarity: median >= 0 → flip sign (USD-per-ETH orientation)
    val signed = TimeSeries.polarity(withPool, "pool", "tick")
    // A1: 60s grid, last per bucket, ffill; P12: price = 1.0001^tick
    TimeSeries.resampleFfill(signed, "pool", "ts", "tick", "minute", "rid")
      .withColumn("price", TimeSeries.tickToPrice(col("tick")))
      .select("pool", "bucket", "price")
  }

  /** Common-grid restriction (the reference's iterated inner join,
    * `:120-127`): keep buckets where every pool has a row. */
  def commonGrid(prices: DataFrame): DataFrame = {
    val nPools = prices.select("pool").distinct().count()
    val full = prices.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") === nPools).select("bucket")
    prices.join(full, Seq("bucket"))
  }

  /** F1 mode: fractional deviation vs row mean, threshold in percent. */
  def tradesMeanReversion(spark: SparkSession, dataDir: String,
                          thrPct: Double): DataFrame = {
    val grid = commonGrid(poolPrices(spark, dataDir))
    val mean = grid.groupBy("bucket").agg(avg("price").as("mean_price"))
    val dev = grid.join(mean, Seq("bucket"))
      .withColumn("dev", (col("price") - col("mean_price")) / col("mean_price"))
    Backtest.meanReversion(dev, "pool", "bucket", "price", "dev", thrPct / 100.0)
  }

  /** F2 mode: rolling z-score of the absolute deviation (ref `:182-251`),
    * z and FSM in one per-pool pass ([[Backtest.rollingZscoreReversion]]):
    * O(rows) for any `lookback` (the reference's 1440), and a flat
    * stretch of `lookback` rows gives null z instead of a divide by zero. */
  def tradesZscore(spark: SparkSession, dataDir: String, lookback: Int,
                   entryZ: Double, exitZ: Double, maxHold: Int): DataFrame = {
    val grid = commonGrid(poolPrices(spark, dataDir))
    val mean = grid.groupBy("bucket").agg(avg("price").as("mean_price"))
    val dev = grid.join(mean, Seq("bucket"))
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
