package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ml.MlPipeline
import graft.sources.Sinks

/** The reference's second analytics program (bytecode-recovered
  * `stable_fee_ml_bot.py`) as one composed pipeline: deterministic
  * feature/label construction (oracle-checked in q_ml_dataset), time-
  * ordered split + scale+logistic training, evaluation, NOW-signal
  * scoring, and the signals CSV export (S9,
  * `stable_fee_ml_now_signals.csv`).
  */
object FeeBot {

  /** Train, evaluate, score NOW signals, export them as a single CSV.
    * Returns (metrics row, signals), both local frames: the signals (at
    * most one row per pair) are computed once, then written and
    * returned. */
  def run(spark: SparkSession, dataDir: String, outDir: String,
          probThr: Double = 0.6): (DataFrame, DataFrame) = {
    val metrics = MlPipeline.trainEval(spark, dataDir)
    val lazySignals = MlPipeline.nowSignals(spark, dataDir, probThr)
    val signals = spark.createDataFrame(
      java.util.Arrays.asList(lazySignals.collect(): _*), lazySignals.schema)
    Sinks.withRetries(attempts = 3, delayMs = 1500) {
      Sinks.writeSingleCsv(signals, s"$outDir/now_signals")
    }
    (metrics, signals)
  }
}
