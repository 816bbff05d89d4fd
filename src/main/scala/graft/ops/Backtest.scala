package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Sequential trade-FSM backtests (SURVEY.md §2.6, F1/F2) —
  * `analytics/stable_eth_meanrevert_bot.py:131-178` (mean-reversion) and
  * `:182-251` (z-score with time stop).
  *
  * The reference walks the whole price matrix row-by-row in Python. Here
  * each pool's walk is an independent ordered fold, so the operator is a
  * `groupByKey(pool).flatMapGroups` — state per key is O(1) (one open
  * position, plus the trailing window in [[rollingZscoreReversion]]),
  * work is distributed across keys, and only one shuffle (on the key)
  * happens. The group's rows are sorted in-task by timestamp; a key's
  * series must fit a task (grid length × ~32B — a 10-year 10s grid is
  * ~250 MB, within executor memory; beyond that, split the fold into
  * epoch chunks carrying boundary state).
  *
  * A closed trade's `pct_return` is null when its entry price is 0 (SQL
  * `x / 0`), never ±inf or NaN.
  */
object Backtest {

  private def tradeSchema(tsType: DataType) = StructType(Seq(
    StructField("pool", StringType), StructField("side", StringType),
    StructField("entry_ts", tsType), StructField("exit_ts", tsType),
    StructField("entry_price", DoubleType), StructField("exit_price", DoubleType),
    StructField("pct_return", DoubleType)))

  private def zTradeSchema(tsType: DataType) = StructType(Seq(
    StructField("pool", StringType), StructField("side", StringType),
    StructField("entry_ts", tsType), StructField("exit_ts", tsType),
    StructField("entry_price", DoubleType), StructField("exit_price", DoubleType),
    StructField("entry_z", DoubleType), StructField("exit_z", DoubleType),
    StructField("pct_return", DoubleType), StructField("held_rows", IntegerType)))

  /** Return of a position closed at `exit`; null at a zero entry price. */
  private[graft] def pctReturn(side: String, entry: Double,
                                exit: Double): java.lang.Double =
    if (entry == 0.0) null
    else if (side == "long") (exit - entry) / entry
    else (entry - exit) / entry

  /** The skeleton every FSM here shares: project (key, ts, price,
    * signal) with price and signal as doubles, shuffle once on the key,
    * sort each key's rows by `ts` in-task and hand them to `walk`. */
  private def perKey(df: DataFrame, key: String, ts: String, price: String,
                     signal: String, schema: StructType)(
      walk: (String, Array[Row]) => Iterator[Row]): DataFrame =
    TimeSeries.foldByKey(df.select(col(key).cast("string"), col(ts),
        col(price).cast("double"), col(signal).cast("double")), schema) {
      (k, rows) => walk(k, rows.toArray.sortBy(r => TimeSeries.sortKey(r.get(1))))
    }

  /** A null numeric cell as NaN, the value that makes no FSM decision. */
  private def num(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)

  /** F1: mean-reversion FSM (`simulate_mean_reversion`, ref `:131-178`).
    *
    * Input: one row per (pool, ts) with `price` and `dev` (fractional
    * deviation vs consensus). Per pool, chronologically: while flat,
    * `dev <= -thr` opens LONG and `dev >= thr` opens SHORT (entry rows
    * make no exit decision); while positioned, LONG closes when
    * `dev >= 0`, SHORT when `dev <= 0`. A row with a null or NaN price
    * or `dev` makes no decision. Returns the trades table; positions
    * never closed by end-of-data are discarded, as in the reference.
    * `thr` is a fraction (reference takes percent/100).
    */
  def meanReversion(df: DataFrame, key: String, ts: String, price: String,
                    dev: String, thr: Double): DataFrame =
    perKey(df, key, ts, price, dev, tradeSchema(df.schema(ts).dataType)) {
      (pool, sorted) =>
        val out = Array.newBuilder[Row]
        val fsm = new MeanReversionFsm[Any](thr) {
          protected def close(ts: Any, p: Double, pct: java.lang.Double): Unit =
            out += Row(pool, side, entryTs, ts, entryPrice, p, pct)
        }
        for (r <- sorted) fsm.step(r.get(1), num(r, 2), num(r, 3))
        out.result().iterator
    }

  /** F1 core: one key's mean-reversion FSM, fed its rows in time order.
    * The state is the open position (`side` null when flat), so a stream
    * can carry it between micro-batches; `close` emits a closed trade
    * while `side` and the entry still describe it. */
  private[graft] abstract class MeanReversionFsm[T](thr: Double) {
    var side: String = null
    var entryTs: T = _
    var entryPrice = 0.0

    protected def close(ts: T, p: Double, pct: java.lang.Double): Unit

    def step(ts: T, p: Double, d: Double): Unit =
      if (!p.isNaN && !d.isNaN) {
        if (side == null) {
          if (d <= -thr) open("long", ts, p)
          else if (d >= thr) open("short", ts, p)
        } else if ((side == "long" && d >= 0) || (side == "short" && d <= 0)) {
          close(ts, p, pctReturn(side, entryPrice, p))
          side = null
        }
      }

    private def open(s: String, ts: T, p: Double): Unit = {
      side = s; entryTs = ts; entryPrice = p
    }
  }

  /** F2 core: one key's z-score FSM, fed its rows in time order. `idx`
    * counts every row fed, so a row with a NaN price or `z`, which makes
    * no decision, still advances the hold clock. The state is these
    * fields (`side` null when flat), so a stream can carry it between
    * micro-batches; `close` emits a closed trade while `side` and the
    * entry still describe it. */
  private[graft] abstract class ZscoreFsm[T](entryZ: Double, exitZ: Double,
                                             maxHold: Int) {
    var idx = 0L
    var side: String = null
    var entryIdx = 0L
    var entryTs: T = _
    var entryPrice = 0.0
    var entryZv = 0.0

    protected def close(ts: T, p: Double, zv: Double, pct: java.lang.Double,
                        held: Long): Unit

    def step(ts: T, p: Double, zv: Double): Unit = {
      if (!p.isNaN && !zv.isNaN) {
        if (side == null) {
          if (zv <= -entryZ) open("long", ts, p, zv)
          else if (zv >= entryZ) open("short", ts, p, zv)
        } else {
          val held = idx - entryIdx
          if ((side == "long" && zv >= -exitZ) || (side == "short" && zv <= exitZ) ||
              held >= maxHold) {
            close(ts, p, zv, pctReturn(side, entryPrice, p), held)
            side = null
          }
        }
      }
      idx += 1
    }

    private def open(s: String, ts: T, p: Double, zv: Double): Unit = {
      side = s; entryIdx = idx; entryTs = ts; entryPrice = p; entryZv = zv
    }
  }

  /** Walks each key's rows through [[ZscoreFsm]]. `zOf` makes one
    * per-key transform from the signal column to z (null signal → NaN);
    * a null price is NaN too. */
  private def zscoreWalk(df: DataFrame, key: String, ts: String, price: String,
                         signal: String, entryZ: Double, exitZ: Double,
                         maxHold: Int)(zOf: () => Double => Double): DataFrame =
    perKey(df, key, ts, price, signal, zTradeSchema(df.schema(ts).dataType)) {
      (pool, sorted) =>
        val out = Array.newBuilder[Row]
        val fsm = new ZscoreFsm[Any](entryZ, exitZ, maxHold) {
          protected def close(ts: Any, p: Double, zv: Double, pct: java.lang.Double,
                              held: Long): Unit =
            out += Row(pool, side, entryTs, ts, entryPrice, p, entryZv, zv, pct,
              held.toInt)
        }
        val z = zOf()
        for (r <- sorted) fsm.step(r.get(1), num(r, 2), z(num(r, 3)))
        out.result().iterator
    }

  /** F2: z-score reversion FSM with one-sided exits and a time stop
    * (`simulate_zscore_reversion`, ref `:182-251`), for callers that
    * already hold a z column.
    *
    * Per pool, chronologically, with `idx` counting every grid row (so
    * warm-up rows with null z still advance the hold clock, matching the
    * reference's global row index): rows with a null or NaN price or z
    * make no decision; while flat, `z <= -entryZ` opens LONG,
    * `z >= entryZ` opens SHORT; while positioned, LONG exits when
    * `z >= -exitZ`, SHORT when `z <= exitZ`, either exits when
    * `held = idx - entry_idx >= maxHold`.
    */
  def zscoreReversion(df: DataFrame, key: String, ts: String, price: String,
                      z: String, entryZ: Double, exitZ: Double,
                      maxHold: Int): DataFrame =
    zscoreWalk(df, key, ts, price, z, entryZ, exitZ, maxHold)(() => identity)

  /** F2 from the deviation itself: the reference's
    * `z = (dev − dev.rolling(lookback, min_periods=lookback).mean()) /
    * ….std(ddof=0)` and the [[zscoreReversion]] FSM, fused into one
    * per-key pass — one shuffle, and O(rows) work, where
    * [[TimeSeries.rollingStats]] + [[zscoreReversion]] costs a window
    * exchange plus the FSM's and O(rows × lookback) frame updates.
    *
    * z is null (the row is skipped, its `idx` still counted) while the
    * trailing `lookback` rows hold a null `dev`, on a null `dev`, and
    * when the window's σ is 0 — a flat stretch, where pandas gives NaN
    * and SQL's `x / 0` gives null. Every other z equals pandas' bit for
    * bit, except where rounding leaves the running variance negative:
    * pandas clips that to σ 0 and gets ±inf, this pass gives null.
    */
  def rollingZscoreReversion(df: DataFrame, key: String, ts: String, price: String,
                             dev: String, lookback: Int, entryZ: Double,
                             exitZ: Double, maxHold: Int): DataFrame = {
    require(lookback >= 1, s"lookback must be at least 1, got $lookback")
    zscoreWalk(df, key, ts, price, dev, entryZ, exitZ, maxHold)(
      () => new RollingZ(lookback).next)
  }

  /** Trailing-`n`-row z-score with one add and at most one remove per
    * row: a port of pandas' `roll_mean` / `roll_var` (ddof 0) for a
    * fixed window with `min_periods = n`. Sums are Kahan-compensated
    * (separate add and remove compensations, as pandas keeps them), the
    * variance is Welford's, NaN values take a slot but are not
    * observations, and a run of equal values covering every observation
    * in the window gives mean exactly that value and σ exactly 0
    * (pandas GH#42064). A negative variance from rounding clips to σ 0. */
  private final class RollingZ(n: Int) {
    private val window = new Array[Double](n)
    private var rows = 0L
    private var nobs = 0
    // roll_mean
    private var sumX = 0.0
    private var negCt = 0
    private var compAddM = 0.0
    private var compRemM = 0.0
    // roll_var
    private var meanX = 0.0
    private var ssqdm = 0.0
    private var compAddV = 0.0
    private var compRemV = 0.0
    // both: length of the current run of equal observations
    private var sameRun = 0L
    private var prevValue = Double.NaN

    /** Push the next row's value and return its z, NaN when undefined. */
    def next(v: Double): Double = {
      val slot = (rows % n).toInt
      // pandas restarts a window that shares no row with the previous
      // one: every row when n = 1
      if (rows == 0 || n == 1) reset(v)
      else if (rows >= n) remove(window(slot))
      add(v)
      window(slot) = v
      rows += 1
      if (nobs < n || v.isNaN) Double.NaN
      else {
        val sd = std
        if (sd == 0.0 || sd.isNaN) Double.NaN else (v - mean) / sd
      }
    }

    private def reset(first: Double): Unit = {
      nobs = 0; sumX = 0.0; negCt = 0; compAddM = 0.0; compRemM = 0.0
      meanX = 0.0; ssqdm = 0.0; compAddV = 0.0; compRemV = 0.0
      sameRun = 0L; prevValue = first
    }

    private def add(v: Double): Unit = if (!v.isNaN) {
      nobs += 1
      if (v == prevValue) sameRun += 1 else sameRun = 1
      prevValue = v
      val y = v - compAddM
      val t = sumX + y
      compAddM = t - sumX - y
      sumX = t
      if (java.lang.Double.doubleToRawLongBits(v) < 0) negCt += 1
      val prevMean = meanX - compAddV
      val yv = v - compAddV
      val tv = yv - meanX
      compAddV = tv + meanX - yv
      meanX += tv / nobs
      ssqdm += (v - prevMean) * (v - meanX)
    }

    private def remove(v: Double): Unit = if (!v.isNaN) {
      nobs -= 1
      val y = -v - compRemM
      val t = sumX + y
      compRemM = t - sumX - y
      sumX = t
      if (java.lang.Double.doubleToRawLongBits(v) < 0) negCt -= 1
      if (nobs > 0) {
        val prevMean = meanX - compRemV
        val yv = v - compRemV
        val tv = yv - meanX
        compRemV = tv + meanX - yv
        meanX -= tv / nobs
        ssqdm -= (v - prevMean) * (v - meanX)
      } else {
        meanX = 0.0; ssqdm = 0.0
      }
    }

    private def mean: Double = {
      val r = sumX / nobs
      if (sameRun >= nobs) prevValue
      else if (negCt == 0 && r < 0) 0.0
      else if (negCt == nobs && r > 0) 0.0
      else r
    }

    private def std: Double = {
      val variance = if (nobs == 1 || sameRun >= nobs) 0.0 else ssqdm / nobs
      if (variance < 0) 0.0 else math.sqrt(variance)
    }
  }
}
