package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series operator family (SURVEY.md §2.4 / §2.2).
  *
  * Reference behaviors re-expressed Spark-first:
  *  - A1 resample-to-grid + forward-fill (`stable_eth_meanrevert_bot.py:98-104`)
  *  - A2 pivot long→wide (`stable_fee_ml_bot.py` pyc `main`)
  *  - A3/A4 row-wise consensus mean/median (`:142`, pyc `:118`)
  *  - A5/A6 rolling mean/std with min_periods (`:195-200`, pyc `:132`)
  *  - A7 EWM mean, pandas `adjust=False` halflife semantics (pyc `:115-139`)
  *  - A8 forward-horizon max label (pyc `:143-169`)
  *  - P10 polarity flip (`:85-88`), P11 canonical pair (pyc `:57-63`),
  *    P12 tick→price (`:39,115`), P13 deviation, P14 sigma floor (pyc `:133`)
  *
  * Scale design: every operator is a declarative plan over (key, bucket)
  * — the only shuffles are on the series key (window functions) or
  * (key, bucket) (resample partial agg). Nothing collects to the driver;
  * the per-key folds ([[foldByKey]]: the resample + ffill fold, the EWM)
  * hold one series in a task.
  */
object TimeSeries {

  /** A1 (bucket step): last observation per (key, time bucket).
    *
    * `max_by(value, (ts, tiebreak))` gives pandas `resample(freq).last()`
    * with a deterministic tie-break, as a hash aggregate with map-side
    * partial combine — no window sort, one shuffle on (key, bucket).
    */
  def resampleLast(df: DataFrame, key: String, ts: String, value: String,
                   freq: String, tiebreak: String): DataFrame =
    df.groupBy(col(key), date_trunc(freq, col(ts)).as("bucket"))
      .agg(max_by(col(value), struct(col(ts), col(tiebreak))).as(value))

  /** A1 (grid step): per-key dense time grid [min bucket, max bucket] with
    * gaps forward-filled. The grid is generated distributed (explode of
    * `sequence`), the fill is `last(ignoreNulls)` over an unbounded-
    * preceding window partitioned by key — never leaks across keys.
    */
  def resampleFfill(df: DataFrame, key: String, ts: String, value: String,
                    freq: String, tiebreak: String): DataFrame = {
    val bucketed = resampleLast(df, key, ts, value, freq, tiebreak)
    val interval = expr(s"interval 1 $freq")
    val span = bucketed.groupBy(col(key))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
    val grid = span.select(col(key),
      explode(sequence(col("lo"), col("hi"), interval)).as("bucket"))
    val w = Window.partitionBy(key).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq(key, "bucket"), "left")
      .withColumn(value, last(col(value), ignoreNulls = true).over(w))
  }

  /** A1 as one per-key fold: the rows of [[resampleFfill]], with the key
    * cast to string and the value to double, from ONE shuffle on the key
    * instead of its aggregate, span, grid join and fill window. Per key,
    * in-task:
    *  1. sort by (ts, tiebreak), a null tiebreak first;
    *  2. keep each bucket's last value, i.e. `max_by(value, (ts,
    *     tiebreak))`, so a null last value still wins its bucket;
    *  3. walk the dense grid [first bucket, last bucket], carrying the
    *     last non-null value.
    * With `polarity`, a key's values are first negated when their median
    * is ≥ 0 (P10, as [[polarity]] does, over the same rows).
    *
    * `freq` is `second`, `minute` or `hour` (a fixed step) and
    * `tiebreak` an integral column. Rows with a null `ts` fall in no
    * bucket. Precondition: a key's rows and its dense grid fit one task.
    */
  def resampleFfillFold(df: DataFrame, key: String, ts: String, value: String,
                        freq: String, tiebreak: String,
                        polarity: Boolean = false): DataFrame = {
    val stepMicros = freq match {
      case "second" => 1000000L
      case "minute" => 60000000L
      case "hour" => 3600000000L
      case other => throw new IllegalArgumentException(
        s"resampleFfillFold: freq must be second, minute or hour, got $other")
    }
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(tiebreak).dataType),
      s"resampleFfillFold: tiebreak $tiebreak must be integral")
    val keyed = df.select(col(key).cast("string").as(key),
      unix_micros(col(ts)).as("__ts"), unix_micros(date_trunc(freq, col(ts))).as("__b"),
      col(tiebreak).cast("long").as("__tb"), col(value).cast("double").as(value))
    val out = StructType(Seq(StructField(key, StringType),
      StructField("bucket", LongType, nullable = false), StructField(value, DoubleType)))
    foldByKey(keyed, out) { (k, rows) =>
      val all = rows.toArray
      val sorted = all.filter(r => !r.isNullAt(1))
      java.util.Arrays.sort(sorted, (a: Row, b: Row) => {
        val c = java.lang.Long.compare(a.getLong(1), b.getLong(1))
        if (c != 0) c
        else if (a.isNullAt(3)) { if (b.isNullAt(3)) 0 else -1 }
        else if (b.isNullAt(3)) 1
        else java.lang.Long.compare(a.getLong(3), b.getLong(3))
      })
      val sign = if (polarity && flipSign(all)) -1.0 else 1.0
      val grid = Iterator.newBuilder[Row]
      if (sorted.nonEmpty) {
        var i = 0
        var carry: java.lang.Double = null
        var t = sorted(0).getLong(2)
        val hi = sorted(sorted.length - 1).getLong(2)
        while (t <= hi) {
          // skip buckets off the grid, then take this bucket's last row
          while (sorted(i).getLong(2) < t) i += 1
          if (sorted(i).getLong(2) == t) {
            while (i + 1 < sorted.length && sorted(i + 1).getLong(2) == t) i += 1
            // a null key's grid stays null, as its join in resampleFfill
            if (!sorted(i).isNullAt(4) && k != null) carry = sign * sorted(i).getDouble(4)
          }
          grid += Row(k, t, carry)
          t += stepMicros
        }
      }
      grid.result()
    }.withColumn("bucket", timestamp_micros(col("bucket")))
  }

  /** Spark's `median(v) >= 0` over the non-null values of the rows. */
  private def flipSign(rows: Array[Row]): Boolean = {
    val v = rows.filter(r => !r.isNullAt(4)).map(_.getDouble(4))
    if (v.isEmpty) false
    else {
      java.util.Arrays.sort(v)
      // Percentile's interpolation at position (n − 1) / 2
      val pos = (v.length - 1) * 0.5
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      val m = if (lo == hi) v(lo) else (hi - pos) * v(lo) + (pos - lo) * v(hi)
      m >= 0
    }
  }

  /** The per-key skeleton the folds here and in [[Backtest]] share:
    * `keyed`'s first column is the string key; shuffle once on it and
    * hand each key's rows, unsorted, to `walk`, whose rows match `out`. */
  private[graft] def foldByKey(keyed: DataFrame, out: StructType)(
      walk: (String, Iterator[Row]) => Iterator[Row]): DataFrame = {
    implicit val rowEnc = Encoders.row(out)
    implicit val keyEnc = Encoders.STRING
    keyed.groupByKey((r: Row) => r.getString(0)).flatMapGroups(walk)
  }

  /** A2: long→wide pivot with an explicit key list (plan-time column set,
    * no extra pass to discover values; missing keys become null columns). */
  def pivotWide(df: DataFrame, ts: String, key: String, value: String,
                keys: Seq[String]): DataFrame =
    df.groupBy(col(ts)).pivot(key, keys).agg(first(col(value), ignoreNulls = true))

  /** A3: row-wise mean over columns, skipping nulls (pandas `mean(axis=1)`). */
  def rowMean(cols: Seq[Column]): Column = {
    val arr = filter(array(cols.map(_.cast("double")): _*), x => x.isNotNull)
    when(size(arr) > 0,
      aggregate(arr, lit(0.0), (acc, x) => acc + x) / size(arr))
  }

  /** A4: row-wise median over columns, skipping nulls (pandas
    * `median(axis=1, skipna=True)`); interpolates the middle pair. */
  def rowMedian(cols: Seq[Column]): Column = {
    val arr = array_sort(filter(array(cols.map(_.cast("double")): _*), x => x.isNotNull))
    val n = size(arr)
    val lo = floor((n + 1) / lit(2)).cast("int")
    val hi = floor((n + 2) / lit(2)).cast("int")
    when(n > 0, (element_at(arr, lo) + element_at(arr, hi)) / 2.0)
  }

  /** A5/A6: rolling mean + stddev over the trailing `n` rows per key, with
    * pandas `min_periods` semantics (null until the window holds at least
    * `minPeriods` rows). `ddofZero=true` → population stddev (pandas
    * `std(ddof=0)`), else sample.
    *
    * Costs O(rows × n): Spark's sliding `rowsBetween(-(n-1), 0)` frame
    * re-aggregates the whole frame for every row. That is cheap at the
    * n = 24 its callers use; for a long lookback feeding the z-score FSM
    * use [[Backtest.rollingZscoreReversion]], which keeps the window
    * up to date in O(rows). */
  def rollingStats(df: DataFrame, key: String, ts: String, value: String,
                   n: Int, minPeriods: Int, ddofZero: Boolean,
                   meanCol: String, stdCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts).rowsBetween(-(n - 1), 0)
    val enough = count(col(value)).over(w) >= minPeriods
    val sd = if (ddofZero) stddev_pop(col(value)) else stddev_samp(col(value))
    df.withColumn(meanCol, when(enough, avg(col(value)).over(w)))
      .withColumn(stdCol, when(enough, sd.over(w)))
  }

  /** P14: sigma floor — `sigma.fillna(floor).clip(lower=floor)`. */
  def sigmaFloor(sigma: Column, floor: Double): Column =
    greatest(coalesce(sigma, lit(floor)), lit(floor))

  /** A7: exponentially-weighted mean, pandas
    * `ewm(alpha=1-0.5^(1/halflife), adjust=False, min_periods=mp).mean()`
    * (pyc `stable_fee_ml_bot.py:115-139`): recursive
    * `b_t = α·x_t + (1−α)·b_{t−1}`, `b_0 = x_0`, null until `mp` rows;
    * `halflife <= 0` → bias ≡ 0 (the reference's zero-bias branch).
    *
    * No Spark builtin is exact here, so this is a per-key ordered fold via
    * `groupByKey.flatMapGroups` — distributed across keys, exact recursion
    * within a key, through the [[Ewm]] step. A key's series (grid
    * length × 24B) must fit one task.
    */
  def ewmMean(df: DataFrame, key: String, ts: String, value: String,
              halflife: Double, minPeriods: Int, out: String): DataFrame = {
    val keyed = df.select(col(key).cast("string").as(key), col(ts),
      col(value).cast("double").as(value))
    val outSchema = StructType(keyed.schema.fields :+
      StructField(out, DoubleType, nullable = true))
    foldByKey(keyed, outSchema) { (_, rows) =>
      val buf = rows.toArray.sortBy(r => sortKey(r.get(1)))
      val ewm = new Ewm(halflife, minPeriods)
      buf.iterator.map { r =>
        val b = ewm.next(if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        Row.fromSeq(r.toSeq :+ (if (b.isNaN) null else b))
      }
    }
  }

  /** A7's recurrence, one value at a time: `next(x)` folds `x` (NaN =
    * missing, no observation) into `b_t = α·x_t + (1−α)·b_{t−1}`,
    * `b_0 = x_0`, and returns the bias, NaN until `minPeriods`
    * observations; `halflife <= 0` → always 0. */
  private[graft] final class Ewm(halflife: Double, minPeriods: Int) {
    private val alpha = 1.0 - math.pow(0.5, 1.0 / halflife)
    private val zeroBias = halflife <= 0.0
    private var bias = Double.NaN
    private var seen = 0

    def next(x: Double): Double = {
      if (!x.isNaN) {
        seen += 1
        bias = if (seen == 1) x else alpha * x + (1.0 - alpha) * bias
      }
      if (zeroBias) 0.0 else if (seen >= minPeriods) bias else Double.NaN
    }
  }

  /** Ascending order of a timestamp or number column's value (nulls
    * first), for the in-task sorts of the per-key folds. */
  private[graft] def sortKey(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant; i.getEpochSecond * 1000000000L + i.getNano
    case n: java.lang.Number => n.longValue()
    case null => Long.MinValue
    case o => o.hashCode().toLong
  }

  /** A8: forward-horizon label — `fmax = max(dev) over (1, horizon]`,
    * `y = fmax − dev ≥ target`, rows with `dev ≥ 0` or no lookahead
    * dropped (pyc `stable_fee_ml_bot.py:143-169`). */
  def forwardLabel(df: DataFrame, key: String, ts: String, dev: String,
                   horizon: Int, target: Double): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts).rowsBetween(1, horizon)
    df.withColumn("fmax", max(col(dev)).over(w))
      .filter(col(dev) < 0 && col(dev).isNotNull && col("fmax").isNotNull)
      .withColumn("y", (col("fmax") - col(dev) >= target).cast("int"))
  }

  /** P10: polarity normalization — per-key median; if ≥ 0 flip the sign of
    * every value (`stable_eth_meanrevert_bot.py:85-88`). The median is a
    * per-key aggregate broadcast back onto the rows. */
  def polarity(df: DataFrame, key: String, value: String): DataFrame = {
    val med = df.groupBy(col(key)).agg(median(col(value)).as("__med"))
    df.join(broadcast(med), Seq(key))
      .withColumn(value,
        when(col("__med") >= 0, -col(value)).otherwise(col(value)))
      .drop("__med")
  }

  /** P12: Uniswap tick→price, `price = 1.0001^tick`. */
  def tickToPrice(tick: Column): Column = pow(lit(1.0001), tick)

  /** P11: canonical pair + sign — if (a,b) is in the allowed orientation
    * keep it with sign +1, else flip to (b,a) with sign −1 (pyc
    * `stable_fee_ml_bot.py:57-63`). Returns (a, b, sign) as a struct. */
  def canonizePair(a: Column, b: Column, allowed: Seq[(String, String)]): Column = {
    val isCanonical = allowed
      .map { case (x, y) => a === x && b === y }
      .reduce(_ || _)
    when(isCanonical, struct(a.as("a"), b.as("b"), lit(1).as("sign")))
      .otherwise(struct(b.as("a"), a.as("b"), lit(-1).as("sign")))
  }

  /** Gap-based sessionization: per key, a new session starts when the
    * gap to the previous row exceeds `gapSeconds` (clickstream /
    * training-log standard). One window per key — the shuffle is on the
    * session key, so 100 TB of events partition by user and never
    * funnel through a single task. `tieBreak` makes ordering (and thus
    * session numbering) deterministic under equal timestamps.
    *
    * Returns the input plus `session_no` (1-based per key). */
  def sessionize(df: DataFrame, key: String, ts: String, gapSeconds: Long,
                 tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col(tieBreak).asc)
    // micros, not seconds: sub-second gaps must not truncate away
    val gap = unix_micros(col(ts)) - unix_micros(lag(col(ts), 1).over(w))
    df.withColumn("__brk",
        when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__brk")
  }

  /** Interval (range) join, bucketed: for every probe row, aggregate
    * build rows of the same key with `build.ts` in the half-open window
    * `[probe.ts − lookbackSeconds, probe.ts)`.
    *
    * A naive range join is a per-key cross join (quadratic in key
    * density, and Spark plans inequality-only joins as nested loops).
    * Instead both sides bucket by `floor(ts / lookback)`: each build row
    * lands in exactly one bucket, each probe row is replicated into the
    * two buckets its window can touch, and the join becomes an EQUI-join
    * on (key, bucket) — shuffle-partitionable, AQE-skew-splittable —
    * with the precise range predicate applied as a post-filter. Build
    * rows match at most one probe replica, so no dedup is needed.
    *
    * Contract: probe rows must be unique as full tuples (carry a row
    * id) — the final aggregate groups by all probe columns, so exact
    * duplicate probe rows would merge and pool their match counts. */
  def intervalJoinAgg(probe: DataFrame, build: DataFrame, key: String,
                      probeTs: String, buildTs: String, valueCol: String,
                      lookbackSeconds: Long,
                      nOut: String = "n_prior", sumOut: String = "sum_prior"): DataFrame = {
    val lookbackUs = lookbackSeconds * 1000000L
    val pe = unix_micros(col(probeTs))
    val p = probe.withColumn("__pep", pe)
      .withColumn("__bkt",
        explode(array(floor(pe / lookbackUs), floor(pe / lookbackUs) - 1)))
    val b = build.select(col(key).as("__bkey"),
      unix_micros(col(buildTs)).as("__bts"), col(valueCol).as("__bval"))
    val joined = p.join(b,
      col(key) === col("__bkey") && col("__bkt") === floor(col("__bts") / lookbackUs) &&
        col("__bts") >= col("__pep") - lookbackUs && col("__bts") < col("__pep"),
      "left")
    joined.groupBy(probe.columns.toIndexedSeq.map(col): _*)
      .agg(count(col("__bval")).as(nOut), sum(col("__bval")).as(sumOut))
  }

  /** As-of (backward) join: for every left row, attach the single latest
    * right row with `right.ts <= left.ts` on the same key — the
    * time-series join pandas spells `merge_asof` and DuckDB spells
    * `ASOF JOIN`. Left rows with no prior right row keep nulls.
    *
    * Implemented as union + one partitioned window (right rows sort
    * before left rows at equal ts, then `last(ignoreNulls)` carries the
    * packed right struct forward) — ONE shuffle on the key, never the
    * range cross-join that quadratically explodes at scale. Right rows
    * must be unique per (key, ts); when they are not, pass `tiebreak`
    * (a right column) — the greatest tiebreak value wins, making the
    * result deterministic.
    *
    * Returns all left columns plus `prefix + v` for each right value
    * column v. Left column names must not collide with the prefixed
    * right names. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, rightVals: Seq[String],
               prefix: String = "r_", tiebreak: Option[String] = None): DataFrame = {
    val rv = struct((rightVals.map(col) :+ col(rightTs).as("__rts")): _*)
    val tb = tiebreak.map(col).getOrElse(lit(0))
    // a null right timestamp would sort FIRST under asc and match every
    // left row; ASOF semantics exclude it (null ts <= t is never true)
    val r = right.filter(col(rightTs).isNotNull)
      .select(col(key), col(rightTs).as("__ts"),
        lit(0).as("__side"), tb.as("__tb"), rv.as("__rv"))
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(0))
      .withColumn("__rv", lit(null).cast(r.schema("__rv").dataType))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key)
      .orderBy(col("__ts").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__filled", last(col("__rv"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        Seq(col("__filled").getField("__rts").as(prefix + rightTs)) ++
        rightVals.map(v => col("__filled").getField(v).as(prefix + v)): _*)
  }
}
