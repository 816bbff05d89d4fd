package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-checked query wiring for the TimeSeries operator family over the
  * `events` table (key = event_type, tick = value, hourly grid). Each query
  * has a DuckDB twin in SparkEntry.oracleSql with identical column names,
  * rounding, and total order.
  */
object SeriesQueries {

  private val keys = Seq("click", "error", "purchase", "signup", "view")

  /** Monthly OHLC + VWAP candles over the lineitem trade tape — the
    * bar-building primitive every price pipeline downstream of the
    * indexer needs (ref's bots consume resampled price series;
    * candles are the standard exchange aggregation of the same tape).
    * All money is integer CENTS (`round(price·100)` — exact because
    * stored prices are 2-decimal) so open/high/low/close/vwap are
    * hash-exact cross-engine with no float-sum exposure; VWAP is
    * integer millicents via `div`. Open/close pick the row with the
    * min/max single-BIGINT order key (epoch_day, orderkey, line) —
    * a total order, so `min_by`/`max_by` are deterministic and the
    * DuckDB twin's `min_by`/`max_by` agree. One hash exchange on
    * (flag, month); partial aggregation map-side — the shape that
    * holds at any scale. */
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .withColumn("qty", col("l_quantity").cast("long"))
      .withColumn("ord",
        (datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01")))
          .cast("long") * 10000000L + col("l_orderkey")) * 10L
          + col("l_linenumber"))
    li.groupBy(col("l_returnflag").as("flag"),
        date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(
        min_by(col("cents"), col("ord")).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max_by(col("cents"), col("ord")).as("close_cents"),
        expr("sum(cents * qty) * 1000 div sum(qty)").as("vwap_millicents"),
        sum(col("qty")).as("volume"),
        count(lit(1)).as("n_trades"))
      .orderBy("flag", "month")
  }

  private def filled(s: SparkSession, d: String): DataFrame =
    TimeSeries.resampleFfill(Tables.events(s, d),
      "event_type", "ts", "value", "hour", "event_id")

  /** Last-touch attribution: each purchase attributes to the same
    * user's most recent click within a 24 h lookback — the standard
    * marketing/conversion join, here as ONE pass over the per-user
    * event timeline instead of a purchases×clicks join: a running
    * `max(ts) where type = click` over the (user, time)-ordered
    * stream carries the candidate forward (clicks and purchases never
    * tie on the full (ts, event_id) order, so last-click-BEFORE is
    * exact), then purchases test the 24 h window. One exchange on
    * user_id; per-user timelines are bounded, so the window never
    * sees corpus-scale partitions. Unattributed purchases keep a NULL
    * click and attributed=false. */
  def lastTouchAttribution(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        (col("click_ts").isNotNull &&
          col("ts").cast("long") - col("click_ts").cast("long") <= 86400L)
          .as("attributed"))
      .orderBy("event_id")
  }

  /** Robust anomaly detection on the daily revenue series: rolling
    * 7-observation median + MAD (median absolute deviation), the
    * outlier-resistant alternative to `q_rolling_zscore`'s mean/σ (a
    * single spike inflates σ and masks itself; the median/MAD pair
    * doesn't). Exact integer cents end to end; a point flags when
    * 2·|x − med| > 7·MAD (|dev| > 3.5·MAD, the standard cutoff,
    * cross-multiplied so there is NO division — floor-vs-truncate
    * semantics diverge across engines on signed quotients). Rolling
    * windows sit on the DAY-aggregated series (groups-sized, not
    * corpus-sized), so the unpartitioned window is a few thousand
    * rows at any corpus scale — the heavy lifting is the one
    * map-side-combining aggregate underneath. First 6 days (warm-up)
    * are dropped, as the oracle's COUNT guard mirrors. */
  def robustOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.lineitem(s, d)
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(sum(col("cents")).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily.withColumn("win", collect_list(col("cents")).over(w))
      .filter(size(col("win")) === 7)
      .withColumn("med7", expr("element_at(array_sort(win), 4)"))
      .withColumn("mad7",
        expr("element_at(array_sort(transform(win, x -> abs(x - med7))), 4)"))
      .select(col("day"), col("cents"), col("med7"), col("mad7"),
        (col("cents") - col("med7")).as("dev_cents"),
        (abs(col("cents") - col("med7")) * 2 > col("mad7") * 7)
          .as("is_outlier"))
      .orderBy("day")
  }

  /** A1 bucket step. */
  def resampleLast(s: SparkSession, d: String): DataFrame =
    TimeSeries.resampleLast(Tables.events(s, d),
        "event_type", "ts", "value", "hour", "event_id")
      .select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"), round(col("value"), 4).as("value"))
      .orderBy("event_type", "bucket")

  /** A1 full: dense grid + ffill. */
  def resampleFfill(s: SparkSession, d: String): DataFrame =
    filled(s, d)
      .select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"), round(col("value"), 4).as("value"))
      .orderBy("event_type", "bucket")

  /** A2+A3+A4+P13: pivot wide, row-wise consensus mean/median, deviation. */
  def pivotConsensus(s: SparkSession, d: String): DataFrame = {
    val wide = TimeSeries.pivotWide(filled(s, d), "bucket", "event_type", "value", keys)
    val kc = keys.map(col)
    val cMean = TimeSeries.rowMean(kc)
    wide.select(
        Seq(col("bucket").cast("timestamp_ntz").as("bucket")) ++
        keys.map(k => round(col(k), 4).as(k)) ++
        Seq(round(cMean, 6).as("c_mean"),
            round(TimeSeries.rowMedian(kc), 6).as("c_median"),
            round(col("click") - cMean, 6).as("dev_click")): _*)
      .orderBy("bucket")
  }

  /** A5+A6+P14: rolling mean/std (pop + samp, min_periods) and floored z. */
  def rollingZscore(s: SparkSession, d: String): DataFrame = {
    val pop = TimeSeries.rollingStats(filled(s, d), "event_type", "bucket", "value",
      n = 24, minPeriods = 24, ddofZero = true, meanCol = "m24", stdCol = "s24")
    val both = TimeSeries.rollingStats(pop, "event_type", "bucket", "value",
      n = 24, minPeriods = 8, ddofZero = false, meanCol = "m_relaxed", stdCol = "s_samp")
    both.select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"),
        round(col("m24"), 6).as("m24"),
        round(col("s24"), 6).as("s24"),
        round(col("s_samp"), 6).as("s_samp"),
        round(when(col("m24").isNotNull,
          (col("value") - col("m24")) / TimeSeries.sigmaFloor(col("s24"), 0.5)), 6).as("z"))
      .orderBy("event_type", "bucket")
  }

  /** A7: EWM bias, halflife 12 buckets, min_periods 5. */
  def ewmBias(s: SparkSession, d: String): DataFrame =
    TimeSeries.ewmMean(filled(s, d), "event_type", "bucket", "value",
        halflife = 12.0, minPeriods = 5, out = "bias")
      .select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"), round(col("bias"), 6).as("bias"))
      .orderBy("event_type", "bucket")

  /** A8+P13: deviation vs cross-key consensus, forward-horizon max label. */
  def forwardLabel(s: SparkSession, d: String): DataFrame = {
    val f = filled(s, d)
    val consensus = f.groupBy("bucket").agg(avg("value").as("c_mean"))
    val dev = f.join(consensus, Seq("bucket"))
      .withColumn("dev", col("value") - col("c_mean"))
    TimeSeries.forwardLabel(dev, "event_type", "bucket", "dev",
        horizon = 24, target = 50.0)
      .select(col("event_type"), col("bucket").cast("timestamp_ntz").as("bucket"),
        round(col("dev"), 6).as("dev"), round(col("fmax"), 6).as("fmax"), col("y"))
      .orderBy("event_type", "bucket")
  }

  /** F1: mean-reversion FSM over the hourly grid. dev = fractional
    * deviation vs cross-key consensus; threshold 0.5 (50%). */
  def fsmMeanrev(s: SparkSession, d: String): DataFrame = {
    val f = filled(s, d)
    val consensus = f.groupBy("bucket").agg(avg("value").as("c_mean"))
    val dev = f.join(consensus, Seq("bucket"))
      .withColumn("dev", (col("value") - col("c_mean")) / col("c_mean"))
    Backtest.meanReversion(dev, "event_type", "bucket", "value", "dev", thr = 0.5)
      .select(col("pool"), col("side"),
        col("entry_ts").cast("timestamp_ntz").as("entry_ts"),
        col("exit_ts").cast("timestamp_ntz").as("exit_ts"),
        round(col("entry_price"), 4).as("entry_price"),
        round(col("exit_price"), 4).as("exit_price"),
        round(col("pct_return"), 6).as("pct_return"))
      .orderBy("pool", "entry_ts")
  }

  /** F2: z-score reversion FSM with one-sided exits + time stop.
    * z from rolling(24, min_periods=24, ddof=0) of absolute deviation,
    * computed inside the FSM's per-key pass
    * ([[Backtest.rollingZscoreReversion]]); a zero-σ window gives null z. */
  def fsmZscore(s: SparkSession, d: String): DataFrame = {
    val f = filled(s, d)
    val consensus = f.groupBy("bucket").agg(avg("value").as("c_mean"))
    val dev = f.join(consensus, Seq("bucket"))
      .withColumn("dev", col("value") - col("c_mean"))
    Backtest.rollingZscoreReversion(dev, "event_type", "bucket", "value", "dev",
        lookback = 24, entryZ = 2.0, exitZ = 0.2, maxHold = 48)
      .select(col("pool"), col("side"),
        col("entry_ts").cast("timestamp_ntz").as("entry_ts"),
        col("exit_ts").cast("timestamp_ntz").as("exit_ts"),
        round(col("entry_price"), 4).as("entry_price"),
        round(col("exit_price"), 4).as("exit_price"),
        round(col("entry_z"), 6).as("entry_z"),
        round(col("exit_z"), 6).as("exit_z"),
        round(col("pct_return"), 6).as("pct_return"), col("held_rows"))
      .orderBy("pool", "entry_ts")
  }

  /** A9 on F1 output: monthly aggregated returns of the trades table
    * (`aggregate_returns`, ref `:255-266`). */
  def tradeReturnsMonthly(s: SparkSession, d: String): DataFrame =
    fsmMeanrev(s, d)
      .groupBy(col("pool"),
        to_date(date_trunc("month", col("exit_ts"))).as("month"))
      .agg(round(sum("pct_return"), 6).as("pct_return"),
        count(lit(1)).as("n_trades"))
      .orderBy("pool", "month")

  /** Gap-based sessionization of the event stream: per-user sessions
    * split at >2h of inactivity, aggregated to one row per session. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    TimeSeries.sessionize(Tables.events(s, d), "user_id", "ts",
        gapSeconds = 7200, tieBreak = "event_id")
      .groupBy("user_id", "session_no")
      .agg(min(col("ts")).cast("timestamp_ntz").as("session_start"),
        max(col("ts")).cast("timestamp_ntz").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"))
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .orderBy("user_id", "session_start")

  /** Session threads: each user session rendered as its ordered
    * event-type sequence — the "assemble interaction logs into
    * training sequences" step of a chat/agent-model data pipeline —
    * plus behavioral dedup (how many sessions corpus-wide share the
    * exact same sequence). In-aggregate order is made deterministic by
    * sorting (ts, event_id, event_type) structs, never by trusting
    * collect_list's arrival order; the sequence leaves the query as a
    * 60-bit hash, so the pattern-count window shuffles 8-byte keys. */
  def sessionThreads(s: SparkSession, d: String): DataFrame = {
    val sess = TimeSeries.sessionize(
      Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
      "user_id", "ts", gapSeconds = 7200, tieBreak = "event_id")
    val threads = sess.groupBy("user_id", "session_no")
      .agg(min(col("ts")).cast("timestamp_ntz").as("session_start"),
        count(lit(1)).as("n_events"),
        TextOps.h64(array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), " ")).as("seq_hash"))
    threads.withColumn("pattern_count",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("seq_hash")))
      .select(col("user_id"), col("session_no"), col("session_start"),
        col("n_events"), col("seq_hash"), col("pattern_count"))
      .orderBy("user_id", "session_no")
  }

  /** Bucketed interval join: for each purchase, the count and value sum
    * of the same user's clicks in the preceding hour. */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    TimeSeries.intervalJoinAgg(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        e.filter(col("event_type") === "click"),
        "user_id", "ts", "ts", "value", lookbackSeconds = 3600,
        nOut = "n_clicks", sumOut = "click_value")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"), col("n_clicks"),
        round(coalesce(col("click_value"), lit(0.0)), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Ordered funnel per user: first view, first click at-or-after that
    * view, first purchase at-or-after that click. Three chained
    * conditional window minima over ONE user partitioning — the sort
    * is reused, so the funnel costs a single shuffle regardless of
    * step count. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val vTs = min(when(col("event_type") === "view", col("ts"))).over(w)
    val e1 = Tables.events(s, d).withColumn("v_ts", vTs)
    val cTs = min(when(col("event_type") === "click" &&
      col("ts") >= col("v_ts"), col("ts"))).over(w)
    val e2 = e1.withColumn("c_ts", cTs)
    val pTs = min(when(col("event_type") === "purchase" &&
      col("ts") >= col("c_ts"), col("ts"))).over(w)
    e2.withColumn("p_ts", pTs)
      .groupBy("user_id")
      .agg(min(col("v_ts")).cast("timestamp_ntz").as("view_ts"),
        min(col("c_ts")).cast("timestamp_ntz").as("click_ts"),
        min(col("p_ts")).cast("timestamp_ntz").as("purchase_ts"))
      .withColumn("completed", col("purchase_ts").isNotNull)
      .orderBy("user_id")
  }

  /** Weekly cohort retention: cohort = the user's first activity week;
    * cell (cohort, offset) = distinct cohort users active that many
    * weeks later; rate = cell / cohort size. The per-user cohort stamp
    * is a window min over the SAME user_id exchange (no separate
    * first-activity dim join), then one distinct-agg on the
    * (cohort, offset) composite; the offset-0 column (cohort sizes, a
    * week-count-sized frame) broadcasts back. At 100 TB both shuffles
    * key on user_id / small composites and nothing collects. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val e = Tables.events(s, d)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .withColumn("cohort", min("week").over(w))
      .withColumn("wk_offset", expr("datediff(week, cohort) div 7"))
    val cells = e.groupBy("cohort", "wk_offset")
      .agg(countDistinct("user_id").as("n_active"))
    val base = cells.filter(col("wk_offset") === 0)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    cells.join(broadcast(base), Seq("cohort"))
      .select(col("cohort"), col("wk_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active") / col("cohort_size"), 6).as("retention"))
      .orderBy("cohort", "wk_offset")
  }

  /** Cohort LTV curves — [[retention]]'s value-weighted sibling: per
    * (first-activity-week cohort, week offset), purchase revenue in
    * integer micro-units and its cumulative along the offset axis
    * (the lifetime-value curve). Same scale shape as retention: the
    * cohort stamp is a window min on the user_id exchange, revenue is
    * one (cohort, offset) aggregate, and the cumulative window runs
    * on the cohort×offset frame, which never grows with the corpus. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .withColumn("cohort", min("week").over(w))
      .withColumn("wk_offset",
        expr("CAST(datediff(week, cohort) div 7 AS BIGINT)"))
    val rev = e
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("micro", round(col("value") * 1000000).cast("long"))
      .groupBy("cohort", "wk_offset")
      .agg(sum("micro").as("rev_micro"), count(lit(1)).as("n_purchases"))
    val cum = Window.partitionBy("cohort").orderBy("wk_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.withColumn("cum_rev_micro", sum("rev_micro").over(cum))
      .orderBy("cohort", "wk_offset")
  }

  /** First-order Markov transition matrix between consecutive events
    * on each user's timeline: counts + integer-micro row-normalized
    * probabilities — the session-path-mining primitive (what follows
    * a click? where do errors send users?). One user_id exchange for
    * the lead(), one aggregate into the ≤types² matrix. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val t = e.groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("cnt"))
    val out = t.groupBy("src").agg(sum("cnt").as("out_cnt"))
    t.join(out, Seq("src"))
      .withColumn("prob_micro", expr("cnt * 1000000 div out_cnt"))
      .orderBy("src", "dst")
  }

  /** Fixed-width value histogram per event type (bin = floor(v/50)):
    * the profile report an ingest pipeline emits per batch. */
  def valueHist(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        floor(col("value") / 50.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min("value"), 4).as("v_min"),
        round(max("value"), 4).as("v_max"))
      .orderBy("event_type", "bin")

  /** P10+P12: polarity flip by per-key median sign, tick→price. */
  def polarityPrice(s: SparkSession, d: String): DataFrame =
    TimeSeries.polarity(Tables.events(s, d), "event_type", "value")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("signed"),
        round(TimeSeries.tickToPrice(col("value")), 6).as("price"))
      .orderBy("event_id")

  /** P11: canonical pair + sign truth table, derived deterministically. */
  def canonicalPair(s: SparkSession, d: String): DataFrame = {
    val names = Seq("DAI", "USDC", "USDT")
    def nameOf(c: org.apache.spark.sql.Column) =
      when(c === 0, names(0)).when(c === 1, names(1)).otherwise(names(2))
    val allowed = Seq(("DAI", "USDC"), ("DAI", "USDT"), ("USDC", "USDT"))
    val e = Tables.events(s, d)
      .withColumn("a", nameOf(pmod(col("user_id"), lit(3))))
      .withColumn("b", nameOf(pmod(expr("user_id div 7"), lit(3))))
      .filter(col("a") =!= col("b"))
    e.withColumn("c", TimeSeries.canonizePair(col("a"), col("b"), allowed))
      .groupBy(col("c.a").as("pair_a"), col("c.b").as("pair_b"), col("c.sign").as("sign"))
      .agg(count(lit(1)).as("n"))
      .orderBy("pair_a", "pair_b", "sign")
  }
}
