package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{TickIn, TradeOut}
import graft.ops.Backtest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("bloomScreenStream equals the batch screen's bloom-positive counts") {
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bitmap = graft.ops.DedupOps.bloomBitmap(bench, "text", 5)
    val batch = graft.ops.DedupOps
      .bloomScreen(corpus, bench, "doc_id", "text", 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.DedupOps
      .bloomScreenStream(input.toDF().toDF("doc_id", "text"), bitmap,
        "doc_id", "text", 5)
      .writeStream.format("memory").queryName("bloom_stream_out")
      .outputMode("append").start()
    val rows = corpus.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    input.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT * FROM bloom_stream_out").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.size == batch.size)
    assert(got == batch, "stream bloom counts diverge from batch")
  }

  test("hllRegistersStream register file equals the batch sketch across batches") {
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // batch registers, computed the way hllErr does
    val batch = Tables.documents(spark, d)
      .select(col("source").as("k"), explode(call_function("shingle_h64s",
        graft.ops.TextOps.tokens(col("text")), lit(3))).as("g"))
      .withColumn("b", expr("g & 511"))
      .withColumn("rho", when(expr("shiftright(g, 9)") === 0, lit(52))
        .otherwise(expr(
          "bit_count((shiftright(g, 9) & -shiftright(g, 9)) - 1) + 1")))
      .groupBy("k", "b").agg(max("rho").as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val input = MemoryStream[(String, String)]
    val q = graft.streaming.StreamOps
      .hllRegistersStream(input.toDF().toDF("source", "text"), "source", "text")
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    // two separate micro-batches: the register max must merge across them
    val (first, rest) = docs.splitAt(docs.length / 2)
    input.addData(first: _*); q.processAllAvailable()
    input.addData(rest: _*); q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT * FROM hll_stream_out").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == batch, "streaming register file diverges from batch")
  }

  test("maintainRollup: parquet state after N micro-batches equals direct aggregate") {
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
      .select("event_type", "ts", "value", "event_id").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val statePath = java.nio.file.Files
      .createTempDirectory("rollup_state").toString + "/state"
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Long)]
    val q = graft.streaming.StreamOps.maintainRollup(
      input.toDF().toDF("event_type", "ts", "value", "event_id"), statePath)
    try {
      // three micro-batches, uneven splits — the merge must be
      // associative across them
      val parts = Seq(ev.take(100), ev.slice(100, 700), ev.drop(700))
      parts.foreach { p => input.addData(p: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = graft.streaming.StreamOps.readRollup(spark, statePath)
      .orderBy("event_type", "day").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    val want = graft.ops.DataQueries.incrAgg(spark, d).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq,
      "maintained rollup diverges from the oracled batch aggregate")
  }

  test("maintainPipeline: live stream of PERMUTED batches + auto-compaction ≡ the stamped batch twin") {
    // the writeStream wiring itself (foreachBatch hookup, batchId
    // sequencing, state commit, compactEvery cadence under a REAL
    // StreamingQuery) — apply-function semantics are pinned in
    // PipelineSpec. Batches are id-interleaved (doc_id % 3): arrival
    // order ≠ id order, the realistic crawl contract.
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val statePath = java.nio.file.Files
      .createTempDirectory("mpipe_stream").toString + "/state"
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamOps.maintainPipeline(
      input.toDF().toDF("doc_id", "lang", "text"), statePath, compactEvery = 2)
    try {
      val parts = (0 until 3).map(k => docs.filter(_._1 % 3 == k))
      parts.foreach { p => input.addData(p: _*); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val got = rows(graft.streaming.StreamOps.pipelineStateAudit(spark, statePath))
    val stamped = (0 until 3)
      .map(k => Tables.documents(spark, d).select("doc_id", "lang", "text")
        .filter(col("doc_id") % 3 === k).withColumn("__arr", lit(k.toLong)))
      .reduce(_ unionByName _)
    val want = rows(pipelines.Corpus.pipelineAudit(stamped))
    assert(got == want,
      s"streamed pipeline state diverges from stamped batch twin:\n got=$got\nwant=$want")
    // the mid-stream compaction really ran: batches 0-1 folded under a
    // committed _AIDX marker after the second trigger
    assert(new java.io.File(s"$statePath/rows").list()
      .exists(_.startsWith("_AIDX_")), "auto-compaction never committed")
  }

  test("stream-stream interval join equals the batch pair join") {
    implicit val sc = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val purch = ev.filter(_._4 == "purchase").map(t => (t._1, t._2, t._3))
    val clicks = ev.filter(_._4 == "click").map(t => (t._1, t._2, t._3))
    val pIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = graft.streaming.StreamOps.intervalJoinStream(
      pIn.toDF().toDF("user_id", "ts", "p_id"),
      cIn.toDF().toDF("user_id", "cts", "c_id"),
      "user_id", "ts", "cts", lookbackSeconds = 3600)
    val q = joined.selectExpr("p_id", "c_id")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // two uneven batches per side — pairs must span batch boundaries
      pIn.addData(purch.take(50).toIndexedSeq: _*); cIn.addData(clicks.take(200).toIndexedSeq: _*)
      q.processAllAvailable()
      pIn.addData(purch.drop(50).toIndexedSeq: _*); cIn.addData(clicks.drop(200).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = Tables.events(spark, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
    val c = Tables.events(spark, d).filter(col("event_type") === "click")
      .select(col("user_id").as("cuser"), col("ts").as("cts"),
        col("event_id").as("c_id"))
    val want = p.join(c, col("user_id") === col("cuser") &&
        col("cts") >= col("ts") - org.apache.spark.sql.functions.expr(
          "INTERVAL 3600 SECONDS") && col("cts") < col("ts")) // half-open
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got == want, s"stream pairs ${got.size} vs batch ${want.size}")
  }

  test("maintainScd2: sequential batch merges equal the batch recompute; replay is a no-op") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val statePath = java.nio.file.Files
      .createTempDirectory("scd2_state").toString + "/state"
    // three uneven TIME-ORDERED batches (per-key in-order is the
    // operating assumption; global ts order gives it for free)
    val ev = Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "event_type")
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val parts = Seq(ev.take(150), ev.slice(150, 800), ev.drop(800))
    parts.zipWithIndex.foreach { case (p, i) =>
      graft.streaming.StreamOps.applyScd2Batch(
        p.toSeq.toDF("user_id", "ts", "event_id", "event_type"),
        statePath, i.toLong)
    }
    // replay of an already-applied batch must not double-version
    graft.streaming.StreamOps.applyScd2Batch(
      parts(1).toSeq.toDF("user_id", "ts", "event_id", "event_type"),
      statePath, 1L)
    val got = graft.streaming.StreamOps.readScd2(spark, statePath)
      .select("user_id", "version", "attr", "valid_from", "valid_to")
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        String.valueOf(r.get(3)), String.valueOf(r.get(4))))
    val want = graft.ops.DataQueries.scd2History(spark, d)
      .select("user_id", "version", "attr", "valid_from", "valid_to")
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        String.valueOf(r.get(3)), String.valueOf(r.get(4))))
    assert(got.toSeq == want.toSeq,
      "maintained SCD2 state diverges from the batch recompute")
  }

  test("stateChanges: the retained version pair yields the exact CDF of the last batch") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("cdf_state").toString + "/state"
    val mk = (rows: Seq[(String, Long, Double)]) => rows
      .map { case (t, day, v) =>
        (t, new java.sql.Timestamp(86400000L * day), v, day) }
      .toDF("event_type", "ts", "value", "event_id")
    graft.streaming.StreamOps.applyRollupBatch(
      mk(Seq(("click", 0L, 1.0), ("view", 0L, 2.0))), statePath, 0L)
    graft.streaming.StreamOps.applyRollupBatch(
      mk(Seq(("click", 0L, 1.0), ("buy", 1L, 3.0))), statePath, 1L)
    val prev = graft.streaming.StreamOps.readStateAt(spark, statePath, 0L)
    val cur = graft.streaming.StreamOps.readStateAt(spark, statePath, 1L)
    val ch = graft.streaming.StreamOps
      .stateChanges(prev, cur, Seq("event_type", "day"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // click day0 merged again -> update; buy day1 new -> insert;
    // view day0 untouched -> ABSENT from the feed
    assert(ch == Map("click" -> "update", "buy" -> "insert"), s"$ch")
    // and a synthetic rollback direction shows deletes
    val back = graft.streaming.StreamOps
      .stateChanges(cur, prev, Seq("event_type", "day"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(back("buy") == "delete")
  }

  test("maintainMerge: sequential CDC batches equal the batch MERGE INTO; tombstones hold") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val statePath = java.nio.file.Files
      .createTempDirectory("merge_state").toString + "/state"
    val ev = Tables.events(spark, d)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val parts = Seq(ev.take(200), ev.slice(200, 700), ev.drop(700))
    parts.zipWithIndex.foreach { case (p, i) =>
      graft.streaming.StreamOps.applyMergeBatch(
        p.toSeq.toDF("user_id", "ts", "event_id", "event_type", "value"),
        statePath, i.toLong)
    }
    // replay must not change the state
    graft.streaming.StreamOps.applyMergeBatch(
      parts(2).toSeq.toDF("user_id", "ts", "event_id", "event_type", "value"),
      statePath, 2L)
    val got = graft.streaming.StreamOps.readMergeTable(spark, statePath)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2))))
    val want = graft.ops.DataQueries.mergeInto(spark, d)
      .select("user_id", "vmicro", "ts").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2))))
    assert(got.toSeq == want.toSeq,
      "maintained merge table diverges from the batch MERGE INTO")
    // tombstones: a user whose LAST event is an error must be absent
    val deleted = ev.groupBy(_._1).filter(_._2.maxBy(e => (e._2.getTime, e._3))._4 == "error")
    assert(deleted.nonEmpty, "fixture needs a trailing-delete key")
    val gotKeys = got.map(_._1).toSet
    assert(deleted.keys.forall(k => !gotKeys.contains(k)),
      "a deleted key resurrected")
  }

  test("maintainRollup: replayed micro-batch is a no-op; failed write leaves state intact") {
    import spark.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("rollup_replay").toString + "/state"
    val mk = (n: Int) => Seq.tabulate(n)(i =>
        ("click", new java.sql.Timestamp(86400000L * (i % 2)), 1.5, i.toLong))
      .toDF("event_type", "ts", "value", "event_id")
    graft.streaming.StreamOps.applyRollupBatch(mk(10), statePath, 0L)
    graft.streaming.StreamOps.applyRollupBatch(mk(4), statePath, 1L)
    val after = graft.streaming.StreamOps.readRollup(spark, statePath)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(after == 14L)
    // at-least-once replay of an already-committed batch must not double-merge
    graft.streaming.StreamOps.applyRollupBatch(mk(4), statePath, 1L)
    graft.streaming.StreamOps.applyRollupBatch(mk(10), statePath, 0L)
    val replayed = graft.streaming.StreamOps.readRollup(spark, statePath)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(replayed == 14L, "replayed batch was double-merged")
    // a partial (uncommitted) version directory is invisible to readers
    val orphan = new java.io.File(s"$statePath/v=9")
    orphan.mkdirs()
    val withOrphan = graft.streaming.StreamOps.readRollup(spark, statePath)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(withOrphan == 14L, "uncommitted version directory leaked into reads")
    // time travel: the previous committed version (one-step rollback)
    // reads back the pre-merge state; vacuumed versions error loudly
    graft.streaming.StreamOps.applyRollupBatch(mk(6), statePath, 2L)
    assert(graft.streaming.StreamOps.retainedVersions(spark, statePath)
      == Seq(1L, 2L), "retention should keep newest + one rollback")
    val prev = graft.streaming.StreamOps.readStateAt(spark, statePath, 1L)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(prev == 14L, "time-travel read of the previous version")
    val cur2 = graft.streaming.StreamOps.readStateAt(spark, statePath, 2L)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(cur2 == 20L)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.readStateAt(spark, statePath, 0L)
    }
  }

  test("maintainRollup: a stray non-numeric marker name is ignored, not fatal") {
    val base = java.nio.file.Files.createTempDirectory("rollup_stray").toString
    val mk = (n: Int) => Seq.tabulate(n)(i =>
        ("click", new java.sql.Timestamp(86400000L * (i % 2)), 1.5, i.toLong))
      .toDF("event_type", "ts", "value", "event_id")
    def rows(p: String) = StreamOps.readRollup(spark, p)
      .orderBy("event_type", "day").collect().toSeq
    for (p <- Seq("clean", "stray")) {
      StreamOps.applyRollupBatch(mk(10), s"$base/$p", 0L)
      StreamOps.applyRollupBatch(mk(4), s"$base/$p", 1L)
    }
    // a copy tool's or an editor's leftover next to the real markers
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/stray/_COMMIT_7.tmp"),
      "7".getBytes("UTF-8"))
    assert(rows(s"$base/stray") == rows(s"$base/clean"))
    for (p <- Seq("clean", "stray")) StreamOps.applyRollupBatch(mk(6), s"$base/$p", 2L)
    assert(rows(s"$base/stray") == rows(s"$base/clean"))
    assert(rows(s"$base/clean").map(_.getLong(2)).sum == 20L)
  }

  test("resampleLastStream matches batch resampleLast after watermark close") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double, Long)]
    val df = input.toDF().toDF("k", "t", "v", "id")
    val agg = StreamOps.resampleLastStream(df, "k", "t", "v", "hour", "id")
    val q = agg.writeStream.format("memory").queryName("resample_out")
      .outputMode("append").start()
    input.addData(
      ("a", ts("2024-01-01 00:10:00"), 1.0, 1L),
      ("a", ts("2024-01-01 00:50:00"), 2.0, 2L),
      ("a", ts("2024-01-01 01:20:00"), 3.0, 3L))
    q.processAllAvailable()
    // advance watermark past hour 01 so buckets 00 and 01 close
    input.addData(("a", ts("2024-01-01 03:30:00"), 9.0, 4L))
    q.processAllAvailable()
    val got = spark.table("resample_out").orderBy("bucket")
      .collect().map(r => (r.getTimestamp(1).toString, r.getDouble(2)))
    q.stop()
    assert(got.toSeq == Seq(
      ("2024-01-01 00:00:00.0", 2.0), ("2024-01-01 01:00:00.0", 3.0)))
  }

  test("attributionStream: click state carries across batches; 24h window holds") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[StreamOps.AttrIn]
    val out = StreamOps.attributionStream(input.toDS())
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    val H = 3600L * 1000000L // an hour in micros
    // batch 1: user 1 clicks at t=0h and 2h; user 2 never clicks
    input.addData(
      StreamOps.AttrIn(1L, 10L, "click", 0L),
      StreamOps.AttrIn(1L, 11L, "click", 2 * H),
      StreamOps.AttrIn(2L, 20L, "view", H))
    q.processAllAvailable()
    // batch 2: purchases — user 1 at 3h (attributed to the 2h click,
    // which lives only in STATE now) and at 28h (>24h later: click_ts
    // still set, attributed=false); user 2 purchase → null, false
    input.addData(
      StreamOps.AttrIn(1L, 12L, "purchase", 3 * H),
      StreamOps.AttrIn(1L, 13L, "purchase", 28 * H),
      StreamOps.AttrIn(2L, 21L, "purchase", 4 * H))
    q.processAllAvailable()
    val got = spark.table("attr_out").orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getBoolean(4)))
    q.stop()
    assert(got.toSeq == Seq(
      (12L, 2 * H, true), (13L, 2 * H, false), (21L, -1L, false)))
  }

  test("ohlcStream: closed candles equal the batch OHLC aggregation, exactly") {
    implicit val sc = spark.sqlContext
    // (key, ts, price_cents, qty, ord) — ord is the total order
    val input = MemoryStream[(String, java.sql.Timestamp, Long, Long, Long)]
    val df = input.toDF().toDF("k", "t", "c", "q", "o")
    val agg = StreamOps.ohlcStream(df, "k", "t", "c", "q", "o", "hour")
    val qy = agg.writeStream.format("memory").queryName("ohlc_out")
      .outputMode("append").start()
    val batch1 = Seq(
      ("p", ts("2024-01-01 00:05:00"), 100L, 2L, 1L),
      ("p", ts("2024-01-01 00:20:00"), 130L, 1L, 2L),
      ("p", ts("2024-01-01 00:40:00"), 90L, 3L, 3L))
    val batch2 = Seq(
      ("p", ts("2024-01-01 00:55:00"), 120L, 4L, 4L), // same bucket, later batch
      ("p", ts("2024-01-01 01:10:00"), 200L, 1L, 5L))
    input.addData(batch1: _*)
    qy.processAllAvailable()
    input.addData(batch2: _*)
    qy.processAllAvailable()
    input.addData(("p", ts("2024-01-01 03:30:00"), 1L, 1L, 6L)) // advance watermark
    qy.processAllAvailable()
    val got = spark.table("ohlc_out").orderBy("bucket").collect()
      .map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    qy.stop()
    // batch recompute over the union of the two in-window batches
    import spark.implicits._
    val all = (batch1 ++ batch2).toDF("k", "t", "c", "q", "o")
    val want = all
      .groupBy(window(col("t"), "1 hour").as("w"))
      .agg(min_by(col("c"), col("o")).as("open"), max("c").as("high"),
        min("c").as("low"), max_by(col("c"), col("o")).as("close"),
        sum(col("c") * col("q")).as("pq"), sum("q").as("vol"))
      .orderBy(col("w.start")).collect()
      .map(r => (r.getStruct(0).getTimestamp(0).toString, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // only closed buckets (00 and 01) have emitted
    assert(got.toSeq == want.toSeq.take(got.length) && got.length == 2,
      s"stream=${got.toSeq} batch=${want.toSeq}")
    // the cross-batch bucket-00 candle saw all four trades
    assert(got(0) == ("2024-01-01 00:00:00.0", 100L, 130L, 90L, 120L,
      100L * 2 + 130L + 90L * 3 + 120L * 4, 10L))
  }

  test("pinned-model scoring: stream and batch produce identical scores") {
    implicit val sc = spark.sqlContext
    val cols = Seq("event_type", "z", "devdt", "bias", "sigma", "pair_id")
    val rows = Seq(
      ("click", -2.5, -3.0, 0.5, 1.0, 0),  // strongly negative z → fire
      ("view", 1.0, 2.0, 0.0, 0.5, 4),     // positive devdt → never fires
      ("error", 1.0, -0.1, 0.0, 0.5, 1))   // positive z sinks the logit
    val input = MemoryStream[(String, Double, Double, Double, Double, Int)]
    val q = graft.ml.MlPipeline.scorePinnedStream(input.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("pin_scores")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("pin_scores")
      .select("event_type", "score", "fire")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSet
    q.stop()
    // one artifact, two runtimes: the batch form of the same expression
    val want = graft.ml.MlPipeline.scorePinnedStream(rows.toDF(cols: _*))
      .select("event_type", "score", "fire")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(got == want && got.size == 3)
    // the fire rule actually separates the crafted rows
    val fired = got.filter(_._3).map(_._1)
    assert(fired == Set("click"), s"unexpected fires: $got")
  }

  test("dedupExactStream keeps first arrival, drops in-watermark duplicates") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.dedupExactStream(df, "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), "alpha"),
      (2L, ts("2024-01-01 00:05:00"), "beta"),
      (3L, ts("2024-01-01 00:10:00"), "alpha")) // dup of 1 within watermark
    q.processAllAvailable()
    // next batch: another in-watermark dup, plus a new text
    input.addData(
      (4L, ts("2024-01-01 00:20:00"), "beta"),  // dup of 2 across batches
      (5L, ts("2024-01-01 00:30:00"), "gamma"))
    q.processAllAvailable()
    val out = spark.table("dedup_out")
    val kept = out.select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(kept == Set(1L, 2L, 5L))
    // all input columns pass through (only the hash key enters state)
    assert(out.columns.contains("text"))
  }

  test("nearDupScreenStream flags stream docs against the static band index, once") {
    import graft.ops.DedupOps
    implicit val sc = spark.sqlContext
    val t = "one two three four five six seven eight nine ten"
    val corpus = Seq((100L, t),
      (200L, "completely different other words entirely")).toDF("doc_id", "text")
    val idx = DedupOps.bandIndex(corpus, "doc_id", "text", k = 32, r = 2)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.nearDupScreenStream(df, idx, "doc_id", "text", "ts",
        k = 32, r = 2, threshold = 0.3)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), t), // exact dup of corpus doc 100
      (2L, ts("2024-01-01 00:01:00"), "nothing shared with anything here at all"))
    q.processAllAvailable()
    // re-arrival inside the watermark: the pair is already in state
    input.addData((1L, ts("2024-01-01 00:10:00"), t))
    q.processAllAvailable()
    val got = spark.table("neardup_out").collect()
    q.stop()
    assert(got.length == 1, got.mkString(";"))
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 100L)
    // identical text ⇒ identical signature ⇒ est 1.0 (16-band collision
    // collapsed by the pair-key dedup)
    assert(got(0).getDouble(3) == 1.0)
  }

  test("sessionizeStream closes sessions at the watermark, matches batch grouping") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "t", "v")
    val q = StreamOps.sessionizeStream(df, "user_id", "t", "v", "30 minutes",
        watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 00:20:00"), 2.0),  // same session (gap 20m)
      (1L, ts("2024-01-01 01:00:00"), 4.0),  // new session (gap 40m)
      (2L, ts("2024-01-01 00:05:00"), 8.0))
    q.processAllAvailable()
    // advance the watermark far enough to close everything
    input.addData((9L, ts("2024-01-01 06:00:00"), 0.0))
    q.processAllAvailable()
    val got = spark.table("sess_out")
      .filter(col("user_id") < 9)
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    q.stop()
    assert(got.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 2L, 3.0),
      (1L, "2024-01-01 01:00:00.0", 1L, 4.0),
      (2L, "2024-01-01 00:05:00.0", 1L, 8.0)))
  }

  test("intervalJoinStream joins in-window rows across batches, half-open") {
    implicit val sc = spark.sqlContext
    val probes = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val builds = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val p = probes.toDF().toDF("event_id", "user_id", "pts")
    val b = builds.toDF().toDF("user_id", "bts", "v")
    val q = StreamOps.intervalJoinStream(p, b, "user_id", "pts", "bts", 3600)
      .select("event_id", "v")
      .writeStream.format("memory").queryName("sij_out")
      .outputMode("append").start()
    builds.addData(
      (1L, ts("2024-01-01 01:00:00"), 1.0),  // == pts-1h → in (closed lower)
      (1L, ts("2024-01-01 01:30:00"), 2.0),  // in window
      (1L, ts("2024-01-01 02:00:00"), 4.0),  // == pts → OUT (open upper)
      (2L, ts("2024-01-01 01:30:00"), 8.0))  // other key
    probes.addData((10L, 1L, ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    // a build row arriving in a LATER batch still joins while in-window
    builds.addData((1L, ts("2024-01-01 01:45:00"), 16.0))
    q.processAllAvailable()
    val got = spark.table("sij_out").select("v").as[Double].collect().toSet
    q.stop()
    assert(got == Set(1.0, 2.0, 16.0))
  }

  test("zscoreReversionStream matches batch FSM incl. warm-up clock and time stop") {
    import graft.streaming.StreamOps.{ZTickIn, ZTradeOut}
    implicit val sc = spark.sqlContext
    val rows = Seq(
      ZTickIn("p", 1L, 10.0, Double.NaN), // warm-up: skipped, clock advances
      ZTickIn("p", 2L, 10.0, -2.5),       // open long
      ZTickIn("p", 3L, 10.5, -1.0),       // held, no exit (z < -0.2)
      ZTickIn("p", 4L, 11.0, -0.1),       // exit: z back inside ±0.2
      ZTickIn("p", 5L, 12.0, 2.6),        // open short
      ZTickIn("p", 6L, 12.5, 2.4),        // held 1
      ZTickIn("p", 7L, 13.0, 2.2),        // held 2
      ZTickIn("p", 8L, 13.5, 2.1))        // held 3 >= maxHold → time stop
    val input = MemoryStream[ZTickIn]
    val q = StreamOps.zscoreReversionStream(input.toDS(),
        entryZ = 2.0, exitZ = 0.2, maxHold = 3)
      .writeStream.format("memory").queryName("zfsm_out")
      .outputMode("append").start()
    input.addData(rows.take(3): _*); q.processAllAvailable()
    input.addData(rows.drop(3): _*); q.processAllAvailable()
    val got = spark.table("zfsm_out").as[ZTradeOut].collect().sortBy(_.entry_ts)
    q.stop()
    val batch = Backtest.zscoreReversion(
        rows.map(r => (r.key, r.ts, r.price, r.z)).toDF("k", "ts", "px", "z"),
        "k", "ts", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 3)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[java.lang.Double](8), r.getInt(9).toLong))
    assert(got.length == 2 && batch.length == 2)
    assert(got.map(t => (t.side, t.entry_ts, t.exit_ts, t.pct_return, t.held_rows))
      .toSeq == batch.toSeq)
  }

  test("meanReversionStream emits the same trades as the batch FSM, across batches") {
    implicit val sc = spark.sqlContext
    val rows = Seq(
      TickIn("p", 1L, 10.0, -0.6), TickIn("p", 2L, 11.0, -0.1),
      TickIn("p", 3L, 12.0, 0.2), TickIn("p", 4L, 13.0, 0.7),
      TickIn("p", 5L, 14.0, -0.1))
    val input = MemoryStream[TickIn]
    val q = StreamOps.meanReversionStream(input.toDS(), thr = 0.5)
      .writeStream.format("memory").queryName("fsm_out")
      .outputMode("append").start()
    // split across micro-batches to prove state carries over
    input.addData(rows.take(2): _*); q.processAllAvailable()
    input.addData(rows.drop(2): _*); q.processAllAvailable()
    val got = spark.table("fsm_out").as[TradeOut].collect().sortBy(_.entry_ts)
    q.stop()
    val batch = Backtest.meanReversion(
        rows.toDF("k", "ts", "px", "dev"), "k", "ts", "px", "dev", 0.5)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[java.lang.Double](6)))
    assert(got.length == batch.length && got.length == 2)
    assert(got.map(t => (t.side, t.entry_ts, t.exit_ts, t.pct_return)).toSeq
      == batch.toSeq)
  }

  test("streaming FSMs: a zero entry price gives a null pct_return, as batch does") {
    import graft.streaming.StreamOps.{ZTickIn, ZTradeOut}
    implicit val sc = spark.sqlContext
    // each FSM opens at price 0 in the first micro-batch and closes in
    // the second, so the zero entry price crosses the state store
    val ticks = Seq(
      TickIn("p", 1L, 0.0, -0.6),  // open long at 0
      TickIn("p", 2L, 5.0, 0.1),   // exit: 5 / 0 → null
      TickIn("p", 3L, 4.0, 0.7),   // open short
      TickIn("p", 4L, 2.0, -0.1))  // exit: (4 − 2) / 4
    val in = MemoryStream[TickIn]
    val q = StreamOps.meanReversionStream(in.toDS(), thr = 0.5)
      .writeStream.format("memory").queryName("fsm_zero_out")
      .outputMode("append").start()
    in.addData(ticks.take(1): _*); q.processAllAvailable()
    in.addData(ticks.drop(1): _*); q.processAllAvailable()
    val got = spark.table("fsm_zero_out").as[TradeOut].collect().sortBy(_.entry_ts)
    q.stop()
    val batch = Backtest.meanReversion(
        ticks.toDF("k", "ts", "px", "dev"), "k", "ts", "px", "dev", 0.5)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[java.lang.Double](6)))
    assert(got.map(t => (t.side, t.entry_ts, t.exit_ts, t.pct_return)).toSeq
      == batch.toSeq)
    assert(got.map(_.pct_return).toSeq == Seq(null, java.lang.Double.valueOf(0.5)))

    val zticks = Seq(
      ZTickIn("p", 1L, 0.0, -2.5),  // open long at 0
      ZTickIn("p", 2L, 5.0, -0.1),  // exit: 5 / 0 → null
      ZTickIn("p", 3L, 4.0, 2.5),   // open short
      ZTickIn("p", 4L, 2.0, 0.1))   // exit: (4 − 2) / 4
    val zin = MemoryStream[ZTickIn]
    val zq = StreamOps.zscoreReversionStream(zin.toDS(),
        entryZ = 2.0, exitZ = 0.2, maxHold = 10)
      .writeStream.format("memory").queryName("zfsm_zero_out")
      .outputMode("append").start()
    zin.addData(zticks.take(1): _*); zq.processAllAvailable()
    zin.addData(zticks.drop(1): _*); zq.processAllAvailable()
    val zgot = spark.table("zfsm_zero_out").as[ZTradeOut].collect().sortBy(_.entry_ts)
    zq.stop()
    val zbatch = Backtest.zscoreReversion(
        zticks.map(r => (r.key, r.ts, r.price, r.z)).toDF("k", "ts", "px", "z"),
        "k", "ts", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 10)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[java.lang.Double](8), r.getInt(9).toLong))
    assert(zgot.map(t => (t.side, t.entry_ts, t.exit_ts, t.pct_return, t.held_rows))
      .toSeq == zbatch.toSeq)
    assert(zgot.map(_.pct_return).toSeq == Seq(null, java.lang.Double.valueOf(0.5)))
  }

  test("streaming FSMs: a NaN price makes no decision, as in batch") {
    import graft.streaming.StreamOps.{ZTickIn, ZTradeOut}
    implicit val sc = spark.sqlContext
    val nan = Double.NaN
    // the NaN rows would open (t=1) and close (t=3); the entry crosses
    // the micro-batch boundary
    val ticks = Seq(TickIn("p", 1L, nan, -0.6), TickIn("p", 2L, 10.0, -0.6),
      TickIn("p", 3L, nan, 0.1), TickIn("p", 4L, 12.0, 0.1))
    val in = MemoryStream[TickIn]
    val q = StreamOps.meanReversionStream(in.toDS(), thr = 0.5)
      .writeStream.format("memory").queryName("fsm_nan_out")
      .outputMode("append").start()
    in.addData(ticks.take(2): _*); q.processAllAvailable()
    in.addData(ticks.drop(2): _*); q.processAllAvailable()
    val got = spark.table("fsm_nan_out").as[TradeOut].collect()
      .map(t => (t.side, t.entry_ts, t.exit_ts, t.entry_price, t.pct_return))
    q.stop()
    val batch = Backtest.meanReversion(
        ticks.toDF("k", "ts", "px", "dev"), "k", "ts", "px", "dev", 0.5)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getAs[java.lang.Double](6)))
    assert(got.toSeq == batch.toSeq)
    assert(got.map(_._2).toSeq == Seq(2L) && got(0)._4 == 10.0)

    val zticks = Seq(ZTickIn("p", 1L, nan, -2.5), ZTickIn("p", 2L, 10.0, -2.5),
      ZTickIn("p", 3L, nan, -0.1), ZTickIn("p", 4L, 11.0, -0.1))
    val zin = MemoryStream[ZTickIn]
    val zq = StreamOps.zscoreReversionStream(zin.toDS(),
        entryZ = 2.0, exitZ = 0.2, maxHold = 100)
      .writeStream.format("memory").queryName("zfsm_nan_out")
      .outputMode("append").start()
    zin.addData(zticks.take(2): _*); zq.processAllAvailable()
    zin.addData(zticks.drop(2): _*); zq.processAllAvailable()
    val zgot = spark.table("zfsm_nan_out").as[ZTradeOut].collect()
      .map(t => (t.side, t.entry_ts, t.exit_ts, t.entry_price, t.pct_return, t.held_rows))
    zq.stop()
    val zbatch = Backtest.zscoreReversion(
        zticks.map(r => (r.key, r.ts, r.price, r.z)).toDF("k", "ts", "px", "z"),
        "k", "ts", "px", "z", entryZ = 2.0, exitZ = 0.2, maxHold = 100)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getAs[java.lang.Double](8), r.getInt(9).toLong))
    assert(zgot.toSeq == zbatch.toSeq)
    assert(zgot.map(t => (t._2, t._3, t._6)).toSeq == Seq((2L, 4L, 2L)))
  }

  test("streaming FSMs: an open position survives a restart on the same checkpoint") {
    import graft.streaming.StreamOps.{ZTickIn, ZTradeOut}
    import org.apache.spark.sql.{Dataset, Encoder}
    val root = java.nio.file.Files.createTempDirectory("fsm_restart").toString
    // each FSM opens in the first query and closes in the second, a new
    // query on the same checkpoint: the entry, and F2's hold clock, can
    // only come from the state the first query checkpointed
    def twoRuns[A: Encoder, B: Encoder](name: String, first: Seq[A], second: Seq[A])(
        fsm: Dataset[A] => Dataset[B]): Seq[B] = {
      val dir = s"$root/$name"
      for (rows <- Seq(first, second)) {
        spark.createDataset(rows).write.mode("append").parquet(s"$dir/in")
        val q = fsm(spark.readStream.schema(implicitly[Encoder[A]].schema)
            .parquet(s"$dir/in").as[A])
          .writeStream.format("parquet").option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ck").start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.read.parquet(s"$dir/out").as[B].collect().toSeq
    }
    val got = twoRuns[TickIn, TradeOut]("f1",
      Seq(TickIn("p", 1L, 10.0, -0.6), TickIn("p", 2L, 11.0, -0.1)), // open long
      Seq(TickIn("p", 3L, 12.0, 0.2)))(                               // exit
      StreamOps.meanReversionStream(_, thr = 0.5))
    assert(got.map(t => (t.side, t.entry_ts, t.exit_ts, t.entry_price, t.exit_price))
      == Seq(("long", 1L, 3L, 10.0, 12.0)))
    val zgot = twoRuns[ZTickIn, ZTradeOut]("f2",
      Seq(ZTickIn("p", 1L, 10.0, Double.NaN), // clock 0 → 1
        ZTickIn("p", 2L, 10.0, -2.5),         // open long at idx 1
        ZTickIn("p", 3L, 10.5, -1.0)),        // held 1
      Seq(ZTickIn("p", 4L, 11.0, -1.0),       // held 2
        ZTickIn("p", 5L, 11.5, -1.0)))(       // held 3 >= maxHold → time stop
      StreamOps.zscoreReversionStream(_, entryZ = 2.0, exitZ = 0.2, maxHold = 3))
    assert(zgot.map(t => (t.side, t.entry_ts, t.exit_ts, t.entry_price, t.entry_z,
      t.held_rows)) == Seq(("long", 2L, 5L, 10.0, -2.5, 3L)))
  }
}
