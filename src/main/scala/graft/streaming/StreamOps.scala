package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.Backtest

/** Structured Streaming variants of the batch operators — the chain-tip
  * following mode the reference's roadmap promises (`README.md:202-208`)
  * but never implements. Same semantics as the batch ops where the
  * math allows; divergences are documented on each operator.
  *
  * Scale/correctness notes: logs arrive in block order per chain, so
  * per-key in-order delivery is the operating assumption for the FSMs,
  * which step [[Backtest]]'s cores; a reorg that rewrites blocks already
  * fed to them is not retracted (the reorg stream, `graft.evm.Reorg`,
  * retracts rows for the maintained tables). Watermarks bound state for
  * the windowed aggregations. Every maintained state directory's files
  * are [[StateDir]]'s format.
  */
object StreamOps {

  /** A1, streaming: last observation per (key, tumbling bucket). `max_by`
    * keeps the (ts, tiebreak)-greatest row per bucket incrementally —
    * identical result to the batch resampleLast once the watermark
    * closes a bucket. Emits in Append mode after watermark expiry. */
  def resampleLastStream(df: DataFrame, key: String, ts: String, value: String,
                         freq: String, tiebreak: String,
                         watermark: String = "1 hour"): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(col(key), window(col(ts), s"1 $freq").as("w"))
      .agg(max_by(col(value), struct(col(ts), col(tiebreak))).as(value))
      .select(col(key), col("w.start").as("bucket"), col(value))

  /** Streaming OHLC/VWAP candles — [[graft.ops.SeriesQueries.ohlcBars]]'
    * live twin, the bar feed a trading bot consumes off the indexer
    * tip. One tumbling window per (key, bucket): open/close via
    * `min_by`/`max_by` on the caller's total-order column, high/low
    * as plain extrema, volume-weighted price as the exact integer
    * pair (Σ price·qty, Σ qty) — division is the READER's move, so
    * the incremental aggregation state is a handful of BIGINTs per
    * open bucket and the emitted row is engine-exact. Append mode:
    * a bar emits once, when the watermark passes its close. */
  def ohlcStream(df: DataFrame, key: String, ts: String, price: String,
                 qty: String, ord: String, freq: String,
                 watermark: String = "1 hour"): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(col(key), window(col(ts), s"1 $freq").as("w"))
      .agg(
        min_by(col(price), col(ord)).as("open"),
        max(col(price)).as("high"),
        min(col(price)).as("low"),
        max_by(col(price), col(ord)).as("close"),
        sum(col(price) * col(qty)).as("pq_sum"),
        sum(col(qty)).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col(key), col("w.start").as("bucket"), col("open"),
        col("high"), col("low"), col("close"), col("pq_sum"),
        col("volume"), col("n_trades"))

  /** Streaming tumbling-window mean/count per key (the monitoring-style
    * aggregation a chain-tip follower reports per chunk, C6). */
  def windowedStats(df: DataFrame, key: String, ts: String, value: String,
                    freq: String, watermark: String = "1 hour"): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(col(key), window(col(ts), s"1 $freq").as("w"))
      .agg(avg(col(value)).as("mean"), count(lit(1)).as("n"))
      .select(col(key), col("w.start").as("bucket"), col("mean"), col("n"))

  /** Streaming gap sessionization: `session_window` merges rows within
    * `gap` of each other per key; the watermark closes sessions once no
    * in-gap extension can still arrive, emitting one row per session in
    * Append mode. Same grouping as the batch
    * [[graft.ops.TimeSeries.sessionize]] at boundary-free gaps
    * (session_window closes AT start+gap; batch closes strictly
    * after — see NewOpsPlanSpec). State per key is one open session —
    * bounded by key cardinality, not stream length. */
  def sessionizeStream(df: DataFrame, key: String, ts: String, value: String,
                       gap: String, watermark: String = "1 hour"): DataFrame =
    df.withWatermark(ts, watermark)
      .groupBy(col(key), session_window(col(ts), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col(value)).as("total_value"))
      .select(col(key), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval join: probe events joined to build events
    * of the same key with `build.ts` in `[probe.ts − lookback, probe.ts)`.
    * Spark's stream-stream join handles the range natively when both
    * sides carry watermarks and the condition bounds event time on both
    * ends — the watermarks let it EXPIRE buffered state (a build row
    * older than every possible in-range probe is dropped), which is
    * what makes the join runnable forever. Batch twin:
    * [[graft.ops.TimeSeries.intervalJoinAgg]] (which buckets instead,
    * because batch has no watermark to bound a raw range join). */
  def intervalJoinStream(probe: DataFrame, build: DataFrame, key: String,
                         probeTs: String, buildTs: String,
                         lookbackSeconds: Long,
                         watermark: String = "1 hour"): DataFrame = {
    val p = probe.withWatermark(probeTs, watermark)
    val b = build.withWatermark(buildTs, watermark)
    p.join(b,
      p(key) === b(key) &&
        b(buildTs) >= p(probeTs) - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        b(buildTs) < p(probeTs),
      "inner")
  }

  /** Streaming exact dedup: emit the FIRST arrival of each content hash
    * and drop later duplicates, with state bounded by the watermark — a
    * duplicate arriving within `watermark` of the original is dropped,
    * after that the hash's state has expired (the deliberate trade that
    * keeps state finite on an unbounded corpus stream; batch
    * [[graft.ops.DedupOps.exactDedup]] remains the exhaustive form).
    * All input columns pass through — the state store keeps only the
    * key (the hash) plus an expiry timestamp, so emitting the text
    * costs shuffle bytes, not state. */
  def dedupExactStream(df: DataFrame, id: String, text: String, ts: String,
                       watermark: String = "1 hour"): DataFrame =
    df.withColumn("content_hash", graft.ops.TextOps.h64(col(text)))
      .withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming HLL register file: the distinct-3-gram sketch of
    * [[graft.ops.DataQueries.hllErr]] maintained incrementally as a
    * plain streaming `max` aggregation per (key, bucket). This is what
    * mergeable sketch state means operationally: the state store holds
    * ≤ 512 integer registers PER KEY no matter how many documents the
    * stream has seen — distinct-count telemetry over an unbounded
    * corpus feed with O(m) state and no watermark needed (max never
    * retracts). Run in complete/update output mode; feeding the final
    * register table through hllErr's estimate arithmetic yields the
    * identical estimate the batch query computes (stream≡batch pinned
    * by StreamingSpec). */
  def hllRegistersStream(stream: DataFrame, key: String,
                         text: String): DataFrame =
    stream
      .select(col(key).as("k"), explode(call_function("shingle_h64s",
        graft.ops.TextOps.tokens(col(text)), lit(3))).as("g"))
      .withColumn("b", expr("g & 511"))
      .withColumn("rho", when(expr("shiftright(g, 9)") === 0, lit(52))
        .otherwise(expr(
          "bit_count((shiftright(g, 9) & -shiftright(g, 9)) - 1) + 1")))
      .groupBy("k", "b").agg(max("rho").as("r"))

  /** Streaming materialized-rollup maintenance: each micro-batch's
    * partial (event_type, day) aggregate merges into a parquet-backed
    * state table with the SAME full-outer/coalesce merge whose
    * merge≡recompute law the batch `q_incr_agg` oracle pins. This is
    * the production pattern behind that query: the stored rollup is
    * key-sized (groups, not rows), each trigger pays |batch| plus a
    * key-sized merge, and history is never re-aggregated.
    *
    * Durability contract (foreachBatch is at-least-once): state lives in
    * versioned directories `statePath/v=<batchId>`, each made visible by
    * an atomically-created `_COMMIT_<batchId>` marker. A replayed
    * micro-batch (batchId ≤ last committed) is skipped, so nothing is
    * ever double-merged; a write-job failure leaves an orphan version
    * directory WITHOUT a marker and the previous committed state
    * untouched — the old overwrite-in-place form could destroy the
    * rollup if the job died between delete and write. Read the current
    * state with [[readRollup]]. */
  def maintainRollup(stream: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyRollupBatch(batch, statePath, batchId)
      }
      .start()

  private val RollupSchema =
    "event_type STRING, day DATE, n_events BIGINT, sum_vmicro BIGINT"

  /** Highest stream batchId applied into the newest committed version
    * (−1 when no version exists); see [[StateDir.lastApplied]]. */
  private[graft] def lastAppliedStream(sp: SparkSession,
                                       statePath: String): Long =
    new StateDir(sp, statePath).lastApplied

  /** Latest committed rollup state (empty frame with the rollup schema if
    * no batch has committed yet). */
  def readRollup(sp: SparkSession, statePath: String): DataFrame =
    new StateDir(sp, statePath).read(RollupSchema)

  /** TIME TRAVEL: read a SPECIFIC committed version of a
    * marker-committed state (rollup or SCD2). The GC retention keeps
    * the newest and previous committed versions, so the one-step
    * rollback read is always available; older versions are vacuumed
    * and asking for them is a loud error, not an empty frame. */
  def readStateAt(sp: SparkSession, statePath: String,
                  version: Long): DataFrame =
    new StateDir(sp, statePath).readAt(version)

  /** Committed versions currently retained (newest + one rollback). */
  def retainedVersions(sp: SparkSession, statePath: String): Seq[Long] =
    new StateDir(sp, statePath).committed.sorted

  /** CHANGE DATA FEED between two snapshots of a keyed state: one
    * full-outer join on the key classifies every row as
    * insert / delete / update (payload compared null-safely as one
    * struct); unchanged keys drop out. With [[readStateAt]] over the
    * retained version pair this turns any maintained state (rollup /
    * SCD2 / merge table) into an incremental downstream feed — the
    * consumer reads O(changes), never the full snapshot. */
  def stateChanges(prev: DataFrame, cur: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val payload = cur.columns.toIndexedSeq.filterNot(keys.contains)
    val p = prev.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__old"): _*)
    val c = cur.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__new"): _*)
    p.join(c, keys, "full_outer")
      .withColumn("op", when(col("__old").isNull, "insert")
        .when(col("__new").isNull, "delete")
        .when(!(col("__old") <=> col("__new")), "update"))
      .filter(col("op").isNotNull)
      .select(keys.map(col) ++
        Seq(col("op"), col("__old").as("old"), col("__new").as("new")): _*)
  }

  /** One micro-batch of rollup maintenance; package-visible so the spec
    * can drive replay/crash scenarios directly. */
  private[graft] def applyRollupBatch(batch: org.apache.spark.sql.Dataset[Row],
                                      statePath: String, batchId: Long): Unit = {
    val sp = batch.sparkSession
    new StateDir(sp, statePath).applyOnce(batchId) {
      val part = batch.select(col("event_type"),
          to_date(col("ts")).as("day"),
          expr("cast(round(value * 1e6) as bigint)").as("vmicro"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("nd"), sum("vmicro").as("sd"))
      val cur = readRollup(sp, statePath)
        .withColumnRenamed("n_events", "nb")
        .withColumnRenamed("sum_vmicro", "sb")
      cur.join(part, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L)))
            .as("n_events"),
          (coalesce(col("sb"), lit(0L)) + coalesce(col("sd"), lit(0L)))
            .as("sum_vmicro"))
        .localCheckpoint(true)
    }
  }

  private val Scd2Schema = "user_id BIGINT, version BIGINT, attr STRING, " +
    "valid_from TIMESTAMP_NTZ, valid_to TIMESTAMP_NTZ, tb BIGINT"

  /** Latest committed SCD2 state. `is_current` is `valid_to IS NULL`;
    * `tb` is the run-start tiebreak id the merge needs to replay
    * deterministic ordering. */
  def readScd2(sp: SparkSession, statePath: String): DataFrame =
    new StateDir(sp, statePath).read(Scd2Schema)

  /** Streaming SCD2 maintenance: each micro-batch of (user_id, ts,
    * event_id, attr) change events merges into the versioned dimension
    * [[graft.ops.DataQueries.scd2History]] computes in batch — closed
    * versions are IMMUTABLE and pass through untouched; only each
    * key's open version re-enters the run-collapse together with the
    * batch rows, so the per-trigger cost is |batch| plus one row per
    * ACTIVE key, never the history. Version numbers continue from the
    * closed count, and sequential merges reproduce the batch recompute
    * exactly (StreamingSpec pins merge ≡ recompute over uneven
    * batches). Same durability contract as [[applyRollupBatch]]:
    * versioned directories + atomic `_COMMIT_<batchId>` markers, so
    * at-least-once replays skip and a failed write cannot damage the
    * state being read. In-order delivery per key is the operating
    * assumption, as for every FSM here. */
  def maintainScd2(stream: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyScd2Batch(batch, statePath, batchId)
      }
      .start()

  private[graft] def applyScd2Batch(batch: org.apache.spark.sql.Dataset[Row],
                                    statePath: String, batchId: Long): Unit = {
    val sp = batch.sparkSession
    new StateDir(sp, statePath).applyOnce(batchId) {
      val cur = readScd2(sp, statePath)
      val closed = cur.filter(col("valid_to").isNotNull)
      // version offset per key: the open run re-enters the collapse as
      // run #1, so vbase = its version − 1 — computed from max(version)
      // minus the open indicator rather than max over CLOSED rows, so
      // version numbering survives [[vacuumScd2History]] retiring old
      // closed versions (numbers continue, never restart).
      val vbase = cur.groupBy("user_id").agg(
        (max("version") - max(when(col("valid_to").isNull, 1L).otherwise(0L)))
          .as("vbase"))
      // the open version re-enters the collapse as a pseudo-event at its
      // own run start; batch rows with ts ≥ it extend or close the run
      val pseudo = cur.filter(col("valid_to").isNull)
        .select(col("user_id"), col("valid_from").as("ts"),
          col("tb").as("event_id"), col("attr"))
      val evts = batch
        .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("event_id"), col("event_type").as("attr"))
        .unionByName(pseudo)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val runs = evts
        .withColumn("prev", lag("attr", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .withColumn("v_local", row_number().over(w).cast("long"))
      runs.join(vbase, Seq("user_id"), "left")
        .select(col("user_id"),
          (col("v_local") + coalesce(col("vbase"), lit(0L))).as("version"),
          col("attr"), col("ts").as("valid_from"), col("valid_to"),
          col("event_id").as("tb"))
        .unionByName(closed)
        .localCheckpoint(true)
    }
  }

  /** SCD2 HISTORY RETENTION: retire CLOSED versions whose validity
    * ended before `watermark` (canonical `yyyy-MM-dd HH:mm:ss`) — the
    * GDPR/retention sweep every dimension table eventually needs. Open
    * versions are never touched, and version numbers are preserved
    * (applyScd2Batch derives its version base from the OPEN row, so
    * numbering continues across the gap — the law Scd2RetentionSpec
    * pins). Publishes a new committed version; the replay gate is
    * untouched (marker carries the applied stream id forward). Returns
    * the number of rows retired. */
  def vacuumScd2History(sp: SparkSession, statePath: String,
                        watermark: String): Long = {
    val st = new StateDir(sp, statePath)
    require(st.committed.nonEmpty, s"no committed scd2 state at $statePath")
    val cur = readScd2(sp, statePath)
    val isOld = col("valid_to").isNotNull &&
      col("valid_to") < lit(watermark).cast("timestamp_ntz")
    val n = cur.filter(isOld).count()
    if (n > 0) st.commit(cur.filter(!isOld).localCheckpoint(true), st.lastApplied)
    n
  }

  private val MergeSchema =
    "user_id BIGINT, vmicro BIGINT, ts TIMESTAMP_NTZ, op STRING, tb BIGINT"

  /** Latest committed MERGE INTO state: one row per LIVE key (keys
    * whose last operation was a delete are retained internally as
    * tombstones so later batches order against them, filter
    * `op <> 'delete'` — [[readMergeTable]] does — for the user view). */
  def readMergeState(sp: SparkSession, statePath: String): DataFrame =
    new StateDir(sp, statePath).read(MergeSchema)

  /** The user-facing merged table: live keys only. */
  def readMergeTable(sp: SparkSession, statePath: String): DataFrame =
    readMergeState(sp, statePath).filter(col("op") =!= "delete")
      .select("user_id", "vmicro", "ts")

  /** Streaming MERGE INTO maintenance — the CDC-apply twin of
    * [[graft.ops.DataQueries.mergeInto]]: each micro-batch of keyed
    * upsert/delete operations folds into a one-row-per-key state
    * (last writer wins by (ts, tiebreak)); deletes persist as
    * TOMBSTONES so an out-of-batch earlier upsert can never resurrect
    * a deleted key, and the user view simply filters them. Tombstones
    * are retired by [[vacuumMergeTombstones]] once older than a
    * declared event-time watermark (with the matching late-op gate on
    * ingest), so state is |live keys| + |recent deletes|, not one row
    * per key EVER seen. Per-trigger cost is |batch| + state size —
    * never the event history. Same versioned `_COMMIT_<batchId>` durability as the
    * rollup/SCD2 maintainers: replays skip, failed writes can't damage
    * the state being read. StreamingSpec pins sequential merges ≡ the
    * batch recompute over uneven batches. */
  def maintainMerge(stream: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyMergeBatch(batch, statePath, batchId)
      }
      .start()

  private[graft] def applyMergeBatch(batch: org.apache.spark.sql.Dataset[Row],
                                     statePath: String, batchId: Long): Unit = {
    val sp = batch.sparkSession
    new StateDir(sp, statePath).applyOnce(batchId) {
      val ops0 = batch.select(col("user_id"),
        expr("cast(round(value * 1e6) as bigint)").as("vmicro"),
        col("ts").cast("timestamp_ntz").as("ts"),
        when(col("event_type") === "error", "delete").otherwise("upsert")
          .as("op"),
        col("event_id").as("tb"))
      // Late-op gate: ops older than the vacuum watermark are DROPPED
      // (streaming watermark semantics). This is what makes tombstone
      // vacuum sound: a tombstone is only removed once no op that could
      // lose to it can still arrive, so a vacuumed key can resurrect only
      // via an op at or after the watermark — the law MaintenanceSpec
      // pins.
      val ops = mergeVacuumWatermark(sp, statePath) match {
        case Some(wm) => ops0.filter(col("ts") >= lit(wm).cast("timestamp_ntz"))
        case None => ops0
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("tb").desc)
      readMergeState(sp, statePath).unionByName(ops)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .localCheckpoint(true)
    }
  }

  /** [[maintainMerge]] with SCHEDULED tombstone vacuum: every
    * `vacuumEvery` micro-batches, retire tombstones older than
    * (max event time in state − `lagSeconds`). The lag is the
    * late-data allowance: ops can arrive up to `lagSeconds` behind the
    * newest op ever merged and still order against their tombstones;
    * anything later is dropped by the ingest gate (standard streaming
    * watermark semantics, applied to CDC folding). This is the
    * production wiring — state stays |live| + |recent deletes| without
    * an operator ever running VACUUM by hand. */
  def maintainMergeWithVacuum(stream: DataFrame, statePath: String,
                              lagSeconds: Long, vacuumEvery: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyMergeBatchWithVacuum(batch, statePath, batchId, lagSeconds,
          vacuumEvery)
      }
      .start()

  private[graft] def applyMergeBatchWithVacuum(
      batch: org.apache.spark.sql.Dataset[Row], statePath: String,
      batchId: Long, lagSeconds: Long, vacuumEvery: Int): Unit = {
    applyMergeBatch(batch, statePath, batchId)
    if (vacuumEvery > 0 && batchId > 0 && batchId % vacuumEvery == 0) {
      val sp = batch.sparkSession
      val mx = readMergeState(sp, statePath).agg(max(col("ts"))).head()
      if (!mx.isNullAt(0)) {
        val wm = mx.getAs[java.time.LocalDateTime](0)
          .minusSeconds(lagSeconds)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))
        vacuumMergeTombstones(sp, statePath, wm)
      }
    }
  }

  /** The merge state's vacuum watermark, if one has been set: the
    * canonical `yyyy-MM-dd HH:mm:ss` string whose fixed-width form
    * makes lexicographic max = chronological max. A watermark file
    * that exists but cannot be read fails the call: reading it as
    * absent would turn the late-op gate off and let a sub-watermark op
    * resurrect a vacuumed key. */
  def mergeVacuumWatermark(sp: SparkSession,
                           statePath: String): Option[String] =
    new StateDir(sp, statePath).text(StateDir.Watermark).filter(_.nonEmpty)

  /** TOMBSTONE VACUUM for the maintained merge state: drop tombstone
    * rows (op='delete') strictly older than `watermark` (canonical
    * `yyyy-MM-dd HH:mm:ss`, monotone — a lower request than the stored
    * watermark tightens nothing) and publish the result as a new
    * committed version. Sound because [[applyMergeBatch]] drops
    * incoming ops older than the stored watermark: an op that could
    * have lost to a vacuumed tombstone can no longer be applied, so
    * the key can only resurrect via an op ≥ the watermark. The
    * watermark file persists BEFORE the vacuumed state commits — a
    * crash between the two leaves the stricter gate in force over the
    * un-vacuumed (larger, still correct) state. Returns the number of
    * tombstones removed. Run between triggers (the maintainers are
    * single-writer, like every foreachBatch state here). */
  def vacuumMergeTombstones(sp: SparkSession, statePath: String,
                            watermark: String): Long = {
    val st = new StateDir(sp, statePath)
    require(st.committed.nonEmpty, s"no committed merge state at $statePath")
    val wm = (mergeVacuumWatermark(sp, statePath).toSeq :+ watermark).max
    st.mark(StateDir.Watermark, wm)
    val cur = readMergeState(sp, statePath)
    val isDead = col("op") === "delete" &&
      col("ts") < lit(wm).cast("timestamp_ntz")
    val nDead = cur.filter(isDead).count()
    if (nDead > 0) st.commit(cur.filter(!isDead).localCheckpoint(true), st.lastApplied)
    nDead
  }

  private val CcSchema = "node BIGINT, comp BIGINT"

  /** Latest committed near-dup component state: one (node, comp) row
    * per document that belongs to a component (singletons are absent,
    * exactly like the batch `dedupGroups` output). */
  def readCcState(sp: SparkSession, statePath: String): DataFrame =
    new StateDir(sp, s"$statePath/comps").read(CcSchema)

  /** CONTINUOUSLY-MAINTAINED dedup components: each micro-batch of
    * (doc_id, text) documents folds into the component state via the
    * incremental-CC machinery (probe the persisted shingle index with
    * the batch only, contract endpoints to existing reps, run CC on
    * the touched subgraph) — the streaming twin of
    * [[graft.ops.DataQueries.incrCc]], whose law (fold ≡ full
    * recompute) IncrCcProps pins relationally and StreamingSpec pins
    * across sequential micro-batches here. State is two-part: an
    * APPEND-ONLY shingle posting index (`index/b=<batchId>` — the
    * growing structure dedup fundamentally needs; postings never
    * rewrite) and the (node, comp) table under the usual versioned
    * `_COMMIT` durability (replays skip; a failed apply retries over
    * its own orphan index dir with mode-overwrite before the comps
    * version commits, so the state being read is never damaged).
    * Per-trigger cost: |batch| shingling + a batch-sized probe of the
    * index + CC on the touched subgraph — history is never
    * re-clustered. */
  def maintainCc(stream: DataFrame, statePath: String,
                 maxDocFreq: Option[Long] = graft.ops.Scale.DocFreqCap)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyCcBatch(batch, statePath, batchId, maxDocFreq)
      }
      .start()

  private[graft] def applyCcBatch(batch: org.apache.spark.sql.Dataset[Row],
                                  statePath: String, batchId: Long,
                                  maxDocFreq: Option[Long] = None): Unit = {
    import graft.ops.{DedupOps, TextOps}
    val sp = batch.sparkSession
    // the replay gate covers the index dir too
    new StateDir(sp, s"$statePath/comps").applyOnce(batchId) {
      // 1. the batch's shingle postings (doc, sz, s) — appended to the index
      val sh = batch
        .select(col("doc_id").as("doc"),
          TextOps.shingleHashes(col("text"), 3).as("arr"))
        .select(col("doc"), size(col("arr")).as("sz"),
          explode_outer(col("arr")).as("s"))
        .filter(col("s").isNotNull)
      sh.write.mode("overwrite").parquet(s"$statePath/index/b=$batchId")
      // 2. probe the FULL index (prior batches + this one) with the batch
      val index = sp.read.parquet(
        new StateDir(sp, s"$statePath/index").pieces(StateDir.CcIndex): _*)
      val probe = sp.read.parquet(s"$statePath/index/b=$batchId")
      val cand = maxDocFreq match {
        case None =>
          probe.toDF("pa", "sza", "s")
            .join(index.toDF("pb", "szb", "s"), Seq("s"))
            .filter(col("pa") =!= col("pb"))
            .select(
              when(col("pa") < col("pb"), col("pa")).otherwise(col("pb")).as("doc_a"),
              when(col("pa") < col("pb"), col("sza")).otherwise(col("szb")).as("sz_a"),
              when(col("pa") < col("pb"), col("pb")).otherwise(col("pa")).as("doc_b"),
              when(col("pa") < col("pb"), col("szb")).otherwise(col("sza")).as("sz_b"),
              col("s"))
            .distinct() // batch-batch pairs arrive in both orientations
            .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
            .agg(count(lit(1)).as("inter"))
            .filter(col("inter").cast("double")
              / (col("sz_a") + col("sz_b") - col("inter")) >= 0.1)
            .select("doc_a", "doc_b")
        case Some(cap) =>
          // capped fold: the LIVE keep-set (full-index docFreq ≤ cap,
          // including this batch) gates the probe, and doc sizes are
          // re-counted over the kept incidence — per-shingle fan-out is
          // ≤ cap·|batch-postings| instead of freq². Stale history (a
          // shingle crossing the cap AFTER its pairs folded) is retired
          // by [[recapCc]], the cap-crossing compaction; the law fold +
          // recap ≡ capped batch recompute is pinned by CcRecapProps.
          val counts = index.groupBy("s").agg(count(lit(1)).as("__df"))
          val keep = counts.filter(col("__df") <= cap).select("s")
          val kept = index.select("doc", "s").join(keep, Seq("s"))
            .select("doc", "s")
          val sizes = kept.groupBy("doc").agg(count(lit(1)).as("kz"))
            .select(col("doc"), col("kz"))
          probe.select(col("doc").as("pa"), col("s"))
            .join(keep, Seq("s"))
            .join(kept.select(col("doc").as("pb"), col("s")), Seq("s"))
            .filter(col("pa") =!= col("pb"))
            .select(least(col("pa"), col("pb")).as("doc_a"),
              greatest(col("pa"), col("pb")).as("doc_b"), col("s"))
            .distinct() // batch-batch pairs arrive in both orientations
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
            .join(sizes.select(col("doc").as("doc_a"), col("kz").as("sz_a")),
              Seq("doc_a"))
            .join(sizes.select(col("doc").as("doc_b"), col("kz").as("sz_b")),
              Seq("doc_b"))
            .filter(col("inter").cast("double")
              / (col("sz_a") + col("sz_b") - col("inter")) >= 0.1)
            .select("doc_a", "doc_b")
      }
      // 3. contract to existing reps, CC the touched subgraph, remap
      val baseComps = readCcState(sp, statePath)
      val repA = baseComps.select(col("node").as("doc_a"), col("comp").as("ca"))
      val repB = baseComps.select(col("node").as("doc_b"), col("comp").as("cb"))
      val contracted = cand
        .join(repA, Seq("doc_a"), "left").join(repB, Seq("doc_b"), "left")
        .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
          coalesce(col("cb"), col("doc_b")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
      val merged = DedupOps.connectedComponents(contracted)
      val remap = merged.select(col("node").as("comp"), col("comp").as("newc"))
      val baseFinal = baseComps.join(remap, Seq("comp"), "left")
        .select(col("node"), coalesce(col("newc"), col("comp")).as("comp"))
      val freshFinal = merged
        .join(baseComps.select("node"), Seq("node"), "left_anti")
      baseFinal.unionByName(freshFinal).localCheckpoint(true)
    }
  }

  /** Cap-crossing COMPACTION for the capped [[maintainCc]] fold: when
    * a shingle's corpus doc-count crosses `maxDocFreq` mid-stream,
    * edges folded while it was still under the cap are stale — history
    * already clustered under an old keep-set stays clustered (the
    * residual `incrCcCapped` documents). This maintenance pass retires
    * exactly that staleness by TARGETED recompute:
    *
    *   1. crossing = shingles above the cap now that were not above it
    *      at the last recap (the prior above-set is itself versioned
    *      state under `capstate/` — bounded: one row per capped-out
    *      shingle, the boilerplate tail);
    *   2. touched = every component containing a doc incident to a
    *      crossing shingle, plus incident docs with no component —
    *      the ONLY docs whose kept-shingle sizes (and hence Jaccard
    *      edges) can have changed, since counts only grow;
    *   3. their members' pairs are recomputed from the CURRENT kept
    *      incidence (M-side probe of the full kept index — covers
    *      removals AND edges newly passing the threshold because a
    *      denominator shrank), endpoints outside the touched set
    *      contract to their component rep exactly as the fold does;
    *   4. untouched components pass through (remapped if a new edge
    *      merged them into a touched one).
    *
    * Run between triggers (single-writer, like every maintainer
    * here). The law — any fold/recap interleaving followed by a final
    * recap ≡ the capped BATCH recompute over the whole corpus — is
    * pinned by CcRecapProps for arbitrary corpora, splits and recap
    * positions. Returns the number of shingles that crossed. */
  def recapCc(sp: SparkSession, statePath: String, maxDocFreq: Long): Long = {
    import graft.ops.DedupOps
    val dirs = new StateDir(sp, s"$statePath/index").pieces(StateDir.CcIndex)
    if (dirs.isEmpty) return 0L
    val compsDir = new StateDir(sp, s"$statePath/comps")
    val capDir = new StateDir(sp, s"$statePath/capstate")
    val applied = compsDir.lastApplied
    if (applied < 0L) return 0L // nothing folded yet, nothing stale
    val index = sp.read.parquet(dirs: _*).select("doc", "s")
    val counts = index.groupBy("s").agg(count(lit(1)).as("__df"))
    val above = counts.filter(col("__df") > maxDocFreq).select("s")
    val prevAbove = capDir.read("s BIGINT")
    val crossing = above.join(prevAbove, Seq("s"), "left_anti")
      .localCheckpoint(true) // tiny: newly-capped shingles only
    val nCross = crossing.count()
    if (nCross == 0L) return 0L
    val comps = readCcState(sp, statePath)
    val t0 = index.join(crossing, Seq("s"), "left_semi")
      .select(col("doc").as("node")).distinct()
    val touchedComps = comps.join(t0, Seq("node"), "left_semi")
      .select("comp").distinct()
    val m = comps.join(touchedComps, Seq("comp"), "left_semi")
      .select("node").unionByName(t0).distinct()
    val keep = counts.filter(col("__df") <= maxDocFreq).select("s")
    val kept = index.join(keep, Seq("s")).select("doc", "s")
    val sizes = kept.groupBy("doc").agg(count(lit(1)).as("kz"))
    val pm = kept.join(m.withColumnRenamed("node", "doc"), Seq("doc"),
      "left_semi")
    val pairs = pm.select(col("doc").as("pa"), col("s"))
      .join(kept.select(col("doc").as("pb"), col("s")), Seq("s"))
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"), col("s"))
      .distinct()
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("doc_a"), col("kz").as("sz_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("kz").as("sz_b")),
        Seq("doc_b"))
      .filter(col("inter").cast("double")
        / (col("sz_a") + col("sz_b") - col("inter")) >= 0.1)
      .select("doc_a", "doc_b")
    // endpoints OUTSIDE the touched set contract to their (valid,
    // untouched) component rep; touched members stay raw doc ids so
    // their membership is decided purely by the recomputed edges
    val extRep = comps.join(m, Seq("node"), "left_anti")
    val contracted = pairs
      .join(extRep.select(col("node").as("doc_a"), col("comp").as("ca")),
        Seq("doc_a"), "left")
      .join(extRep.select(col("node").as("doc_b"), col("comp").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val merged = DedupOps.connectedComponents(contracted)
    val remap = merged.select(col("node").as("comp"), col("comp").as("newc"))
    val baseUntouched = comps.join(touchedComps, Seq("comp"), "left_anti")
    val baseFinal = baseUntouched.join(remap, Seq("comp"), "left")
      .select(col("node"), coalesce(col("newc"), col("comp")).as("comp"))
    val freshFinal = merged
      .join(baseUntouched.select("node"), Seq("node"), "left_anti")
    compsDir.commit(baseFinal.unionByName(freshFinal).localCheckpoint(true), applied)
    capDir.commit(above, applied)
    nCross
  }

  /** COMPACT the maintainCc posting index: merge the consolidated run
    * and every newer per-batch append dir into ONE run, committed by
    * an atomic `_CIDX_<id>` marker before the superseded dirs are
    * deleted — the small-files sweep an append-only index needs
    * operationally (a year of hourly ingests is 8760 dirs; scan
    * planning pays per file). Crash-safe ([[StateDir.compact]]). Run
    * between triggers (single-writer, like every maintainer here).
    * Returns the number of dirs consolidated, 0 when the index is
    * already one piece. */
  def compactCcIndex(sp: SparkSession, statePath: String): Long = {
    val index = new StateDir(sp, s"$statePath/index")
    require(index.pieces(StateDir.CcIndex).nonEmpty, s"no cc index at $statePath")
    index.compact(StateDir.CcIndex, Long.MaxValue)
  }

  // -----------------------------------------------------------------
  // CONTINUOUSLY-MAINTAINED corpus pipeline (the incremental twin of
  // graft.pipelines.Corpus.pipelineE2e)
  // -----------------------------------------------------------------

  private val HitsSchema = "doc_id BIGINT, n_hits BIGINT"
  private val RowsSchema = "doc_id BIGINT, lang STRING, n_words BIGINT, " +
    "keep_gopher BOOLEAN, q DOUBLE, n_kept BIGINT, kept_hash BIGINT, " +
    "is_bench BOOLEAN, s3 BOOLEAN, s4 BOOLEAN"

  /** COMPACT the maintainPipeline append state: per kind (rows, sig3,
    * five, bench5), merge the consolidated run and every newer
    * per-batch dir into ONE run, committed by an atomic `_AIDX_<id>`
    * marker before the superseded dirs are deleted — the same
    * small-files sweep [[compactCcIndex]] gives the CC posting index
    * (a year of hourly ingests is 8760 dirs per kind; scan planning
    * pays per file). ONLY batches already committed into the hits
    * version are eligible: an orphan dir from a crashed apply must
    * stay a `b=` dir, or the retry's own-dir exclusion (see
    * [[StateDir.pieces]]) could no longer carve it out of the
    * consolidated run. Crash-safe ([[StateDir.compact]]). Run between
    * triggers (single-writer). Returns dirs folded. */
  def compactPipelineIndex(sp: SparkSession, statePath: String): Long = {
    val applied = lastAppliedStream(sp, s"$statePath/hits")
    val folded = Seq("rows", "sig3", "five", "bench5").map(k =>
      new StateDir(sp, s"$statePath/$k").compact(StateDir.AppendIndex, applied)).sum
    // sweep the arrival journal: only the MAX `_ARR_` marker feeds the
    // rewind guard, so markers below it are dead weight that would
    // otherwise accumulate one file per batch forever — and keep the
    // guard's per-trigger listing O(#batches) instead of O(compactEvery).
    // Keeping the max alone preserves every guard outcome: a rewind
    // below it still rejects, and a crash-retry of the max itself is
    // excluded as the batch's own marker exactly as before. Superseded
    // `_ARRBASE_` markers sweep the same way (only the max is read).
    val root = new StateDir(sp, statePath)
    for (prefix <- Seq(StateDir.Arrival, StateDir.ArrivalBase))
      root.deleteBelow(prefix, root.maxId(prefix, Long.MinValue))
    folded
  }

  /** RECOVERY entry point for [[maintainPipeline]] after a LOST or
    * REWOUND checkpoint: a fresh streaming query restarts batchIds at
    * 0, and the arrival guard (correctly) refuses to fold a batch
    * whose arrival stamp rewinds the journaled sequence — without
    * this, the operator's only options after losing a checkpoint dir
    * were rebuilding the whole state or having the fresh query's first
    * batches silently swallowed by the replay gate.
    *
    * Call it ONCE, between queries (foreachBatch is single-writer),
    * with the state restored to the point you trust; then start a
    * fresh maintainPipeline query on the SAME statePath with a NEW
    * checkpoint dir. It journals an `_ARRBASE_` marker so every
    * subsequent batch folds at arrival stamp `base + batchId` —
    * strictly after everything journaled — keeping the (arr, doc_id)
    * arrival order monotone across the recovery, the same operational
    * story the indexer's `.progress.json` resume gives block ranges
    * (reference contract: /root/reference/README.md:60).
    *
    * `fromArr` defaults to journaled-max + 1; pass a later value to
    * leave a deliberate gap (e.g. aligning with an external ingest
    * ledger). A value at or below the journaled max is refused — it
    * would re-corrupt the very order the guard protects. Returns the
    * base that was journaled. */
  def resumePipelineAt(sp: SparkSession, statePath: String,
                       fromArr: Long = -1L): Long = {
    val root = new StateDir(sp, statePath)
    val journaled = root.maxId(StateDir.Arrival, -1L)
    val base = if (fromArr >= 0) fromArr else journaled + 1
    require(base > journaled,
      s"resumePipelineAt: base $base would rewind the journaled arrival " +
        s"sequence (max journaled $journaled)")
    root.mark(s"${StateDir.ArrivalBase}$base")
    root.deleteBelow(StateDir.ArrivalBase, base)
    base
  }

  /** CONTINUOUSLY-MAINTAINED corpus pipeline: each micro-batch of
    * `(doc_id, lang, text)` documents folds through gopher → exact
    * dedup → windowed near-dup → decontamination against maintained
    * state, instead of re-running the whole funnel (the round-8 gap:
    * a daily-crawl user re-ran `q_pipeline_e2e` per ingest). The
    * maintainCc posting-index pattern throughout:
    *
    *   - `rows/b=<id>`   append-only per-doc signal rows (the ONE
    *     signal projection, `Corpus.signalFrame` — signals are
    *     computed once per doc, never recomputed);
    *   - `sig3/b=<id>`   3-gram postings of stage-3 admits — the
    *     near-dup index (postings never rewrite; stage-4 DROPPED docs
    *     stay, because the batch rule drops the later doc of a pair
    *     whose earlier side need not itself survive stage 4);
    *   - `five/b=<id>`   5-gram postings of stage-4 surviving
    *     non-bench docs — the decontamination probe targets;
    *   - `bench5/b=<id>` NEW distinct benchmark shingles only (set
    *     semantics: a shingle two bench docs share contributes once);
    *   - `hits/`         versioned (doc_id, n_hits) — the ONLY mutable
    *     state, rows only for decontam-touched docs. A LATER bench doc
    *     retroactively retracts an earlier survivor by pushing its
    *     cumulative hit count past the threshold — handled by probing
    *     the five-index with each batch's NEW bench shingles; retracted
    *     docs fall out at READ time (alive ⟺ n_hits < 5), exactly the
    *     batch semantics where decontamination sees the WHOLE bench set.
    *
    * Ordering contract: every order-sensitive rule (stage-3 first
    * occurrence, stage-4 later-doc drop) keys on ARRIVAL order — the
    * lexicographic `(arr, doc_id)` key where `arr` is the micro-batch
    * sequence (`batchId`, stamped as `__arr` into the shared signal
    * projection and carried in the sig3 postings). Batches may carry
    * ANY doc_ids — real crawl batches don't arrive in id order — and
    * the fold stays cell-identical to `Corpus.pipelineAudit` over the
    * same stamps, because arrival-keyed rules never retract: a prior
    * admit always precedes a new doc, so the prior index wins by
    * construction and only new docs ever drop. The one LOUD guard
    * left is the batch SEQUENCE itself: each apply journals an
    * `_ARR_<arr>` marker (no data scan; markers below the max are
    * swept at compaction), and an arrival at or below an
    * already-journaled one (a foreachBatch contract violation, e.g. a
    * fresh checkpoint pointed at old state) is rejected instead of
    * silently corrupting the arrival key. The sanctioned way back
    * after a LOST checkpoint is [[resumePipelineAt]], which journals
    * an `_ARRBASE_` so a fresh query's batchIds map past everything
    * journaled.
    *
    * Per-trigger cost: |batch| signal projection + index probes keyed
    * on the batch side (shuffles carry batch-sized and posting-hit
    * rows; prior TEXT is never re-read, prior signals never
    * recomputed) + the small hits-table rewrite under the usual
    * versioned `_COMMIT` (at-least-once replays skip; a failed apply
    * rewrites its own orphan b= dirs with mode-overwrite before the
    * hits version commits). PipelineSpec pins sequential AND permuted
    * micro-batches cell-identical to the batch recompute on the same
    * arrival stamps, replay idempotence, the sequence guard, and
    * per-dir batch-boundedness.
    *
    * `compactEvery` folds the append state ([[compactPipelineIndex]])
    * after every Nth batch, between triggers (foreachBatch is the
    * single writer) — without it a year of hourly ingests plans 8,760
    * `b=` dirs per kind; with it the planner sees ≤ N + 1. ON by
    * default (64): unbounded small-files growth should require opting
    * OUT (0 disables), not reading the docs. */
  def maintainPipeline(stream: DataFrame, statePath: String,
                       compactEvery: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyPipelineBatch(batch, statePath, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactPipelineIndex(batch.sparkSession, statePath)
        ()
      }
      .start()

  private[graft] def applyPipelineBatch(batch: org.apache.spark.sql.Dataset[Row],
                                        statePath: String, batchId: Long): Unit = {
    val sp = batch.sparkSession
    val root = new StateDir(sp, statePath)
    // a state dir from the retired doc-id-order layout journals
    // `_MAXID_` markers this maintainer neither reads nor can translate
    // (they recorded a max DOC id, not an arrival sequence) — folding
    // on top of one silently voids the rewind guard; reject LOUDLY
    require(!root.has(StateDir.LegacyMaxId),
      s"maintainPipeline: $statePath carries _MAXID_ journals from the " +
        "retired doc-id-order layout; that guard state cannot be migrated " +
        "to the (arr, doc_id) arrival key — rebuild the state or start a " +
        "fresh statePath")
    // arrival base, journaled by [[resumePipelineAt]] after a lost or
    // rewound CHECKPOINT: a fresh query restarts batchIds at 0, and
    // the base maps them past everything already journaled so the
    // arrival sequence stays monotone across the recovery
    val arr = root.maxId(StateDir.ArrivalBase, 0L) + batchId
    // the replay gate covers the b= dirs too
    new StateDir(sp, s"$statePath/hits").applyOnce(arr) {
      // ---- sequence journal: one empty `_ARR_<arr>` file per batch
      // (markers below the max are swept by [[compactPipelineIndex]];
      // only the max feeds this guard). The arrival stamp IS the base-
      // offset batchId; the only guard left is that the batch SEQUENCE
      // is fresh — an arrival at or below one already journaled
      // (excluding this batch's own crash-retry marker) means a
      // restarted query with a rewound checkpoint is about to corrupt
      // the arrival key, and that fails LOUDLY instead of folding.
      // Recovery path: [[resumePipelineAt]].
      val priorArr = root.ids(StateDir.Arrival).filter(_ != arr)
        .foldLeft(Long.MinValue)(math.max)
      require(arr > priorArr,
        s"maintainPipeline: arrival-sequence violation (arrival $arr ≤ " +
          s"journaled $priorArr) — a rewound checkpoint over live state would " +
          "corrupt the (arr, doc_id) arrival key; after restoring state from " +
          "a backup, call resumePipelineAt(statePath) before restarting")
      // an empty batch advances the replay gate only
      val nextHits =
        if (batch.isEmpty) readHits(sp, statePath).localCheckpoint(true)
        else foldPipelineBatch(batch, statePath, arr)
      // journal the arrival sequence, then commit (the version marker is
      // the replay gate; every write before it is idempotent mode-overwrite)
      root.mark(s"${StateDir.Arrival}$arr")
      nextHits
    }
  }

  private def readHits(sp: SparkSession, statePath: String): DataFrame =
    new StateDir(sp, s"$statePath/hits").read(HitsSchema)

  private def readAppendState(sp: SparkSession, statePath: String, kind: String,
                              schemaDDL: String,
                              except: Long = Long.MinValue): DataFrame =
    new StateDir(sp, s"$statePath/$kind").readPieces(StateDir.AppendIndex, schemaDDL, except)

  /** One non-empty batch through the pipeline's stages, stamped with
    * arrival `arr`: writes its append pieces and returns the next hits
    * table. */
  private def foldPipelineBatch(batch: org.apache.spark.sql.Dataset[Row],
                                statePath: String, arr: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = batch.sparkSession
    // ---- per-doc signals, ONCE (the shared projection), stamped with
    // this batch's arrival sequence — the order every rule keys on
    val sig = graft.pipelines.Corpus.signalFrame(
        batch.toDF().withColumn("__arr", lit(arr)))
      .localCheckpoint(true)
    val s1 = sig.filter(col("keep_gopher"))

    // ---- stage 3: first occurrence per kept_hash in ARRIVAL order.
    // Prior admits have strictly smaller arr, so "prior index wins" IS
    // the (arr, doc_id) rule; within the batch arr is constant and
    // doc_id breaks the tie. Every prior-state read EXCLUDES this
    // batch's own dirs (crash-retry orphans must not feed back).
    val priorRows = readAppendState(sp, statePath, "rows", RowsSchema, arr)
    val priorHash = priorRows.filter(col("s3")).select("kept_hash").distinct()
    val wHash = Window.partitionBy("kept_hash").orderBy("doc_id")
    val s3 = s1.join(priorHash, Seq("kept_hash"), "left_anti")
      .withColumn("__rk", row_number().over(wHash))
      .filter(col("__rk") === 1).drop("__rk")
      .localCheckpoint(true)

    // ---- stage-3 postings appended (arr travels with each posting so
    // cross-batch pairs order by arrival), then the near-dup probe
    val sig3New = s3.select(col("doc_id").as("doc"), col("__arr").as("arr"),
        (col("doc_id") % 10).as("bkey"), size(col("shs3")).as("sz"),
        explode_outer(col("shs3")).as("sh"))
      .filter(col("sh").isNotNull)
    sig3New.write.mode("overwrite").parquet(s"$statePath/sig3/b=$arr")
    val sig3Schema = "doc BIGINT, arr BIGINT, bkey BIGINT, sz INT, sh BIGINT"
    val index3 = readAppendState(sp, statePath, "sig3", sig3Schema)
    val probe3 = sp.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(sig3Schema))
      .parquet(s"$statePath/sig3/b=$arr")
    // the LATER side of each pair — lexicographic (arr, doc_id) — drops;
    // cross-batch pairs always drop the probe side (its arr is maximal),
    // within-batch pairs fall back to the doc_id tiebreak. Each
    // (pair, shingle) row is unique by construction — the index
    // contains this batch's own postings, so a WITHIN-batch pair meets
    // in both orientations and the pa < pb filter keeps exactly one,
    // while a probe-vs-prior pair can only meet probe-side-first; the
    // pre-aggregation distinct() this replaces was a full shuffle of
    // the candidate rows
    val aLater = struct(col("aa"), col("pa")) > struct(col("ab"), col("pb"))
    val dropped4 = probe3.toDF("pa", "aa", "ba", "sza", "s")
      .join(index3.toDF("pb", "ab", "bb", "szb", "s"), Seq("s"))
      .filter(col("pa") =!= col("pb") &&
        abs(col("ba") - col("bb")) <= 1 && // the {b, b+1} window, both sides
        (col("aa") =!= col("ab") || col("pa") < col("pb")))
      .select(
        when(aLater, col("pb")).otherwise(col("pa")).as("doc_a"),
        when(aLater, col("szb")).otherwise(col("sza")).as("sz_a"),
        when(aLater, col("pa")).otherwise(col("pb")).as("doc_b"),
        when(aLater, col("sza")).otherwise(col("szb")).as("sz_b"),
        col("s"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double")
        / (col("sz_a") + col("sz_b") - col("inter")) >= 0.1)
      .select(col("doc_b").as("doc_id")).distinct() // later doc drops
    val s4 = s3.join(dropped4, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // ---- decontamination state: bench-shingle delta + five postings
    val benchSchema = "sh BIGINT"
    val priorBench = readAppendState(sp, statePath, "bench5", benchSchema, arr)
    val benchDelta = sig.filter(col("is_bench"))
      .select(explode_outer(col("shs5")).as("sh"))
      .filter(col("sh").isNotNull).distinct()
      .join(priorBench, Seq("sh"), "left_anti")
      .localCheckpoint(true)
    benchDelta.write.mode("overwrite").parquet(s"$statePath/bench5/b=$arr")
    val fiveNew = s4.filter(!col("is_bench"))
      .select(col("doc_id").as("doc"), explode_outer(col("shs5")).as("sh"))
      .filter(col("sh").isNotNull).distinct()
    fiveNew.write.mode("overwrite").parquet(s"$statePath/five/b=$arr")
    val fiveSchema = "doc BIGINT, sh BIGINT"
    val fivePrior = readAppendState(sp, statePath, "five", fiveSchema, arr)

    // new docs score against the FULL bench set (prior ∪ this delta);
    // prior docs score against the DELTA only (their prior hits are in
    // the hits table; delta ∩ prior-bench = ∅ keeps the sum exact)
    val benchAll = priorBench.unionByName(benchDelta)
    val hitsNew = fiveNew.join(benchAll, Seq("sh"))
      .groupBy(col("doc").as("doc_id")).agg(count(lit(1)).as("n_hits"))
    val hitsIncr = fivePrior.join(benchDelta, Seq("sh"))
      .groupBy(col("doc").as("doc_id")).agg(count(lit(1)).as("n_hits"))
    val nextHits = readHits(sp, statePath).unionByName(hitsNew).unionByName(hitsIncr)
      .groupBy("doc_id").agg(sum("n_hits").as("n_hits"))
      .localCheckpoint(true)

    // ---- per-doc signal rows appended (immutable; s3/s4 decided now)
    val rowsOut = sig
      .join(s3.select(col("doc_id"), lit(true).as("s3")), Seq("doc_id"), "left")
      .join(s4.select(col("doc_id"), lit(true).as("s4")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_words"), col("keep_gopher"),
        col("q"), col("n_kept"), col("kept_hash"), col("is_bench"),
        coalesce(col("s3"), lit(false)).as("s3"),
        coalesce(col("s4"), lit(false)).as("s4"))
    rowsOut.write.mode("overwrite").parquet(s"$statePath/rows/b=$arr")
    nextHits
  }

  /** Read face of [[maintainPipeline]]: the SAME 8 audit rows as the
    * batch `Corpus.pipelineE2e`, reconstructed from maintained state —
    * stages 0-5 are flag filters over the appended signal rows (+ the
    * hits threshold), stages 6-7 are the shared RankKernel ranking over
    * the stage-5 survivors. No document text is touched. */
  def pipelineStateAudit(sp: SparkSession, statePath: String): DataFrame = {
    import graft.pipelines.Corpus
    val rows = readAppendState(sp, statePath, "rows", RowsSchema)
      .localCheckpoint(true)
    val hits = readHits(sp, statePath)
    val s1 = rows.filter(col("keep_gopher"))
    val s3 = rows.filter(col("s3"))
    val s4 = rows.filter(col("s4"))
    val s5 = s4.filter(!col("is_bench"))
      .join(hits.filter(col("n_hits") >= 5).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val (s6, s7) = Corpus.rankStages(s5)
    Corpus.stageAudit(rows, 0, "raw", "n_words")
      .unionByName(Corpus.stageAudit(s1, 1, "gopher", "n_words"))
      .unionByName(Corpus.stageAudit(s1, 2, "self_dedup", "n_kept"))
      .unionByName(Corpus.stageAudit(s3, 3, "exact_dedup", "n_kept"))
      .unionByName(Corpus.stageAudit(s4, 4, "windowed_neardup", "n_kept"))
      .unionByName(Corpus.stageAudit(s5, 5, "decontam", "n_kept"))
      .unionByName(Corpus.stageAudit(s6, 6, "quality_deciles", "n_kept"))
      .unionByName(Corpus.stageAudit(s7, 7, "mixture", "n_kept"))
      .orderBy("stage_no")
  }

  /** Streaming near-dup screen: each arriving document is
    * minhash-signed and banded MAP-SIDE, probes the static corpus band
    * index ([[graft.ops.DedupOps.bandIndex]], typically a persisted
    * table) via a stream-static equi-join on (band, bh), and any
    * candidate with estimated Jaccard ≥ threshold emits once — a pair
    * matching in several bands (or re-arriving) collapses in the same
    * bounded watermark-scoped state store [[dedupExactStream]] uses.
    * No stream-side state grows with the corpus: the index is the
    * state, and it lives in storage, not the state store. */
  def nearDupScreenStream(stream: DataFrame, corpusIndex: DataFrame,
                          id: String, text: String, ts: String, k: Int,
                          r: Int, threshold: Double,
                          watermark: String = "1 hour"): DataFrame = {
    import graft.ops.TextOps
    val bands = (k + r - 1) / r
    val sig = stream
      .select(col(id).as("new_doc"), col(ts).as("__ts"),
        TextOps.tokens(col(text)).as("tk"))
      .filter(size(col("tk")) >= 3) // ≥1 shingle ⟺ ≥n tokens (cheap form)
      .select(col("new_doc"), col("__ts"),
        call_function("minhash_sig",
          call_function("shingle_h64s", col("tk"), lit(3)), lit(k)).as("sig_n"))
    sig
      .select(col("new_doc"), col("__ts"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig_n"))
      .select(col("new_doc"), col("__ts"), col("band"),
        TextOps.h64(concat_ws(",",
          slice(col("sig_n"), col("band") * r + 1, lit(r)))).as("bh"),
        col("sig_n"))
      .join(corpusIndex, Seq("band", "bh"))
      .withColumn("est_jaccard",
        call_function("sig_agree", col("sig_n"), col("sig_o"))
          .cast("double") / k.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .withWatermark("__ts", watermark)
      .dropDuplicatesWithinWatermark("new_doc", "old_doc")
      .select(col("new_doc"), col("old_doc"), col("__ts").as(ts),
        col("est_jaccard"))
  }

  /** FSM position state carried across micro-batches. */
  case class Position(side: String, entryTs: Long, entryPrice: Double)
  case class TickIn(key: String, ts: Long, price: Double, dev: Double)
  case class TradeOut(pool: String, side: String, entry_ts: Long, exit_ts: Long,
                      entry_price: Double, exit_price: Double,
                      pct_return: java.lang.Double)

  case class AttrIn(userId: Long, eventId: Long, eventType: String,
                    tsMicros: Long)
  case class AttrState(lastClickMicros: Long)
  case class AttrOut(event_id: Long, user_id: Long, purchase_micros: Long,
                     click_micros: java.lang.Long, attributed: Boolean)

  /** Streaming last-touch attribution — the live twin of
    * [[graft.ops.SeriesQueries.lastTouchAttribution]]: per-user state
    * is ONE long (the latest click timestamp), purchases emit
    * immediately with the attribution verdict. Rows are folded in
    * (ts, event_id) order within each micro-batch; the 24 h window
    * test floors both timestamps to whole seconds, exactly as the
    * batch query's long casts do. State size is O(users), not
    * O(events) — the canonical mapGroupsWithState shape. */
  def attributionStream(ev: org.apache.spark.sql.Dataset[AttrIn])
      : org.apache.spark.sql.Dataset[AttrOut] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.userId)
      .flatMapGroupsWithState[AttrState, AttrOut](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[AttrIn], state: GroupState[AttrState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.tsMicros, r.eventId))
          var last = state.getOption.map(_.lastClickMicros).getOrElse(-1L)
          val out = Seq.newBuilder[AttrOut]
          for (r <- sorted) {
            if (r.eventType == "click") last = r.tsMicros
            else if (r.eventType == "purchase") {
              val has = last >= 0
              out += AttrOut(r.eventId, user, r.tsMicros,
                if (has) java.lang.Long.valueOf(last) else null,
                has && r.tsMicros / 1000000L - last / 1000000L <= 86400L)
            }
          }
          state.update(AttrState(last))
          out.result().iterator
      }
  }

  /** F2 streaming state: open position plus the running grid-row index
    * (`idx` must advance on warm-up rows too, so the hold clock matches
    * the batch FSM across micro-batch boundaries). `side` is null when
    * flat. */
  case class ZState(idx: Long, side: String, entryIdx: Long, entryTs: Long,
                    entryPrice: Double, entryZ: Double)
  case class ZTickIn(key: String, ts: Long, price: Double, z: Double)
  case class ZTradeOut(pool: String, side: String, entry_ts: Long, exit_ts: Long,
                       entry_price: Double, exit_price: Double, entry_z: Double,
                       exit_z: Double, pct_return: java.lang.Double,
                       held_rows: Long)

  /** F2, streaming: [[Backtest.zscoreReversion]]'s FSM core as
    * flatMapGroupsWithState (entry at |z| ≥ entryZ, exit when z re-enters
    * ±exitZ or the max-hold time stop fires), with the open position AND
    * the row-index clock persisted in GroupState between micro-batches.
    * Rows with a NaN z or price make no decision but still advance the
    * clock, exactly like the batch fold. */
  def zscoreReversionStream(ticks: org.apache.spark.sql.Dataset[ZTickIn],
                            entryZ: Double, exitZ: Double, maxHold: Int)
      : org.apache.spark.sql.Dataset[ZTradeOut] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .flatMapGroupsWithState[ZState, ZTradeOut](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[ZTickIn], state: GroupState[ZState]) =>
          val out = Seq.newBuilder[ZTradeOut]
          val fsm = new Backtest.ZscoreFsm[Long](entryZ, exitZ, maxHold) {
            protected def close(ts: Long, p: Double, zv: Double,
                                pct: java.lang.Double, held: Long): Unit =
              out += ZTradeOut(key, side, entryTs, ts, entryPrice, p, entryZv, zv,
                pct, held)
          }
          state.getOption.foreach { st =>
            fsm.idx = st.idx; fsm.side = st.side; fsm.entryIdx = st.entryIdx
            fsm.entryTs = st.entryTs; fsm.entryPrice = st.entryPrice
            fsm.entryZv = st.entryZ
          }
          rows.toSeq.sortBy(_.ts).foreach(r => fsm.step(r.ts, r.price, r.z))
          state.update(ZState(fsm.idx, fsm.side, fsm.entryIdx, fsm.entryTs,
            fsm.entryPrice, fsm.entryZv))
          out.result().iterator
      }
  }

  /** F1, streaming: [[Backtest.meanReversion]]'s FSM core as
    * flatMapGroupsWithState, with the open position persisted in
    * GroupState between micro-batches. Rows within a batch are processed
    * in event-time order; cross-batch order is the source's
    * responsibility (block-ordered logs). */
  def meanReversionStream(ticks: org.apache.spark.sql.Dataset[TickIn],
                          thr: Double): org.apache.spark.sql.Dataset[TradeOut] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .flatMapGroupsWithState[Position, TradeOut](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[TickIn], state: GroupState[Position]) =>
          val out = Seq.newBuilder[TradeOut]
          val fsm = new Backtest.MeanReversionFsm[Long](thr) {
            protected def close(ts: Long, p: Double, pct: java.lang.Double): Unit =
              out += TradeOut(key, side, entryTs, ts, entryPrice, p, pct)
          }
          state.getOption.foreach { pos =>
            fsm.side = pos.side; fsm.entryTs = pos.entryTs
            fsm.entryPrice = pos.entryPrice
          }
          rows.toSeq.sortBy(_.ts).foreach(r => fsm.step(r.ts, r.price, r.dev))
          if (fsm.side == null) state.remove()
          else state.update(Position(fsm.side, fsm.entryTs, fsm.entryPrice))
          out.result().iterator
      }
  }
}
