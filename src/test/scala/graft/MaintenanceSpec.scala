package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Tombstone vacuum (with its resurrect-law) and Z-order compaction. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def mergeBatch(rows: Seq[(Long, String, Long, String, Double)]) =
    rows.toDF("user_id", "ts", "event_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))

  test("vacuum law: a vacuumed key resurrects ONLY via an op >= the watermark") {
    val statePath = java.nio.file.Files
      .createTempDirectory("vacuum_law").toString + "/state"
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 1.0),
      (2L, "2024-01-02 00:00:00", 2L, "click", 2.0))), statePath, 0L)
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-03 00:00:00", 3L, "error", 0.0))), statePath, 1L)
    // user 1 is a tombstone, user 2 live
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(2L))
    assert(StreamOps.readMergeState(spark, statePath).count() == 2)

    val n = StreamOps.vacuumMergeTombstones(spark, statePath,
      "2024-01-10 00:00:00")
    assert(n == 1, s"expected 1 vacuumed tombstone, got $n")
    assert(StreamOps.readMergeState(spark, statePath).count() == 1)
    assert(StreamOps.mergeVacuumWatermark(spark, statePath)
      .contains("2024-01-10 00:00:00"))

    // late upsert BELOW the watermark: dropped by the ingest gate —
    // the vacuumed key must NOT resurrect (this op would have lost to
    // the vacuumed tombstone)
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-04 00:00:00", 4L, "click", 9.0))), statePath, 2L)
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(2L),
      "sub-watermark op resurrected a vacuumed key")

    // op AT/ABOVE the watermark: legitimate new life for the key
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-12 00:00:00", 5L, "click", 7.0))), statePath, 3L)
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(1L, 2L))

    // the watermark is monotone: a lower request tightens nothing
    StreamOps.vacuumMergeTombstones(spark, statePath, "2024-01-05 00:00:00")
    assert(StreamOps.mergeVacuumWatermark(spark, statePath)
      .contains("2024-01-10 00:00:00"))
  }

  test("vacuum bumps the version but NOT the replay gate (batchId idempotency)") {
    val statePath = java.nio.file.Files
      .createTempDirectory("vacuum_replay").toString + "/state"
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 1.0))), statePath, 0L)
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-02 00:00:00", 2L, "error", 0.0),
      (3L, "2024-01-02 00:00:00", 3L, "click", 3.0))), statePath, 1L)
    StreamOps.vacuumMergeTombstones(spark, statePath, "2024-01-09 00:00:00")
    val versionsAfterVacuum =
      StreamOps.retainedVersions(spark, statePath).max
    // a replay of batch 1 after the vacuum: version counter moved past
    // 1, but the marker still records stream id 1 — must skip, not
    // re-merge the delete into the vacuumed state
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-02 00:00:00", 2L, "error", 0.0),
      (3L, "2024-01-02 00:00:00", 3L, "click", 3.0))), statePath, 1L)
    assert(StreamOps.retainedVersions(spark, statePath).max
      == versionsAfterVacuum, "replayed batch re-applied after vacuum")
    assert(StreamOps.lastAppliedStream(spark, statePath) == 1L)
    // the NEXT real batch applies normally
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (4L, "2024-01-12 00:00:00", 4L, "click", 4.0))), statePath, 2L)
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(3L, 4L))
    assert(StreamOps.lastAppliedStream(spark, statePath) == 2L)
  }

  test("an unreadable _WATERMARK fails the apply instead of dropping the late-op gate") {
    val statePath = java.nio.file.Files
      .createTempDirectory("vacuum_unreadable").toString + "/state"
    StreamOps.applyMergeBatch(mergeBatch(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 1.0))), statePath, 0L)
    // the watermark exists but cannot be read: a directory in its place
    new java.io.File(s"$statePath/_WATERMARK").mkdirs()
    intercept[java.io.IOException] {
      StreamOps.applyMergeBatch(mergeBatch(Seq(
        (2L, "2024-01-02 00:00:00", 2L, "click", 2.0))), statePath, 1L)
    }
    assert(StreamOps.lastAppliedStream(spark, statePath) == 0L)
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(1L))
  }

  test("scheduled vacuum: tombstones age out automatically behind the lag") {
    val statePath = java.nio.file.Files
      .createTempDirectory("auto_vacuum").toString + "/state"
    def apply(id: Long, rows: (Long, String, Long, String, Double)*): Unit =
      StreamOps.applyMergeBatchWithVacuum(mergeBatch(rows), statePath, id,
        lagSeconds = 86400, vacuumEvery = 2)
    apply(0L, (1L, "2024-01-01 00:00:00", 1L, "click", 1.0))
    apply(1L, (1L, "2024-01-02 00:00:00", 2L, "error", 0.0)) // tombstone
    // batch 2 advances event time far past the tombstone + lag AND is
    // a vacuum batch (2 % 2 == 0): the tombstone must age out
    apply(2L, (3L, "2024-01-10 00:00:00", 3L, "click", 3.0))
    assert(StreamOps.readMergeState(spark, statePath)
      .filter(col("op") === "delete").count() == 0, "tombstone survived")
    assert(StreamOps.mergeVacuumWatermark(spark, statePath)
      .contains("2024-01-09 00:00:00"))
    // late upsert behind the watermark is gated out, the law holds
    apply(3L, (1L, "2024-01-03 00:00:00", 4L, "click", 9.0))
    assert(StreamOps.readMergeTable(spark, statePath)
      .select("user_id").as[Long].collect().toSet == Set(3L))
  }

  test("scd2 retention: old closed versions retire, numbering never restarts") {
    val mk = (rows: Seq[(Long, String, Long, String, Double)]) =>
      mergeBatch(rows) // same (user_id, ts, event_id, event_type, value) shape
    val kept = java.nio.file.Files
      .createTempDirectory("scd2_keep").toString + "/state"
    val vac = java.nio.file.Files
      .createTempDirectory("scd2_vac").toString + "/state"
    val b0 = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 0.0),
      (1L, "2024-01-02 00:00:00", 2L, "view", 0.0),
      (1L, "2024-01-03 00:00:00", 3L, "buy", 0.0))
    val b1 = Seq(
      (1L, "2024-01-20 00:00:00", 4L, "click", 0.0))
    for (p <- Seq(kept, vac)) StreamOps.applyScd2Batch(mk(b0), p, 0L)
    // retire versions closed before Jan 10 on ONE of the twins
    val n = StreamOps.vacuumScd2History(spark, vac, "2024-01-10 00:00:00")
    assert(n == 2, s"expected 2 retired closed versions, got $n")
    for (p <- Seq(kept, vac)) StreamOps.applyScd2Batch(mk(b1), p, 1L)
    def cur(p: String) = StreamOps.readScd2(spark, p)
      .filter(col("valid_to").isNull)
      .select("user_id", "version", "attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // the vacuumed twin's CURRENT rows (and version numbers) must be
    // identical to the full-history twin's — retention is invisible
    // to everything except the retired rows themselves
    assert(cur(vac) == cur(kept), s"vac=${cur(vac)} kept=${cur(kept)}")
    assert(cur(vac) == Seq((1L, 4L, "click")))
    assert(StreamOps.readScd2(spark, vac).count() ==
      StreamOps.readScd2(spark, kept).count() - 2)
  }

  test("maintainCc: sequential micro-batches equal the batch recompute; replays skip") {
    val d = "/root/testdata/sf0.001"
    val statePath = java.nio.file.Files
      .createTempDirectory("cc_state").toString + "/state"
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    // three uneven ingest batches
    val parts = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    parts.zipWithIndex.foreach { case (p, i) =>
      StreamOps.applyCcBatch(p, statePath, i.toLong)
    }
    // replay of the last batch must be a no-op
    val versions = StreamOps.retainedVersions(spark, statePath + "/comps").max
    StreamOps.applyCcBatch(parts(2), statePath, 2L)
    assert(StreamOps.retainedVersions(spark, statePath + "/comps").max
      == versions, "replayed cc batch re-applied")
    val got = StreamOps.readCcState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = graft.ops.DedupOps.connectedComponents(
      graft.ops.DedupOps.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.1, maxDocFreq = None).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == want,
      s"maintained components diverge from batch recompute: got=${got.take(5)}… want=${want.take(5)}…")
    assert(got.nonEmpty, "fixture produced no components")
    // the generic CDC feed works on the CC state too: between the two
    // retained versions, every change is an insert (new member) or an
    // update (component merged under a smaller rep) — components only
    // grow under ingest, so deletes are impossible
    val vs = StreamOps.retainedVersions(spark, statePath + "/comps")
    val feed = StreamOps.stateChanges(
      StreamOps.readStateAt(spark, statePath + "/comps", vs.min),
      StreamOps.readStateAt(spark, statePath + "/comps", vs.max),
      Seq("node")).select("op").as[String].collect()
    assert(feed.nonEmpty && feed.forall(op => op == "insert" || op == "update"),
      s"unexpected cc feed ops: ${feed.distinct.toSeq}")
    // index compaction: three append dirs merge into one consolidated
    // run, and a post-compaction ingest still matches the recompute
    val merged = StreamOps.compactCcIndex(spark, statePath)
    assert(merged == 3, s"expected 3 dirs consolidated, got $merged")
    assert(StreamOps.compactCcIndex(spark, statePath) == 0,
      "second compaction should be a no-op")
    val extra = docs.limit(0) // empty batch 3: state must be unchanged
    StreamOps.applyCcBatch(extra, statePath, 3L)
    val after = StreamOps.readCcState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(after == want, "post-compaction ingest diverged")
  }

  test("compactCcIndex: an index of one append dir is already one run") {
    val statePath = java.nio.file.Files
      .createTempDirectory("cc_one_piece").toString + "/state"
    StreamOps.applyCcBatch(Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(20), statePath, 0L)
    assert(StreamOps.compactCcIndex(spark, statePath) == 0)
    assert(new java.io.File(s"$statePath/index").list().toSet.contains("b=0"))
  }

  test("compaction: content-neutral, bounded file count, better probe locality") {
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val zdir = tmp + "/zorder"
    val adir = tmp + "/arrival"
    // 32 files: sf0.001 has only ~15 distinct users over 30 days, so
    // coarser layouts leave too few files for EITHER layout to prune
    graft.ops.Maintenance.compactEventsZorder(ev, zdir, 32)
    // arrival-order layout at the same file count, for the contrast
    ev.repartitionByRange(32, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(adir)

    def parts(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().toSeq
        .map(_.getPath).filter(p => p.endsWith(".parquet"))
    assert(parts(zdir).size == 32, s"expected 32 compacted files")

    // content neutrality (the oracle proves this cross-engine too)
    val back = spark.read.parquet(zdir)
    assert(back.count() == ev.count())
    val cols = ev.columns.sorted.toSeq
    assert(back.selectExpr(cols: _*).except(ev.selectExpr(cols: _*)).isEmpty
      && ev.selectExpr(cols: _*).except(back.selectExpr(cols: _*)).isEmpty,
      "compaction changed table content")

    // probe locality: same 2-d box as q_zorder — files whose footer
    // (min,max) ranges intersect the box, read from the REAL parquet
    // footers (FooterStats), exactly as a scan planner would. The
    // Z-clustered layout must touch strictly fewer files than the
    // arrival layout.
    val uhi = ev.agg(expr("max(user_id) div 4")).head().getLong(0)
    val epoch0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    def dayn(micros: Long): Long =
      Math.floorDiv(micros, 86400000000L) - epoch0
    def filesHit(dir: String): Int = parts(dir).count { f =>
      val st = graft.sources.FooterStats
        .footerStats(spark, f, Seq("user_id", "ts"))
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      st("user_id")._1 <= uhi &&
        dayn(st("ts")._1) <= 14 && dayn(st("ts")._2) >= 5
    }
    val (hz, ha) = (filesHit(zdir), filesHit(adir))
    assert(hz < ha, s"z-order hit $hz files, arrival hit $ha — no win")
  }
}
