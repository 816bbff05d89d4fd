package graft

/** End-to-end corpus pipeline pins: the composition laws the
  * per-stage oracles can't see. */
class PipelineSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("pipeline: corpus parquet is scanned ONCE — stages read the checkpoint") {
    // the round-5/6 lineage-bug class was a stage silently re-deriving
    // the corpus: every signal is checkpointed up front, so the final
    // executed plan must contain NO parquet scan at all (the one scan
    // happened at checkpoint materialization) and no quadratic join
    val df = pipelines.Corpus.pipelineE2e(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"a stage re-reads the corpus parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"quadratic join in the pipeline:\n$p")
  }

  test("pipeline: funnel laws — counts and token mass only shrink") {
    val rows = pipelines.Corpus.pipelineE2e(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L to 7L),
      s"stages out of order: ${rows.toSeq}")
    // docs never increase across the funnel (stage 2 keeps the count by
    // construction; token mass switches basis raw→kept at stage 2)
    val docs = rows.map(_._3)
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      s"doc funnel grew: ${docs.toSeq}")
    val toks = rows.map(_._4)
    assert(toks.drop(1).zip(toks.drop(2)).forall { case (a, b) => b <= a },
      s"token mass grew after stage 1: ${toks.toSeq}")
    assert(docs.head > 0 && docs.last > 0, "funnel emptied entirely")
    // the mixture stage really budgets: strictly under stage 6's mass
    assert(toks(7) <= toks(6) * 50 / 100 + 1, s"mixture over budget: ${toks.toSeq}")
  }

  test("maintainPipeline: sequential micro-batches ≡ the batch recompute; replay, order, boundedness") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("mpipe").toString
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val c1 = ids(ids.length / 3); val c2 = ids(2 * ids.length / 3)
    val batches = Seq(
      docs.filter(col("doc_id") <= c1),
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
      docs.filter(col("doc_id") > c2))
    StreamOps.applyPipelineBatch(batches(0), dir, 0L)
    StreamOps.applyPipelineBatch(batches(1), dir, 1L)
    // compaction mid-stream: folds committed b= dirs into one c= run
    // per kind and the fold keeps going on top of it transparently.
    // Stray non-numeric marker siblings (a copy tool's .tmp debris)
    // must be ignored, not crash the sweep.
    new java.io.File(s"$dir/_ARR_1.tmp").createNewFile()
    new java.io.File(s"$dir/_ARRBASE_x").createNewFile()
    assert(StreamOps.compactPipelineIndex(spark, dir) > 0)
    assert(StreamOps.compactPipelineIndex(spark, dir) == 0, "second compact must no-op")
    StreamOps.applyPipelineBatch(batches(2), dir, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val got = rows(StreamOps.pipelineStateAudit(spark, dir))
    val want = rows(pipelines.Corpus.pipelineE2e(spark, sf))
    assert(got == want, s"incremental fold diverged:\n got=$got\nwant=$want")
    // at-least-once replay of an applied batch is a no-op
    StreamOps.applyPipelineBatch(batches(1), dir, 1L)
    assert(rows(StreamOps.pipelineStateAudit(spark, dir)) == want)
    // arrival-SEQUENCE corruption fails LOUDLY: a journaled later batch
    // (a crashed batch 20, say) makes a smaller fresh batchId a rewind
    new java.io.File(s"$dir/_ARR_20").createNewFile()
    val e = intercept[IllegalArgumentException](
      StreamOps.applyPipelineBatch(batches.head, dir, 15L))
    assert(e.getMessage.contains("arrival-sequence"))
    new java.io.File(s"$dir/_ARR_20").delete()
    // per-trigger boundedness: a batch's signal-row dir holds exactly
    // that batch's docs — prior text is never re-read or re-signalled.
    // Batches 0-1 were compacted into rows/c=1 (their b= dirs are
    // gone); batch 2 landed after the compaction as its own b= dir.
    assert(spark.read.parquet(s"$dir/rows/b=2").count() == batches(2).count())
    assert(spark.read.parquet(s"$dir/rows/c=1").count() ==
      batches(0).count() + batches(1).count())
    assert(got.head._3 == docs.count(), "stage-0 audit must cover every doc")
    // an empty batch just advances the replay gate
    StreamOps.applyPipelineBatch(docs.filter(lit(false)), dir, 10L)
    assert(rows(StreamOps.pipelineStateAudit(spark, dir)) == want)
  }

  test("maintainPipeline: PERMUTED batches ≡ pipelineAudit on the same arrival stamps") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("mpipe_perm").toString
    // interleaved ids: batch k holds doc_id % 3 == k, so arrival order
    // is NOT id order — the real crawl contract the retired _MAXID
    // guard used to reject
    val batches = (0 until 3).map(k => docs.filter(col("doc_id") % 3 === k))
    StreamOps.applyPipelineBatch(batches(0), dir, 0L)
    // crash-retry under permuted arrival: a crashed batch-1 attempt left
    // POISONED orphan dirs (wrong rows under this batch's own b=1 paths)
    // plus its _ARR_1 journal (the crash window between journal and
    // commit). The retry must carve its own dirs out of every
    // prior-state read (StateDir.pieces' `except`) and overwrite them — if
    // any orphan leaks into the retry as "prior state", the planted
    // kept_hash collision wrongly dedups a real doc, the planted five/
    // bench5 rows corrupt the decontam counts, and the final audit
    // diverges from the batch twin below.
    locally {
      val sig1 = pipelines.Corpus.signalFrame(
        batches(1).withColumn("__arr", lit(1L)))
      val realHash = sig1.select("kept_hash").head().getLong(0)
      val realSh5 = sig1.select(explode(col("shs5")).as("sh"))
        .head().getLong(0)
      import spark.implicits._
      Seq((999999L, "xx", 1L, true, 0.5, 1L, realHash, false, true, true))
        .toDF("doc_id", "lang", "n_words", "keep_gopher", "q", "n_kept",
          "kept_hash", "is_bench", "s3", "s4")
        .write.mode("overwrite").parquet(s"$dir/rows/b=1")
      Seq((999999L, realSh5)).toDF("doc", "sh")
        .write.mode("overwrite").parquet(s"$dir/five/b=1")
      Seq(Tuple1(realSh5)).toDF("sh")
        .write.mode("overwrite").parquet(s"$dir/bench5/b=1")
      new java.io.File(s"$dir/_ARR_1").createNewFile()
    }
    StreamOps.applyPipelineBatch(batches(1), dir, 1L)
    StreamOps.applyPipelineBatch(batches(2), dir, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val stamped = batches.zipWithIndex
      .map { case (b, i) => b.withColumn("__arr", lit(i.toLong)) }
      .reduce(_ unionByName _)
    val want = rows(pipelines.Corpus.pipelineAudit(stamped))
    val got = rows(StreamOps.pipelineStateAudit(spark, dir))
    assert(got == want,
      s"permuted incremental fold diverged from the stamped batch twin:\n" +
        s" got=$got\nwant=$want")
    // the permutation BITES on this fixture: arrival-keyed folding must
    // differ from the declared id-keyed query, or this proves nothing
    val idKeyed = rows(pipelines.Corpus.pipelineE2e(spark, sf))
    assert(want != idKeyed,
      "fixture too weak: arrival order coincides with id order everywhere")
    // replay idempotence holds under permuted arrival too
    StreamOps.applyPipelineBatch(batches(1), dir, 1L)
    assert(rows(StreamOps.pipelineStateAudit(spark, dir)) == want)
  }

  test("maintainPipeline: lost-checkpoint recovery via resumePipelineAt; journal sweep; legacy rejection") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamOps
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("mpipe_res").toString + "/state"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // phase 1: a first query folds id-interleaved batches 0-1
    val batches = (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))
    StreamOps.applyPipelineBatch(batches(0), dir, 0L)
    StreamOps.applyPipelineBatch(batches(1), dir, 1L)
    // compaction sweeps the arrival journal down to the max marker —
    // without the sweep a year of hourly batches leaves 8,760 marker
    // files the guard re-lists every trigger (round-11 advice)
    StreamOps.compactPipelineIndex(spark, dir)
    val markers = new java.io.File(dir).list().filter(_.startsWith("_ARR_")).toSeq
    assert(markers == Seq("_ARR_1"), s"journal not swept to the max: $markers")
    // the checkpoint is LOST; state is intact. A fresh query restarts
    // batchIds at 0 — WITHOUT recovery its first batches are silently
    // swallowed by the replay gate (arr 0 ≤ applied 1): new data lost
    val before = rows(StreamOps.pipelineStateAudit(spark, dir))
    StreamOps.applyPipelineBatch(batches(2), dir, 0L)
    assert(rows(StreamOps.pipelineStateAudit(spark, dir)) == before,
      "un-resumed fresh batch should have been (wrongly but by contract) skipped")
    // the sanctioned path: journal the arrival base, then run a FRESH
    // MemoryStream query on the same state — its batchIds 0,1 fold at
    // arrival stamps 2,3 and the result equals the stamped batch twin
    assert(StreamOps.resumePipelineAt(spark, dir) == 2L)
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.maintainPipeline(
      input.toDF().toDF("doc_id", "lang", "text"), dir, compactEvery = 0)
    try {
      for (b <- Seq(batches(2), batches(3))) {
        val part = b.select("doc_id", "lang", "text").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        input.addData(part: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val stamped = batches.zipWithIndex
      .map { case (b, i) => b.withColumn("__arr", lit(i.toLong)) }
      .reduce(_ unionByName _)
    val got = rows(StreamOps.pipelineStateAudit(spark, dir))
    val want = rows(pipelines.Corpus.pipelineAudit(stamped))
    assert(got == want,
      s"post-recovery fold diverged from the stamped twin:\n got=$got\nwant=$want")
    // a base at or below the journaled max is refused: it would rewind
    // the very order the guard protects
    val e = intercept[IllegalArgumentException](
      StreamOps.resumePipelineAt(spark, dir, fromArr = 2L))
    assert(e.getMessage.contains("rewind"))
    // a state dir from the retired doc-id-order layout is rejected
    // LOUDLY — its _MAXID_ journal recorded id order, not arrival, so
    // folding on top of it would silently void the rewind guard
    new java.io.File(s"$dir/_MAXID_7").createNewFile()
    val e2 = intercept[IllegalArgumentException](
      StreamOps.applyPipelineBatch(batches(0), dir, 99L))
    assert(e2.getMessage.contains("_MAXID_"))
  }
}
