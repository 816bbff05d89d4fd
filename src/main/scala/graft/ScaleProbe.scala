package graft

import org.apache.spark.sql.functions._

/** Scale probe (NOT part of the driver gate): replays the heaviest
  * query families at sf0.1 and at a DERIVED 10× corpus — the sf0.1
  * documents/embeddings unioned ten times with disjoint id offsets, a
  * deterministic derivation of the driver's own testdata, not new
  * synthetic data — recording, per query and per scale, the wall time
  * and the MAX shuffle-read records any single task processed.
  *
  * The point is the GROWTH of that per-task maximum: the "survives
  * 100×" plan audits argue no operator funnels a corpus-sized key
  * through one task; near-linear max-task growth under a 10× corpus is
  * that argument as data (sub-linear is fine too — more parallelism).
  * A super-linear jump is a hotspot the plan reading missed.
  *
  * Probed families (round 13: the round-12 list plus its verdict's
  * asks — the two new CAPPED gate twins, the graph family, and the
  * BPE trainer):
  *   - q_pipeline_e2e            the 8-stage funnel (flat ×1.0 at r12)
  *   - q_windowed_dedup          the UNCAPPED window join — kept as the
  *                               contrast row (measured ×99 at r12)
  *   - q_windowed_dedup_capped   the in-window docFreq cap (NEW)
  *   - q_dedup_groups_capped     CC over de-skewed candidates (×20 r12)
  *   - q_knn_graph_capped        sorted-window bounded graph build (NEW;
  *                               replaces q_knn_graph_lsh, measured
  *                               450 s / ×99 at r12 — re-measuring the
  *                               known-quadratic exact-pair path buys
  *                               nothing for 7.5 min of wall-clock)
  *   - q_harmonic / q_incr_cc / q_modularity   the graph family, argued
  *                               linear but unmeasured until now
  *   - q_bpe_train64             the 17-round batched trainer
  *
  * Each 10×-scale measurement runs under a cancellable job group with
  * a hard timeout: a probe that degenerates (the exact regime this
  * tool exists to catch) reports {"timeout": true} instead of hanging
  * the sweep — the timeout IS the measurement then.
  *
  * Writes one JSON line to SPARK_GRAFT_SCALE_OUT (BENCH_SCALE.json).
  * The 10× corpus is written under java.io.tmpdir and removed on exit.
  */
object ScaleProbe {
  /** Default list; override with SPARK_GRAFT_PROBE_QUERIES (comma-
    * separated SparkEntry names) for ad-hoc waves without touching the
    * published artifact's composition. */
  private val Probed: Seq[String] =
    sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq(
        // the funnel + the trainer (both measured flat)
        "q_pipeline_e2e", "q_bpe_train64",
        // text dedup: uncapped contrast + the bounded twins
        "q_windowed_dedup", "q_windowed_dedup_capped",
        "q_dedup_groups_capped",
        // graph family: uncapped contrasts + capped twins
        "q_harmonic", "q_harmonic_capped",
        "q_incr_cc", "q_incr_cc_capped",
        "q_modularity", "q_modularity_capped",
        "q_triangles", "q_triangles_capped",
        "q_label_prop", "q_label_prop_capped",
        "q_hyperball_sketch", "q_hyperball_sketch_capped",
        // vector family: bounded graph build, bounded mining, and the
        // sign-LSH/banded trio — uncapped contrasts beside their
        // round-14 capped twins
        "q_knn_graph_capped",
        "q_hard_negatives_lsh", "q_hard_negatives_capped",
        "q_lsh_pairs", "q_lsh_pairs_capped",
        "q_ann_neardup", "q_ann_neardup_capped",
        "q_embed_groups_lsh", "q_embed_groups_capped",
        "q_semdedup"))
  private val TimeoutSec =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_TIMEOUT", "600").toInt

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")
    val bigDir = java.nio.file.Files.createTempDirectory("graft_sf1")
    val big = bigDir.toString

    // ---- derive the 10× corpus: offsets keep doc/vec ids disjoint so
    // dedup/CC keys stay unique; text and vectors repeat, which keeps
    // the candidate-generation density realistic for a crawl re-visit
    val docs = Tables.documents(spark, sf01)
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until 10).map(k => docs.select((col("doc_id") + lit(k * n)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/documents.parquet")
    val emb = Tables.embeddings(spark, sf01)
    val m = emb.agg(max("vec_id")).head().getLong(0) + 1
    (0 until 10).map(k => emb.select((col("vec_id") + lit(k * m)).as("vec_id"),
        col("embedding"), col("label")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")

    /** The previous measurement's worker, if it timed out: joined (with
      * a hard grace) before the next measurement starts so an abandoned
      * probe can't contend for CPU during the next timing window. */
    var lastWorker: Thread = null
    /** Run `f` under its own job group; Some((sec, maxTaskRecords)) or
      * None when the hard timeout cancels the job group — the probe
      * exists to catch degenerate scaling, so a blown budget is a
      * RESULT, not an error. Task ends count only for jobs submitted
      * under THIS measurement's job group: a cancelled probe's
      * straggler tasks keep ending for a while, and unfiltered they
      * would inflate the NEXT measurement's max (round-13 ADVICE). */
    def measure(name: String)(f: => Unit): Option[(Double, Long)] = {
      if (lastWorker != null && lastWorker.isAlive) {
        System.err.println(s"[probe] draining ${lastWorker.getName} before $name")
        lastWorker.join(120000)
      }
      val group = s"probe-$name"
      val metrics = new graft.obs.QueryMetrics(spark, Some(group))
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var failed: Throwable = null
      val t0 = System.nanoTime()
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          f
        } catch { case e: Throwable => failed = e }
        finally { spark.sparkContext.clearJobGroup(); done.countDown() }
      }, group)
      worker.setDaemon(true)
      worker.start()
      val finished = done.await(TimeoutSec.toLong,
        java.util.concurrent.TimeUnit.SECONDS)
      lastWorker = if (finished) null else worker
      try {
        if (!finished) {
          spark.sparkContext.cancelJobGroup(group)
          done.await(60, java.util.concurrent.TimeUnit.SECONDS)
          None
        } else if (failed != null) {
          // a cancelled/failed probe reports like a timeout
          System.err.println(s"[probe] $name failed: ${failed.getMessage}")
          None
        } else {
          val sec = (System.nanoTime() - t0) / 1e9
          metrics.drain()
          Some((sec, metrics.maxTaskShuffleRecords))
        }
      } finally metrics.close()
    }
    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    // AQE partition coalescing OFF for the measurement: at probe scale
    // it legally re-merges small partitions by SIZE, the regime real
    // data never sees (same rationale as the spec's measured tests)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    def fmt(r: Option[(Double, Long)]): String = r match {
      case Some((sec, recs)) => s"""{"sec":$sec,"max_task_records":$recs}"""
      case None => s"""{"timeout":true,"budget_sec":$TimeoutSec}"""
    }
    val results = Probed.map { name =>
      val fn = SparkEntry.queries(name)
      // JIT/codegen warm-up runs through the SAME timeout harness: a
      // query that degenerates even at sf0.001 reports {timeout:true}
      // instead of hanging the sweep (round-13 ADVICE)
      val warm = measure(s"$name-warmup") {
        fn(spark, "/root/testdata/sf0.001").count()
      }
      sweep()
      val r0 = if (warm.isEmpty) None
        else measure(name) { fn(spark, sf01).count() }
      sweep()
      val r1 = if (warm.isEmpty) None
        else measure(name) { fn(spark, big).count() }
      sweep()
      val growth = (r0, r1) match {
        case (Some((_, a)), Some((_, b))) if a > 0 =>
          (math.rint(b.toDouble / a * 100) / 100).toString
        case _ => "null"
      }
      System.err.println(s"[probe] $name sf0.1=${fmt(r0)} 10x=${fmt(r1)}")
      s""""$name":{"sf0.1":${fmt(r0)},"sf1x10":${fmt(r1)},""" +
        s""""max_task_growth":$growth}"""
    }
    val json = s"""{"metric":"scale_probe","scale_ratio":10,""" +
      s""""base_sf":"$sf01","queries":${results.mkString("{", ",", "}")}}"""
    println(json)
    try {
      val out = java.nio.file.Paths.get(outPath)
      val tmp = java.nio.file.Paths.get(outPath + ".tmp")
      java.nio.file.Files.writeString(tmp, json + "\n")
      java.nio.file.Files.move(tmp, out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Throwable => }
    spark.stop()
    // best-effort cleanup of the derived corpus
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
    }
    rm(bigDir.toFile)
  }
}
