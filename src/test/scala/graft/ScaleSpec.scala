package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregation equals direct aggregation") {
    // one hot key (90% of rows) + long tail
    val rows = (1 to 2000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"k${i % 37}"
      (k, i.toDouble)
    }
    val df = rows.toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), round(sum("v"), 4).as("s"))
      .orderBy("k").collect()
    val salted = Scale.saltedAgg(df, Seq("k"), saltBuckets = 16)(
        Seq(count(lit(1)).as("n"), sum($"v").as("s")),
        Seq(sum($"n").as("n"), round(sum($"s"), 4).as("s")))
      .orderBy("k").collect()
    assert(direct.map(_.toString).toSeq == salted.map(_.toString).toSeq)
  }

  test("AQE skew join: the runtime splits a hot shuffle partition") {
    // the AUTOMATIC counterpart of DataQueries.saltedJoin's manual
    // treatment: force a sort-merge join with one hot key, drop the
    // skew thresholds to test scale, and pin that AQE rewrote the hot
    // partition into multiple reader splits (skew=true in the plan)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.shuffle.partitions")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // skew is judged against the MEDIAN partition size — with the
      // session's 2 shuffle partitions the median IS the hot partition
      conf.set("spark.sql.shuffle.partitions", "16")
      val hot = spark.range(60000)
        .select((col("id") * 0).as("k"), col("id").as("va"),
          // pad so the hot partition clears the byte threshold
          org.apache.spark.sql.functions.lpad(col("id").cast("string"), 64, "x")
            .as("pad"))
        .unionAll(spark.range(2000).select((col("id") % 200 + 1).as("k"),
          col("id").as("va"), lit("t").as("pad")))
      val right = spark.range(201).select(col("id").as("k"), col("id").as("vb"))
      val joined = hot.join(right, Seq("k"))
      // execute THIS Dataset's queryExecution (count() would build and
      // run a different plan, leaving this one isFinalPlan=false)
      val n = joined.collect().length
      assert(n == 62000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("passage dedup stays linear on a 10x-replicated corpus") {
    // pair-based dedup blows up quadratically under heavy duplication
    // (the measured 480 s jaccard case); the passage pass is a window
    // COUNT per hash — rows per key grow 10x, work grows 10x, done.
    import graft.ops.DedupOps
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val rep = (0 until 10).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_))
    val out = DedupOps.passageStats(rep, "doc_id", "text", w = 8)
    assert(out.count() == 5000)
    // every passage now occurs >= 10 times corpus-wide
    assert(out.filter(col("dup_frac") < 1.0).count() == 0)
  }

  test("int8-quantized embeddings store substantially smaller than float32") {
    import graft.ops.VectorOps
    val d = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_sq8")
    def dirSize(p: String): Long = {
      val f = new java.io.File(p)
      f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val e = Tables.embeddings(spark, d)
    e.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$out/float32")
    VectorOps.sq8Encode(e, "vec_id", "embedding")
      .select(col("vec_id"), col("codes"))
      .write.mode("overwrite").parquet(s"$out/int8")
    val fb = dirSize(s"$out/float32")
    val ib = dirSize(s"$out/int8")
    info(f"float32=$fb%d bytes int8=$ib%d bytes ratio=${fb.toDouble / ib}%.2f")
    // 4 bytes -> 1 byte per dim; parquet encoding/metadata eats some of
    // it, but the scan an ANN pass reads must shrink by well over 2x
    assert(ib.toDouble < fb / 2.0, s"int8 parquet not smaller: $ib vs $fb")
  }

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val d = "/root/testdata/sf0.001"
    Scale.writeBucketed(Tables.orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_custkey", buckets = 8)
    Scale.writeBucketed(Tables.customer(spark, d).select("c_custkey", "c_nationkey"),
      "b_customer", "c_custkey", buckets = 8)
    // disable broadcast so the join would otherwise shuffle both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      assert(joined.count() > 0)
      assert(Scale.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    spark.sql("DROP TABLE IF EXISTS p_events")
    val d = "/root/testdata/sf0.001"
    Scale.writePartitioned(
      Tables.events(spark, d).select("event_id", "user_id", "value", "event_type"),
      "p_events", "event_type")
    spark.sql("DROP TABLE IF EXISTS p_dim")
    try {
      import spark.implicits._
      // dimension carrying a NON-partition-key filter: the fact side
      // can only learn which partitions survive at execution time. The
      // dim must be file-backed — a LocalRelation gets its filter
      // constant-folded away before the PartitionPruning rule looks
      // for a selective predicate
      Seq(("purchase", 1), ("click", 0), ("view", 0),
        ("signup", 0), ("error", 0)).toDF("etype", "grp")
        .write.mode("overwrite").format("parquet").saveAsTable("p_dim")
      // no ANALYZE stats on these throwaway tables → make the benefit
      // heuristic use the fallback filter ratio instead of (absent)
      // distinct counts; production tables would carry real stats
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val joined = spark.table("p_events")
        .join(spark.table("p_dim").filter(col("grp") === 1),
          col("event_type") === col("etype"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"expected a DPP subquery on the fact scan:\n${p.take(3000)}")
      // semantics: exactly the purchase rows
      val expected = Tables.events(spark, d)
        .filter(col("event_type") === "purchase").count()
      assert(joined.count() == expected && expected > 0)
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.sql("DROP TABLE IF EXISTS p_events")
      spark.sql("DROP TABLE IF EXISTS p_dim")
    }
  }

  test("runtime bloom filter: selective dim join pre-filters the fact scan") {
    // the non-partitioned sibling of DPP: a bloom filter built from the
    // filtered dim side is pushed into the fact side at runtime, so the
    // big side drops non-joining rows BEFORE the shuffle. Thresholds
    // are sized for 10 GB+ scans in production; lower them to exercise
    // the rewrite on the fixture.
    val d = "/root/testdata/sf0.001"
    val set = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // if the dim side would broadcast, Spark rightly skips the bloom
      // filter (the broadcast hash join already prunes); force the
      // shuffle-join shape the rewrite exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = set.keys.map(k => k -> spark.conf.getOption(k)).toMap
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderpriority")
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilter")
        || p.contains("might_contain"),
        s"expected an injected bloom runtime filter:\n${p.take(3000)}")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("capped pagerank stays tractable on a 5x-duplicated corpus") {
    // the uncapped pair generator is the oracle baseline; under 5x
    // duplication every shared shingle's candidate pairs grow 25x, so
    // the scale path MUST pass the doc-freq cap (same lever as
    // q_jaccard_capped) — this pins that the capped form completes
    // quickly on replicated data and keeps the rank distribution valid
    import graft.ops.{DedupOps, GraphOps}
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val rep = (0 until 5).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_))
    val pairs = DedupOps.jaccardPairs(rep, "doc_id", "text", 3, 0.1,
      maxDocFreq = Some(30L))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val t0 = System.nanoTime()
    val out = GraphOps.pageRankFixed(rep.select(col("doc_id").as("id")),
      edges, iters = 2)
    val n = out.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n == 2500, s"node count $n")
    assert(secs < 120, f"capped pagerank took $secs%.1f s")
    // ranks remain valid micro-unit masses: floor at teleport for
    // isolated nodes, every exact-copy clique holds mass above it
    val stats = out.agg(min("r"), max("r")).head()
    assert(stats.getLong(0) >= 150000L && stats.getLong(1) > 150000L)
  }

  test("boundedMembers: rank-free cap keeps exactly the row_number set") {
    import graft.ops.Scale
    import org.apache.spark.sql.expressions.Window
    // random-ish groups with heavy skew: group 0 holds 5000 members
    val df = spark.range(6000).select(
      when(col("id") < 5000, lit(0L)).otherwise(col("id") % 7).as("g"),
      (col("id") * 31 + 17).as("m"))
    val cap = 16
    val got = Scale.boundedMembers(df, Seq("g"), "m", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy("g")
      .orderBy(graft.ops.TextOps.h64(col("m").cast("string")).asc, col("m").asc)
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).select("g", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"kept sets differ: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    // and the cap must be the AGGREGATE plan, not a window sort: the
    // whole point is that no task ranks the hot group's membership
    val p = Scale.boundedMembers(df, Seq("g"), "m", cap)
      .queryExecution.executedPlan.toString
    assert(p.contains("bottomk_sample"), s"expected bottomk aggregate:\n$p")
    assert(!p.contains("Window"), s"cap regressed to a window sort:\n$p")
  }

  test("compactCheckpoint: contents identical, width tracks bytes") {
    // a sub-MB frame checkpointed at the session's 32-way width must
    // come back (a) row-identical and (b) coalesced to far fewer
    // partitions — ceil(bytes / target) — so later iteration rounds
    // stop scheduling `cpus` near-empty tasks per read (guide §2.2:
    // reducer count must track bytes, both directions)
    val wide = spark.range(10000)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("id").as("v"), (col("id") % 97).as("lbl"))
    val cp = Scale.compactCheckpoint(wide)
    assert(cp.rdd.getNumPartitions < wide.rdd.getNumPartitions,
      s"tiny frame kept ${cp.rdd.getNumPartitions} partitions")
    assert(cp.collect().map(_.toString).sorted
      .sameElements(wide.collect().map(_.toString).sorted))
  }

  test("compactCheckpoint: a zero or non-numeric size conf fails loudly") {
    val key = "spark.graft.checkpoint.partition.mb"
    val df = spark.range(10).toDF("v")
    try for (bad <- Seq("0", "32MB")) {
      spark.conf.set(key, bad)
      val e = intercept[IllegalArgumentException](Scale.compactCheckpoint(df))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("IVF persisted-list probe equals the inline broadcast-join plan") {
    // one semantics, two physical paths: the bucketed state probe must
    // reproduce ivfTopK row-for-row (its construction already asserts
    // the probe join plans with zero exchanges)
    val sf = "/root/testdata/sf0.001"
    val viaState = graft.ops.DataQueries.ivfStateProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val inline = graft.ops.DataQueries.ivfTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(viaState.nonEmpty)
    assert(viaState.sameElements(inline),
      s"state ${viaState.toSeq.take(5)} vs inline ${inline.toSeq.take(5)}")
  }
}
