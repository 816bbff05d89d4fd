package graft

import graft.evm.{Keccak, LogPipeline}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class LogSourceSpec extends SparkSpec {

  private def dumpDir: String = {
    val dir = Files.createTempDirectory("evm_logs").toString
    // JSON-lines dump of synthesized logs (hex-encoded binary columns)
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dir)
    dir
  }

  private def read(dir: String, chunk: Int = 10) =
    spark.read.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 0)
      .option("endBlock", 99).option("chunkSize", chunk).load()

  test("chunked block-range partitioning: one task per block window (S1)") {
    val dir = dumpDir
    val df = read(dir, chunk = 10)
    assert(df.rdd.getNumPartitions == 10) // blocks 0..99 / 10
    assert(df.count() == 1000) // sf0.001 events
  }

  test("malformed dump lines are skipped, the scan survives (P7)") {
    val dir = dumpDir
    // corrupt the dump: invalid JSON, a JSON scalar, and an empty line
    Files.write(java.nio.file.Paths.get(dir, "corrupt.json"),
      "{not json\n42\n\n".getBytes("UTF-8"))
    // and an object without block_number, in the file holding block 0
    val part = new java.io.File(dir).listFiles().find(_.getName.startsWith("part-")).get
    Files.write(part.toPath, "{\"tx_hash\":\"0xnoblock\",\"address\":\"0xa\"}\n"
      .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    val df = read(dir)
    assert(df.count() == 1000) // good rows intact, bad lines dropped
    assert(graft.evm.DumpEndpoint(dir).tip() == 99L)
  }

  test("a dump scan without endBlock reads up to the dump's tip") {
    val dir = dumpDir
    val df = spark.read.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("chunkSize", 10).load()
    assert(df.rdd.getNumPartitions == 10)
    assert(df.count() == 1000)
    assert(df.select(max(col("block_number"))).head().getLong(0) == 99L)
  }

  test("out-of-range source options fail the load, naming the option") {
    val dir = Files.createTempDirectory("evm_opts").toString
    def load(provider: String, opts: (String, String)*): Unit = {
      val r = spark.readStream.format(s"graft.evm.$provider")
      opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
      ()
    }
    val url = "http://127.0.0.1:1/" // never contacted: the parse fails first
    val bad = Seq(
      ("LogSourceProvider", "chunkSize", Seq("path" -> dir, "chunkSize" -> "-1")),
      ("LogSourceProvider", "chunkSize", Seq("path" -> dir, "chunkSize" -> "0")),
      ("LogSourceProvider", "maxBlocksPerTrigger",
        Seq("path" -> dir, "maxBlocksPerTrigger" -> "0")),
      ("ReorgLogSourceProvider", "reorgDepth", Seq("path" -> dir, "reorgDepth" -> "0")),
      ("LogSourceProvider", "rpcAttempts", Seq("url" -> url, "rpcAttempts" -> "0")),
      ("LogSourceProvider", "rpcDelayMs", Seq("url" -> url, "rpcDelayMs" -> "-1")))
    for ((provider, key, opts) <- bad) {
      val e = intercept[IllegalArgumentException](load(provider, opts: _*))
      assert(e.getMessage.contains(s"option $key "), s"$provider $opts: ${e.getMessage}")
    }
    // the batch read checks the same options
    val e = intercept[IllegalArgumentException](spark.read
      .format("graft.evm.LogSourceProvider").option("path", dir)
      .option("chunkSize", "0").load())
    assert(e.getMessage.contains("option chunkSize "))
  }

  test("address/topic0 filters are pushed into the source (P1)") {
    val dir = dumpDir
    val t0 = Keccak.eventTopic0(LogPipeline.TransferSig)
    val filtered = read(dir).filter(col("topic0") === t0)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("topics=1"),
      s"expected pushdown marker in plan:\n$scan")
    // semantics: matches the unfiltered count of transfer-typed rows
    val expected = read(dir).collect().count(_.getAs[String]("topic0") == t0)
    assert(filtered.count() == expected && expected > 0)
  }

  test("two pushed scans unioned = fallback semantics (P2)") {
    val dir = dumpDir
    val t0 = Keccak.eventTopic0(LogPipeline.TransferSig)
    val a0 = Keccak.eventTopic0(LogPipeline.ApprovalSig)
    val both = read(dir).filter(col("topic0") === t0)
      .unionByName(read(dir).filter(col("topic0") === a0))
    assert(both.count() == 1000)
  }

  test("block_number predicates prune chunk partitions at the source") {
    val dir = dumpDir
    val pruned = read(dir, chunk = 10).filter(col("block_number") >= 50)
    assert(pruned.rdd.getNumPartitions == 5) // 50..99 / 10
    assert(pruned.select(min(col("block_number"))).head().getLong(0) >= 50)
    val band = read(dir, chunk = 10)
      .filter(col("block_number") >= 20 && col("block_number") < 40)
    assert(band.rdd.getNumPartitions == 2)
    assert(band.count() > 0)
  }

  test("block window bounds are respected") {
    val dir = dumpDir
    val df = spark.read.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 10)
      .option("endBlock", 19).option("chunkSize", 5).load()
    assert(df.rdd.getNumPartitions == 2)
    val blocks = df.select("block_number").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(blocks.head >= 10 && blocks.last <= 19 && blocks.nonEmpty)
  }

  test("dump file index: one scan per file, non-intersecting files pruned") {
    import graft.evm.DumpIndex
    // dump split into 10 per-decade files — the layout a chunked
    // exporter writes — so each 10-block partition intersects ONE file
    val dir = Files.createTempDirectory("evm_logs_split").toString
    val full = LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
    for (dec <- 0 until 10)
      full.filter(col("block_number").between(dec * 10, dec * 10 + 9))
        .coalesce(1).write.mode("overwrite").json(s"$dir/part$dec")
    // flatten: move each part file up as decade-named json
    for (dec <- 0 until 10) {
      val src = new java.io.File(s"$dir/part$dec").listFiles()
        .find(f => f.getName.endsWith(".json")).get
      Files.move(src.toPath, java.nio.file.Paths.get(dir, f"d$dec%02d.json"))
      val pd = new java.io.File(s"$dir/part$dec")
      pd.listFiles().foreach(_.delete())
      pd.delete()
    }
    val before = DumpIndex.scans.get()
    val df = read(dir, chunk = 10)
    assert(df.count() == 1000) // pruning loses nothing
    val scanned = DumpIndex.scans.get() - before
    // 10 files indexed once each (not once per partition); local[2]
    // JVMs share the cache, so the count is exactly the file count
    assert(scanned == 10, s"expected 10 index scans, got $scanned")
    // per-file ranges are tight
    assert(DumpIndex.blockRange(new java.io.File(s"$dir/d03.json"))
      .contains((30L, 39L)))
    // a second read re-scans nothing
    assert(read(dir, chunk = 10).count() == 1000)
    assert(DumpIndex.scans.get() - before == 10)
  }

  test("streaming: chain-tip following emits only new blocks per trigger") {
    val dir = dumpDir
    val stream = spark.readStream.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 0)
      .option("chunkSize", 10).option("maxBlocksPerTrigger", 40).load()
    val query = stream.writeStream.format("memory")
      .queryName("tip_follow").outputMode("append").start()
    try {
      query.processAllAvailable()
      // dump covers blocks 0..99 → full catch-up across rate-limited batches
      val got = spark.table("tip_follow")
      assert(got.count() == 1000)
      assert(got.select(max(col("block_number"))).head().getLong(0) == 99)
      // rate limit: no micro-batch may span more than 40 blocks
      val perBatch = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(perBatch.length >= 3, s"expected >=3 rate-limited batches, got ${perBatch.mkString(",")}")
    } finally query.stop()
  }

  test("streaming: decode pipeline over the stream equals the batch decode") {
    val dir = dumpDir
    def decoded(df: org.apache.spark.sql.DataFrame) =
      LogPipeline.decodeEvent(df
        .withColumn("topic1", unhex(col("topic1")))
        .withColumn("topic2", unhex(col("topic2")))
        .withColumn("data", unhex(col("data"))), LogPipeline.Transfer, "Token", "1")
    val stream = spark.readStream.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 0).option("chunkSize", 25).load()
    val query = decoded(stream).writeStream.format("memory")
      .queryName("decode_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("decode_stream")
        .orderBy("tx_hash").collect()
      val batch = decoded(read(dir)).orderBy("tx_hash").collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      assert(streamed.sameElements(batch))
    } finally query.stop()
  }

  test("streaming: restart from checkpoint resumes at committed height, no dups") {
    val dir = Files.createTempDirectory("evm_restart").toString
    val out = Files.createTempDirectory("evm_restart_out").toString
    val ckpt = Files.createTempDirectory("evm_restart_ckpt").toString
    def line(b: Long) =
      s"""{"block_number":$b,"tx_hash":"0x$b","address":"0xa","topic0":"0xt","data":""}"""
    Files.write(java.nio.file.Paths.get(dir, "part1.json"),
      (0L to 4L).map(line).mkString("\n").getBytes)
    def start() = spark.readStream.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 0).option("chunkSize", 2)
      .option("maxBlocksPerTrigger", 3).load()
      .writeStream.format("csv").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // new data lands while the query is down
    Files.write(java.nio.file.Paths.get(dir, "part2.json"),
      (5L to 8L).map(line).mkString("\n").getBytes)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.schema(graft.evm.LogSource.schema).csv(out)
      .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L to 8L), s"expected exactly blocks 0..8 once, got $got")
  }

  test("ungrouped min/max/count push to the source: one row per window") {
    val dir = dumpDir
    val df = read(dir, chunk = 10)
      .agg(max(col("block_number")).as("hi"), min(col("block_number")).as("lo"),
        count(lit(1)).as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("aggPushed=[max,min,count]"),
      s"expected aggregate-pushdown marker in plan:\n$p")
    val r = df.head()
    // parity with a full-row read aggregated by Spark
    val rows = read(dir, chunk = 10).select("block_number").collect().map(_.getLong(0))
    assert(r.getLong(0) == rows.max && r.getLong(1) == rows.min
      && r.getLong(2) == rows.length.toLong)
  }

  test("agg pushdown composes with pushed filters; grouped aggs stay unpushed") {
    val dir = dumpDir
    val t0 = Keccak.eventTopic0(LogPipeline.TransferSig)
    val filtered = read(dir).filter(col("topic0") === t0)
      .agg(count(lit(1)).as("n"))
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("topics=1") && p.contains("aggPushed=[count]"),
      s"filter + agg should BOTH push:\n$p")
    val expected = read(dir).collect().count(_.getAs[String]("topic0") == t0)
    assert(filtered.head().getLong(0) == expected.toLong && expected > 0)
    // a grouped aggregate must fall back to the plain row scan
    val grouped = read(dir).groupBy("address").count()
    val gp = grouped.queryExecution.executedPlan.toString
    assert(!gp.contains("aggPushed"), s"grouped agg must not push:\n$gp")
    assert(grouped.agg(sum("count")).head().getLong(0) == 1000L)
  }

  test("streaming: appended dump files advance the tip") {
    val dir = Files.createTempDirectory("evm_tip").toString
    def line(b: Long) =
      s"""{"block_number":$b,"tx_hash":"0x$b","address":"0xa","topic0":"0xt","data":""}"""
    Files.write(java.nio.file.Paths.get(dir, "part1.json"),
      (0L to 4L).map(line).mkString("\n").getBytes)
    val stream = spark.readStream.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", 0).option("chunkSize", 3).load()
    val query = stream.writeStream.format("memory")
      .queryName("tip_append").outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(spark.table("tip_append").count() == 5)
      Files.write(java.nio.file.Paths.get(dir, "part2.json"),
        (5L to 8L).map(line).mkString("\n").getBytes)
      query.processAllAvailable()
      assert(spark.table("tip_append").count() == 9)
      assert(spark.table("tip_append").select(max(col("block_number")))
        .head().getLong(0) == 8)
    } finally query.stop()
  }
}
