package graft

import graft.api.{Config, JobRegistry}
import graft.evm.{Indexer, Keccak, LogPipeline}
import graft.obs.QueryMetrics
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** §3.1 end-to-end: config → pushed scan → decode → partitioned sink. */
class IndexerSpec extends SparkSpec {

  private val tokenAbi =
    """[{"type":"event","name":"Transfer","inputs":[
        {"indexed":true,"name":"from","type":"address"},
        {"indexed":true,"name":"to","type":"address"},
        {"indexed":false,"name":"value","type":"uint256"}]},
       {"type":"event","name":"Approval","inputs":[
        {"indexed":true,"name":"owner","type":"address"},
        {"indexed":true,"name":"spender","type":"address"},
        {"indexed":false,"name":"value","type":"uint256"}]}]"""

  // synthesized addresses are 0x00…0{user_id % 3}
  private def addr(i: Int) = "0x" + "0" * 39 + i

  private val yaml =
    s"""rpc_url: "http://replay"
       |start_block: 0
       |chunk_size: 25
       |contracts:
       |  - name: "TokenA"
       |    address: "${addr(0)}"
       |    abi: "token.json"
       |    events: ["Transfer", "NoSuchEvent"]
       |  - name: "TokenB"
       |    address: "${addr(1)}"
       |    abi: "token.json"
       |    events: []
       |storage:
       |  type: "csv"
       |  csv:
       |    output_dir: "unused"
       |""".stripMargin

  test("config -> pushed scan -> decode -> partitioned CSV sink, with counts") {
    val dump = Files.createTempDirectory("idx_dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val out = Files.createTempDirectory("idx_out").toString

    val job = Config.load(yaml, _ => tokenAbi)
    val counts = Indexer.run(spark, job, dump, endBlock = 99, outDir = out)
      .map(ec => (ec.contract, ec.event) -> ec.rows).toMap

    // TokenA: event filter keeps Transfer only (unknown name skipped);
    // TokenB: empty filter -> every ABI event (P2 fallback)
    assert(counts.keySet ==
      Set(("TokenA", "Transfer"), ("TokenB", "Transfer"), ("TokenB", "Approval")))

    // counts match an independent scan of the dump
    val raw = spark.read.json(dump)
    val t0 = Keccak.eventTopic0(LogPipeline.TransferSig)
    val a0 = Keccak.eventTopic0(LogPipeline.ApprovalSig)
    def expected(a: String, t: String) =
      raw.filter(col("address") === a && col("topic0") === t).count()
    assert(counts(("TokenA", "Transfer")) == expected(addr(0), t0))
    assert(counts(("TokenB", "Transfer")) == expected(addr(1), t0))
    assert(counts(("TokenB", "Approval")) == expected(addr(1), a0))
    assert(counts.values.forall(_ > 0))

    // sink layout: one partition dir per (contract, event), readable back
    val back = spark.read.option("header", "true")
      .option("basePath", out).csv(out)
    assert(back.select("contract_name", "event_name").distinct().count() == 3)
    assert(back.count() == counts.values.sum)
    // decoded payload survived the roundtrip (non-null values decoded)
    val vals = back.filter(col("event_name") === "Transfer" &&
      col("contract_name") === "TokenA")
    assert(vals.filter(col("value").isNotNull).count() > 0)

    // re-running the same job is idempotent (overwrite per event dir)
    Indexer.run(spark, job, dump, endBlock = 99, outDir = out)
    val again = spark.read.option("header", "true")
      .option("basePath", out).csv(out)
    assert(again.count() == counts.values.sum)
  }

  test("emitUnknown: unconfigured-topic0 logs land under event_name=_unknown") {
    val dump = Files.createTempDirectory("unk_dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val out = Files.createTempDirectory("unk_out").toString
    // ABI knows ONLY Transfer — the Approval logs at the same address
    // have no configured event and must flow to _unknown, not vanish
    val transferOnlyAbi =
      """[{"type":"event","name":"Transfer","inputs":[
          {"indexed":true,"name":"from","type":"address"},
          {"indexed":true,"name":"to","type":"address"},
          {"indexed":false,"name":"value","type":"uint256"}]}]"""
    val job = Config.load(yaml.replace("TokenB", "TokenU"), _ => transferOnlyAbi)
    val counts = Indexer.run(spark, job, dump, endBlock = 99, outDir = out,
        emitUnknown = true)
      .map(ec => (ec.contract, ec.event) -> ec.rows).toMap
    val raw = spark.read.json(dump)
    val a0 = Keccak.eventTopic0(LogPipeline.ApprovalSig)
    val expectUnknown = raw.filter(col("address") === addr(0) &&
      col("topic0") === a0).count()
    assert(expectUnknown > 0, "fixture needs unknown-topic0 rows")
    assert(counts(("TokenA", "_unknown")) == expectUnknown)
    val unk = spark.read.option("header", "true")
      .csv(s"$out/contract_name=TokenA/event_name=_unknown")
    assert(unk.count() == expectUnknown)
    val rp = unk.select("raw_params").collect().map(_.getString(0))
    assert(rp.forall(_.startsWith("data=")), "sorted key order: data first")
    assert(rp.forall(_.contains(s"&topic0=$a0")))
    assert(rp.forall(_.contains("&topic1=0x")))
  }

  test("CLI: --config load, relative ABI resolve, tip probe, counts (§3.1)") {
    val dump = Files.createTempDirectory("cli_dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val out = Files.createTempDirectory("cli_out").toString
    val confDir = Files.createTempDirectory("cli_conf")
    Files.write(confDir.resolve("token.json"), tokenAbi.getBytes("UTF-8"))
    val cliYaml =
      s"""rpc_url: "$dump"
         |start_block: 0
         |chunk_size: 25
         |contracts:
         |  - name: "TokenA"
         |    address: "${addr(0)}"
         |    abi: "token.json"
         |    events: ["Transfer"]
         |storage:
         |  type: "csv"
         |  csv:
         |    output_dir: "$out"
         |""".stripMargin
    val confPath = confDir.resolve("config.yaml")
    Files.write(confPath, cliYaml.getBytes("UTF-8"))

    // no --end-block → tip probed from the dump (block 99)
    val counts = graft.IndexerMain.run(spark, Array("--config", confPath.toString))
    assert(counts.map(c => (c.contract, c.event)) == Seq(("TokenA", "Transfer")))
    assert(counts.head.rows > 0)
    val back = spark.read.option("header", "true").option("basePath", out).csv(out)
    assert(back.count() == counts.head.rows)

    // --end-block bounds the scan below the tip
    val bounded = graft.IndexerMain.run(spark,
      Array(s"--config=${confPath}", "--end-block=49"))
    assert(bounded.head.rows < counts.head.rows && bounded.head.rows > 0)
  }

  test("--progress resume: continuation indexes only the new tail, union equals full scan") {
    val dump = Files.createTempDirectory("res_dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val out = Files.createTempDirectory("res_out").toString
    val confDir = Files.createTempDirectory("res_conf")
    Files.write(confDir.resolve("token.json"), tokenAbi.getBytes("UTF-8"))
    Files.write(confDir.resolve("config.yaml"),
      s"""rpc_url: "$dump"
         |start_block: 0
         |chunk_size: 25
         |contracts:
         |  - name: "TokenA"
         |    address: "${addr(0)}"
         |    abi: "token.json"
         |    events: ["Transfer"]
         |storage:
         |  type: "csv"
         |  csv:
         |    output_dir: "$out"
         |""".stripMargin.getBytes("UTF-8"))
    val conf = confDir.resolve("config.yaml").toString
    val prog = confDir.resolve("progress.json").toString

    // run 1: blocks [0, 49]; checkpoint records 49
    val first = graft.IndexerMain.run(spark,
      Array(s"--config=$conf", "--end-block=49", s"--progress=$prog"))
    assert(graft.evm.Progress.read(confDir.resolve("progress.json")) == Some(49L))

    // run 2 ("crash recovery"): same CLI up to the tip — indexes ONLY 50..99
    val second = graft.IndexerMain.run(spark,
      Array(s"--config=$conf", s"--progress=$prog"))
    assert(graft.evm.Progress.read(confDir.resolve("progress.json")) == Some(99L))
    assert(second.head.rows > 0)

    // union across segment dirs equals an independent full scan of the
    // dump (an unsegmented Indexer run would overwrite the event dir —
    // segments exist precisely so continuations DON'T do that)
    val fullRows = spark.read.json(dump)
      .filter(col("address") === addr(0) &&
        col("topic0") === Keccak.eventTopic0(LogPipeline.TransferSig) &&
        col("block_number") <= 99)
      .count()
    assert(first.head.rows + second.head.rows == fullRows)
    val back = spark.read.option("header", "true").option("basePath", out).csv(out)
    assert(back.filter(col("segment").isNotNull).count() == fullRows)
    // segment rows partition cleanly on the block boundary
    assert(back.filter(col("segment") === "0-49")
      .agg(max(col("block_number").cast("long"))).head().getLong(0) <= 49L)
    assert(back.filter(col("segment") === "50-99")
      .agg(org.apache.spark.sql.functions.min(col("block_number").cast("long")))
      .head().getLong(0) >= 50L)

    // run 3: nothing new past the checkpoint -> no-op, checkpoint intact
    val third = graft.IndexerMain.run(spark,
      Array(s"--config=$conf", s"--progress=$prog"))
    assert(third.isEmpty)
    assert(graft.evm.Progress.read(confDir.resolve("progress.json")) == Some(99L))
  }

  test("tx_from enrichment: distinct-tx recover-once, stamped on every row (J2)") {
    val dump = Files.createTempDirectory("idx_txf").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    LogPipeline.synthesizeLogs(events)
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val out = Files.createTempDirectory("idx_txf_out").toString

    val job = Config.load(yaml, _ => tokenAbi)
    val txs = LogPipeline.synthesizeTxs(events)
    val (counts, m) = QueryMetrics.of(spark)(Indexer.run(spark, job, dump,
      endBlock = 99, outDir = out, txs = Some(txs)))
    val recoveries = m.nodes.count { case (p, _) =>
      p.expressions.exists(_.exists(_.prettyName == "ecrecover_sender")) }
    // the sender dimension is recovered once per run, not once per pair
    assert(counts.size >= 2)
    assert(recoveries == 1,
      s"$recoveries executed plan nodes evaluated ecrecover_sender")

    val back = spark.read.option("header", "true")
      .option("basePath", out).csv(out)
    assert(back.columns.contains("tx_from"))
    assert(back.filter(col("tx_from").isNull).count() == 0,
      "every decoded row must carry a recovered sender")
    // the recovered set is exactly the 5 well-known key-1..5 addresses
    val got = back.select("tx_from").distinct().collect()
      .map(_.getString(0)).toSet
    assert(got == Set(
      "0x7e5f4552091a69125d5dfcb7b8c2659029395bdf",
      "0x2b5ad5c4795c026514f8317c7a215e218dccd6cf",
      "0x6813eb9362372eef6200f3b1dbc3f819671cba69",
      "0x1eff47bc3a10a45d4b230b5d10e37751fe6aa718",
      "0xe1ab8145f7e55dc933d51a18c793f901a3a0b276"))
    // per-row correctness: tx key is event_id % 5, tx_hash = md5(event_id)
    import spark.implicits._
    val expected = events
      .select(concat(lit("0x"), md5(col("event_id").cast("string"))).as("tx_hash"),
        pmod(col("event_id"), lit(5)).cast("int").as("k"))
    val keyAddr = Seq(
      0 -> "0x7e5f4552091a69125d5dfcb7b8c2659029395bdf",
      1 -> "0x2b5ad5c4795c026514f8317c7a215e218dccd6cf",
      2 -> "0x6813eb9362372eef6200f3b1dbc3f819671cba69",
      3 -> "0x1eff47bc3a10a45d4b230b5d10e37751fe6aa718",
      4 -> "0xe1ab8145f7e55dc933d51a18c793f901a3a0b276").toDF("k", "want")
    val bad = back.select("tx_hash", "tx_from")
      .join(expected, Seq("tx_hash")).join(keyAddr, Seq("k"))
      .filter(col("tx_from") =!= col("want"))
    assert(bad.count() == 0)
  }

  /** 1,000 synthesized logs over blocks 0..99, every configured
    * (contract, event) pair populated, as the hex-string JSON dump the
    * source replays; read-only, shared by the tests below. */
  private lazy val smallDump: String = {
    val dir = Files.createTempDirectory("idx_small").toString
    val kinds = array(Seq("click", "purchase", "view", "error", "signup").map(lit): _*)
    val events = spark.range(1000).select(col("id").as("event_id"),
      (col("id") * 7 % 31).as("user_id"),
      element_at(kinds, (col("id") % 5 + 1).cast("int")).as("event_type"),
      (col("id") % 97 * 1.25).as("value"), lit(null).cast("timestamp").as("ts"))
    LogPipeline.synthesizeLogs(events)
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dir)
    dir
  }

  private val pairDirs = Seq(("TokenA", "Transfer"), ("TokenB", "Transfer"),
    ("TokenB", "Approval"))
  private def landed(out: String, c: String, e: String) =
    Files.exists(Paths.get(out, s"contract_name=$c", s"event_name=$e", "_SUCCESS"))
  /** Persisted RDD ids; a run must leave none of its own behind (the
    * session is shared, so other suites' entries may come and go). */
  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
  /** The thrown pair error plus the other pairs' errors it carries as
    * suppressed (Spark attaches a caller-stack marker of its own). */
  private def pairErrors(e: Throwable) = e +: e.getSuppressed.toSeq
    .filterNot(_.getClass.getName.endsWith("OriginalTryStackTraceException"))

  test("one shared evm-logs scan per run, however many pairs and _unknown sinks") {
    val job = Config.load(yaml, _ => tokenAbi)
    for (emitUnknown <- Seq(false, true)) {
      val out = Files.createTempDirectory("idx_scan").toString
      val (counts, m) = QueryMetrics.of(spark)(Indexer.run(spark, job, smallDump,
        endBlock = 99, outDir = out, emitUnknown = emitUnknown))
      val scans = m.nodes.count {
        case (b: BatchScanExec, _) => b.scan.isInstanceOf[graft.evm.LogScan]
        case _ => false
      }
      assert(counts.size == (if (emitUnknown) 5 else 3))
      assert(scans == 1, s"$scans evm-logs scans executed (emitUnknown=$emitUnknown)")
    }
  }

  test("a failing pair's error is thrown only after every pair has settled") {
    val out = Files.createTempDirectory("idx_fail").toString
    // a plain file where TokenA's contract directory belongs: its one
    // pair cannot write, TokenB's two pairs can
    Files.createFile(Paths.get(out, "contract_name=TokenA"))
    val job = Config.load(yaml + "retry:\n  attempts: 1\n", _ => tokenAbi)
    val before = persisted
    val err = intercept[Exception](
      Indexer.run(spark, job, smallDump, endBlock = 99, outDir = out))
    assert(causes(err).exists(e => String.valueOf(e.getMessage).contains("TokenA")), err)
    assert(pairErrors(err).size == 1, "only TokenA's pair failed")
    // thrown after the other pairs' writes completed, and the shared
    // scan was released
    assert(landed(out, "TokenB", "Transfer") && landed(out, "TokenB", "Approval"))
    assert((persisted -- before).isEmpty, "the run left RDDs persisted")
  }

  test("a JobRegistry cancel reaches every pair's Spark job") {
    val out = Files.createTempDirectory("idx_cancel").toString
    val job = Config.load(yaml + "retry:\n  attempts: 1\n", _ => tokenAbi)
    val before = persisted
    val reg = new JobRegistry(spark)
    val parked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val id = reg.submit("indexer") { s =>
      parked.countDown()
      release.await()
      try Indexer.run(s, job, smallDump, endBlock = 99, outDir = out)
      catch { case e: Throwable => thrown.set(e); throw e }
    }
    try {
      // cancelled once running, before the body starts any Spark job:
      // every job the group starts afterwards must fail
      parked.await()
      assert(reg.cancel(id))
      release.countDown()
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
        !reg.status(id).exists(_.finishedAt.isDefined)) Thread.sleep(50)
      assert(reg.status(id).exists(_.state == reg.Cancelled))
    } finally reg.shutdown()
    // each pair's write ran in the caller's job group, so each failed
    // as cancelled: one error per pair (the first plus two suppressed)
    val err = thrown.get()
    assert(err != null, "the cancelled run must not succeed")
    val errors = pairErrors(err)
    assert(errors.size == pairDirs.size, errors.mkString("\n"))
    assert(errors.forall(causes(_).exists(e =>
      String.valueOf(e.getMessage).toLowerCase.contains("cancel"))), errors.mkString("\n"))
    assert(pairDirs.forall { case (c, e) => !landed(out, c, e) })
    assert((persisted -- before).isEmpty, "the run left RDDs persisted")
  }

  test("a JobRegistry cancel surfaces within one retry delay, not after the retries") {
    // the default retry (3 attempts, 1500 ms apart): a cancelled pair
    // write must not be retried, so the run ends well inside one delay
    val out = Files.createTempDirectory("idx_cancel_retry").toString
    val job = Config.load(yaml, _ => tokenAbi)
    assert(job.retry.attempts == 3 && job.retry.delayMs == 1500L)
    val reg = new JobRegistry(spark)
    val parked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.atomic.AtomicLong
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val id = reg.submit("indexer") { s =>
      parked.countDown()
      release.await()
      started.set(System.nanoTime())
      try Indexer.run(s, job, smallDump, endBlock = 99, outDir = out)
      catch { case e: Throwable => thrown.set(e); throw e }
    }
    try {
      parked.await()
      assert(reg.cancel(id))
      release.countDown()
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline && thrown.get() == null &&
        !reg.status(id).exists(_.finishedAt.isDefined)) Thread.sleep(5)
      val tookMs = (System.nanoTime() - started.get()) / 1000000
      info(s"the cancel surfaced after $tookMs ms")
      assert(thrown.get() != null, "the cancelled run must not succeed")
      assert(tookMs < job.retry.delayMs, s"the cancel surfaced after $tookMs ms")
      assert(pairErrors(thrown.get()).size == pairDirs.size)
    } finally reg.shutdown()
  }

  test("indexer scan pushes BOTH address and topic0 into the source") {
    val dump = Files.createTempDirectory("idx_push").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val logs = spark.read.format("graft.evm.LogSourceProvider")
      .option("path", dump).option("startBlock", 0)
      .option("endBlock", 99).option("chunkSize", 25).load()
    val scoped = logs.filter(col("address") === addr(0) &&
      col("topic0") === Keccak.eventTopic0(LogPipeline.TransferSig))
    val plan = scoped.queryExecution.executedPlan.toString
    assert(plan.contains("addresses=1") && plan.contains("topics=1"),
      s"expected both predicates pushed:\n$plan")
  }

  test("streaming indexer: tip-follow + per-batch partitioned sink equals batch run") {
    val dump = Files.createTempDirectory("idxs_dump").toString
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lit(null).cast("string").as("topic3"), lower(hex(col("data"))).as("data"))
      .coalesce(1).write.mode("overwrite").json(dump)
    val outB = Files.createTempDirectory("idxs_batch").toString
    val outS = Files.createTempDirectory("idxs_stream").toString
    val ckpt = Files.createTempDirectory("idxs_ckpt").toString

    val job = Config.load(yaml, _ => tokenAbi)
    val batchTotal = Indexer.run(spark, job, dump, endBlock = 99, outDir = outB)
      .map(_.rows).sum

    // rate-limited: the 100-block dump takes several micro-batches
    val q = Indexer.runStream(spark, job, dump, outS, ckpt,
      maxBlocksPerTrigger = 40L)
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.read.option("header", "true")
      .option("basePath", outS).csv(outS)
    assert(streamed.count() == batchTotal)
    assert(streamed.select("contract_name", "event_name").distinct().count() == 3)
  }
}
