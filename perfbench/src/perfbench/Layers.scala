package perfbench

import graft.evm.{Keccak, LogPipeline, Secp256k1}
import graft.ml.MlPipeline
import graft.ops.{Backtest, TimeSeries}
import graft.pipelines.EthBot
import graft.sources.Sinks
import java.math.BigInteger
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import perfbench.Rep.Ctx
import scala.jdk.CollectionConverters._

/** The traced run's isolated layer calls. Each layer's public function
  * is called on a materialized (cached, already consumed) input of the
  * workload's shape, inside its own span, and its result is consumed in
  * full. Nothing in the program is instrumented: every number is taken
  * from outside the call. */
object Layers {
  private val num = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = num(k) = num.getOrElse(k, 0.0) + v

  def run(workload: String, ctx: Ctx, t: Traced): Unit = workload match {
    case "backfill_txfrom" => indexer(ctx, t)
    case "bots" =>
      ethbot(ctx, t); feebot(ctx, t)
      // the SparkEntry layer: a fixed sample of declared queries on the
      // same tables FeeBot reads, one span (and engine summary) each
      val ops = t("queries")(Workloads.queries(ctx,
        (n, f) => t(s"op:$n", withEngine = true)(f())))
      ctx.extra("query_digests") = ops.map(o => o.name -> o.digest).toMap
  }

  private def consume(df: DataFrame): Long = Digest.rows(Digest.of(df))

  private def indexer(ctx: Ctx, t: Traced): Unit = {
    val spark = ctx.spark
    val j = Workloads.job(ctx)
    val endBlock = ctx.manifest.path("end_block").asLong()
    val dump = ctx.input.resolve("dump").toString
    val txsPath = ctx.input.resolve("txs")
    val txs = if (Files.exists(txsPath)) Some(spark.read.parquet(txsPath.toString))
      else None
    val files = ctx.manifest.path("files").elements().asScala.map(f =>
      (f.path("min_block").asLong(), f.path("max_block").asLong(),
        f.path("lines").asLong())).toSeq
    // the workload's own scans, read off its executed plans: how often
    // the program scans the source, over how many partitions, how many
    // lines the reader parses (every line of every file whose block
    // span meets a partition's window) and how many rows it emits
    val w = t.trace.spans.find(_.name == "workload").get
    for (b <- t.engine.sourceScans(w.startMs, w.endMs)) {
      add("scan.calls", 1)
      add("scan.rows", b.metrics("numOutputRows").value.toDouble)
      b.inputPartitions.foreach { case p: graft.evm.LogRangePartition =>
        add("scan.partitions", 1)
        add("scan.lines_parsed", files.filter(f =>
          f._1 <= p.toBlock && f._2 >= p.fromBlock).map(_._3).sum.toDouble)
      }
    }
    for {
      c <- j.contracts
      ev <- c.parsedAbi
      if c.events.isEmpty || c.events.contains(ev.name)
    } {
      val scoped = spark.read.format("graft.evm.LogSourceProvider")
        .option("path", dump).option("startBlock", j.startBlock)
        .option("endBlock", endBlock).option("chunkSize", j.chunkSize).load()
        .filter(col("address") === c.address && col("topic0") === ev.topic0)
      // the Indexer's hex-to-binary step, so decode sees its real input
      val bin = Seq("topic1", "topic2", "topic3", "data")
        .foldLeft(scoped)((df, k) => df.withColumn(k, unhex(col(k)))).cache()
      t("scan")(consume(bin))
      val decoded = LogPipeline.decodeEvent(bin, ev, c.name, "1").cache()
      val rows = t("decode")(consume(decoded))
      add("decode.rows", rows)
      val payload = ev.dataParams.map(p => col(p.name).isNull).reduceOption(_ && _)
      payload.foreach(p => add("decode.null_payload_rows", consume(decoded.filter(p))))
      val result = txs.fold(decoded) { tx =>
        val e = LogPipeline.attachTxFrom(decoded, tx).cache()
        t("enrich", withEngine = true)(consume(e))
        e
      }
      val dir = ctx.out.resolve(s"layers/sink/contract_name=${c.name}/event_name=${ev.name}")
      var attempts = 0
      t("sink")(Sinks.withRetries(j.retry.attempts, j.retry.delayMs) {
        attempts += 1
        result.drop("contract_name", "event_name")
          .write.mode("overwrite").option("header", "true").csv(dir.toString)
      })
      add("sink.retries", attempts - 1)
      Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .foreach { f => add("sink.files", 1); add("sink.bytes", Files.size(f)) }
      Seq(result, decoded, bin).foreach(_.unpersist(true))
    }
  }

  private def ethbot(ctx: Ctx, t: Traced): Unit = {
    val spark = ctx.spark
    val swaps = ctx.input.resolve("swaps").toString
    val csvSchema = StructType(Seq(StructField("timestamp", LongType),
      StructField("tick", LongType), StructField("extra", StringType)))
    val kept = t("csv.read")(consume(Sinks.readCsvProjected(spark, csvSchema,
      s"$swaps/*ETH*_Swap.csv", Seq("timestamp", "tick"))))
    val read = ctx.manifest.path("csv_rows_read").asDouble()
    add("csv.rows_read", read)
    add("csv.rows_dropped", read - kept)
    val prices = EthBot.poolPrices(spark, swaps).cache()
    t("ethbot.prices")(consume(prices))
    val grid = EthBot.commonGrid(prices).cache()
    t("ethbot.grid")(consume(grid))
    val mean = grid.groupBy("bucket").agg(avg("price").as("mean_price"))
    val base = grid.join(mean, Seq("bucket"))
    val devFrac = base.withColumn("dev",
      (col("price") - col("mean_price")) / col("mean_price")).cache()
    val devAbs = base.withColumn("dev", col("price") - col("mean_price")).cache()
    consume(devFrac); consume(devAbs)
    val withZ = TimeSeries.rollingStats(devAbs, "pool", "bucket", "dev",
        n = 1440, minPeriods = 1440, ddofZero = true, meanCol = "rm", stdCol = "rs")
      .withColumn("z", (col("dev") - col("rm")) / col("rs")).cache()
    t("timeseries.rolling")(consume(withZ))
    val mr = Backtest.meanReversion(devFrac, "pool", "bucket", "price", "dev", 0.001).cache()
    // collected, so the checker can compare the trades with the reference
    val mrRows = t("backtest.meanrev")(mr.collect())
    ctx.extra("meanrev_trades") = Json.Raw(mrRows.map(Rep.rowJson).mkString("[", ",", "]"))
    val zs = Backtest.zscoreReversion(withZ, "pool", "bucket", "price", "z",
      2.0, 0.2, 10080).cache()
    t("backtest.zscore")(consume(zs))
    t("ethbot.monthly")(consume(EthBot.monthlyReturns(zs)))
    Seq(zs, mr, withZ, devAbs, devFrac, grid, prices).foreach(_.unpersist(true))
  }

  private def feebot(ctx: Ctx, t: Traced): Unit = {
    // a different spelling of the same directory misses MlPipeline's
    // per-(session, dir) fitted-model cache, which the workload's own
    // FeeBot.run call has just filled
    val dir = ctx.tables + "/."
    t("ml.dataset")(consume(MlPipeline.dataset(ctx.spark, dir)))
    t("ml.train_eval")(consume(MlPipeline.trainEval(ctx.spark, dir)))
    val sig = MlPipeline.nowSignals(ctx.spark, dir).cache()
    t("ml.signals")(consume(sig))
    t("feebot.export")(Sinks.writeSingleCsv(sig, ctx.out.resolve("layers/feebot").toString))
    sig.unpersist(true)
  }

  /** Single-threaded kernel timings on seeded inputs from `kernel.json`:
    * every recovered address must equal the signer and every Keccak
    * digest the generator's, or the run fails. */
  def kernels(ctx: Ctx, t: Traced): Unit = {
    val k = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(ctx.input.resolve("kernel.json")))
    def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val sigs = k.path("sigs").elements().asScala.map { s =>
      (hex(s.path("msg").asText()), new BigInteger(s.path("r").asText(), 16),
        new BigInteger(s.path("s").asText(), 16), s.path("rec").asInt(),
        s.path("addr").asText())
    }.toSeq
    def recoverAll(): Unit = sigs.foreach { case (m, r, s, rec, want) =>
      val got = Secp256k1.recoverAddress(m, r, s, rec)
      if (got != want) throw new IllegalStateException(s"ecrecover: $got != $want")
    }
    recoverAll() // JIT warm-up, and the correctness check
    val (_, secpS) = Rep.timed(t("secp.recover")(recoverAll()))
    num("secp.recover_ms") = secpS * 1e3 / sigs.size
    val ins = k.path("keccak").elements().asScala.map(e =>
      (hex(e.path("in").asText()), e.path("out").asText())).toSeq
    ins.foreach { case (in, want) =>
      if (Keccak.hex(Keccak.hash256(in)) != want)
        throw new IllegalStateException("keccak digest mismatch")
    }
    var sink = 0
    def hashFor(reps: Int): Long = {
      var bytes = 0L
      for (_ <- 0 until reps; (in, _) <- ins) { sink ^= Keccak.hash256(in)(0); bytes += in.length }
      bytes
    }
    hashFor(200) // JIT warm-up
    val (bytes, kS) = Rep.timed(t("keccak.hash")(hashFor(400)))
    num("keccak.mb_per_s") = bytes / kS / 1e6 + (sink & 0) // sink keeps the loop live
  }

  /** Every per-layer metric of this run; layers a workload does not
    * reach report 0. */
  def metrics(t: Traced, ctx: Ctx): Map[String, Double] = {
    val tr = t.trace
    def opSeconds(p: String => Boolean): Double =
      tr.spans.filter(s => s.name.startsWith("op:") && p(s.name.drop(3)))
        .map(_.durNs).sum / 1e9
    val families: Map[String, String] = ctx.args.get("queries").map { f =>
      Files.readAllLines(Path.of(f)).asScala.map(_.trim.split("\\s+"))
        .collect { case Array(n, fam) => n -> fam }.toMap
    }.getOrElse(Map.empty)
    val enrich = t.engineBySpan.filter(_._1 == "enrich").values
    val workload = t.engineBySpan.getOrElse("workload", Map.empty)
    val scanRows = num.getOrElse("scan.rows", 0.0)
    val decoded = num.getOrElse("decode.rows", 0.0)
    Map(
      "scan.s" -> tr.seconds("scan"),
      "scan.calls" -> num.getOrElse("scan.calls", 0.0),
      "scan.partitions" -> num.getOrElse("scan.partitions", 0.0),
      "scan.lines_parsed" -> num.getOrElse("scan.lines_parsed", 0.0),
      "scan.read_amplification" ->
        (if (scanRows > 0) num("scan.lines_parsed") / scanRows else 0.0),
      "decode.s" -> tr.seconds("decode"),
      "decode.rows" -> decoded,
      "decode.null_payload_share" ->
        (if (decoded > 0) num.getOrElse("decode.null_payload_rows", 0.0) / decoded else 0.0),
      "enrich.s" -> tr.seconds("enrich"),
      "enrich.tasks" -> enrich.map(_("spark.tasks")).sum,
      "enrich.task_cpu_s" -> enrich.map(_("spark.task_cpu_s")).sum,
      "secp.recover_ms" -> num.getOrElse("secp.recover_ms", 0.0),
      "keccak.mb_per_s" -> num.getOrElse("keccak.mb_per_s", 0.0),
      "sink.s" -> tr.seconds("sink"),
      "sink.bytes" -> num.getOrElse("sink.bytes", 0.0),
      "sink.files" -> num.getOrElse("sink.files", 0.0),
      "sink.retries" -> num.getOrElse("sink.retries", 0.0),
      "ethbot.prices_s" -> tr.seconds("ethbot.prices"),
      "ethbot.grid_s" -> tr.seconds("ethbot.grid"),
      "timeseries.rolling_s" -> tr.seconds("timeseries.rolling"),
      "backtest.meanrev_s" -> tr.seconds("backtest.meanrev"),
      "backtest.zscore_s" -> tr.seconds("backtest.zscore"),
      "ethbot.monthly_s" -> tr.seconds("ethbot.monthly"),
      "csv.rows_read" -> num.getOrElse("csv.rows_read", 0.0),
      "csv.rows_dropped" -> num.getOrElse("csv.rows_dropped", 0.0),
      "ml.dataset_s" -> tr.seconds("ml.dataset"),
      "ml.train_eval_s" -> tr.seconds("ml.train_eval"),
      "ml.signals_s" -> tr.seconds("ml.signals"),
      "feebot.export_s" -> tr.seconds("feebot.export")) ++
      Seq("relational", "series", "fsm", "data", "evm", "ml").map(f =>
        s"family.${f}_s" -> opSeconds(n => families.get(n).contains(f))) ++
      workload.filter { case (k, _) => !k.startsWith("source.") }
  }
}
