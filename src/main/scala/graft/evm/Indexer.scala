package graft.evm

import graft.api.Config
import graft.sources.Sinks
import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import scala.util.{Failure, Try}

/** The reference's CLI entry point end-to-end (SURVEY.md §3.1:
  * `go run cmd/indexer.go --config=config.yaml`), composed from the
  * library pieces: validated config → ONE `evm-logs` scan per run with
  * `address IN (configured)` and `topic0 IN (configured)` pushed into
  * the source (P1; the reference's one `eth_getLogs` per block window
  * with every address) → per-(contract, event) ABI decode projection
  * over that scan (P3–P6) → partitioned CSV sink
  * `<outDir>/contract_name=…/event_name=…` (S4, the stable-schema
  * replacement for the reference's first-row-inferred headers) → retry
  * decorator around the write (S6).
  *
  * Contracts with an empty event filter index every ABI event (the
  * address-only fallback, P2, `indexer.go:211-222`); unknown event
  * names in the filter are skipped with a warn, `indexer.go:70-77`.
  * Returns the per-event row counts — the `[OK] … Events: n` progress
  * surface (C6). The source string picks the endpoint
  * ([[LogEndpoint]]): an `http(s)://` URL is fetched live, one
  * `eth_getLogs` per chunk retried per the job config; anything else is
  * a dump directory to replay. The scan/pushdown plan is identical.
  */
object Indexer {

  final case class EventCount(contract: String, event: String, rows: Long)

  /** Hex-string topics/data from the dump → binary words for decode. */
  private def binaryTopics(logs: DataFrame): DataFrame =
    logs.withColumns(
      Seq("topic1", "topic2", "topic3", "data").map(c => c -> unhex(col(c))).toMap)

  /** The configured (contract, event) pairs, in config order. */
  private def pairs(job: Config.Job): Seq[(Config.Contract, AbiSchema.Event)] =
    for (c <- job.contracts; ev <- c.parsedAbi
         if c.events.isEmpty || c.events.contains(ev.name)) yield (c, ev)

  /** One scan, decoded per pair, written concurrently. The source is
    * loaded once, filtered on `address IN (every configured address)`
    * and `topic0 IN (every configured event's topic0)` — both push into
    * the source as V2 `In` filters (bare columns: wrapping address in
    * lower() would silently keep it post-scan; dumps carry lowercase
    * addresses, the same normalization Config applies to the configured
    * side) — converted to binary words and persisted once. Every
    * (contract, event) pair decodes its slice of that frame and writes
    * its own directory ([[sinkPairs]]); the pair writes run
    * concurrently, and each pair's count is the `events` metric
    * [[LogPipeline.observed]] reads off its write — no count job. When
    * every pair has settled, the scan (and the sender dimension) is
    * unpersisted and the first failed pair's error, if any, is thrown.
    *
    * `txs`: optional transaction-signature dimension (`tx_hash`,
    * `msg_hash`, `sig_r`, `sig_s`, `rec_id`). When present, every
    * decoded row is stamped with the recovered `tx_from` — the
    * reference's per-event sender enrichment (parser.go:152-159) in
    * the distinct-tx → recover → broadcast-join form (J2). The sender
    * dimension is recovered once per run: it is persisted next to the
    * scan and every pair joins against it.
    *
    * `segment`: when set (the resume path, see [[Progress]]), each
    * (contract, event) lands under an additional `segment=<tag>`
    * directory — a continuation run appends new BLOCK RANGES as new
    * segment dirs while retries within one run still overwrite exactly
    * their own segment, so both resume and retry stay idempotent (the
    * `batch=<id>` trick [[runStream]] already uses, applied to batch
    * re-runs). Readers glob `outDir` with a basePath and see the union.
    *
    * `emitUnknown`: when set, logs on a CONFIGURED address whose topic0
    * matches none of that contract's ABI events land under
    * `event_name=_unknown` as metadata + a sorted key=value rendering
    * of the raw_params map ([[LogPipeline.decodeUnknown]]) — the
    * reference's minimal-event path (parser.go:54-61), where the
    * default plan-time dispatch would drop them. Only the address
    * predicate is pushed then, and the `_unknown` sinks read the same
    * persisted scan as the pairs. */
  def run(spark: SparkSession, job: Config.Job, source: String,
          endBlock: Long, outDir: String, chainId: String = "1",
          txs: Option[DataFrame] = None,
          segment: Option[String] = None,
          emitUnknown: Boolean = false): Seq[EventCount] = {
    val configured = col("address").isin(job.contracts.map(_.address).distinct: _*)
    val scoped =
      if (emitUnknown) configured
      else configured && col("topic0").isin(pairs(job).map(_._2.topic0).distinct: _*)
    val logs = spark.read.format("graft.evm.LogSourceProvider")
      .options(LogEndpoint(source, job.retry).options)
      .option("startBlock", job.startBlock)
      .option("endBlock", endBlock)
      .option("chunkSize", job.chunkSize)
      .load()
      .filter(scoped)
    val bin = binaryTopics(logs).persist()
    val senders = txs.map(t => LogPipeline.senders(t).persist())
    try sinkPairs(bin, job, chainId, senders, emitUnknown, outDir,
      segment.fold("")(s => s"/segment=$s"))
    finally { bin.unpersist(true); senders.foreach(_.unpersist(true)) }
  }

  /** Decodes and sinks every configured (contract, event) pair of
    * `bin` — the binary-topic log frame [[run]] and [[runStream]] both
    * hand in, persisted by the caller — plus, with `emitUnknown`, each
    * contract's `_unknown` rows. Each sink is one overwrite of
    * `<outDir>/contract_name=…/event_name=…<suffix>`: idempotent under
    * retry — a half-visible failed attempt is replaced, not appended to
    * (the partition identity lives in the path, so the path-encoded
    * columns are dropped). The sinks run concurrently ([[settleAll]]);
    * the counts come back in pair order, `_unknown` last. */
  private def sinkPairs(bin: DataFrame, job: Config.Job, chainId: String,
                        senders: Option[DataFrame], emitUnknown: Boolean,
                        outDir: String, suffix: String): Seq[EventCount] = {
    def sink(contract: String, event: String, rows: DataFrame): () => EventCount =
      () => EventCount(contract, event,
        Sinks.withRetries(job.retry.attempts, job.retry.delayMs) {
          LogPipeline.observed(rows.drop("contract_name", "event_name"),
              s"$contract.$event") {
            _.write.mode("overwrite").option("header", "true")
              .csv(s"$outDir/contract_name=$contract/event_name=$event$suffix")
          }._2("events").asInstanceOf[Long]
        })
    def at(c: Config.Contract) = bin.filter(col("address") === c.address)
    val decoded = pairs(job).map { case (c, ev) =>
      val plain = LogPipeline.decodeEvent(at(c), ev, c.name, chainId)
      sink(c.name, ev.name, senders.fold(plain)(LogPipeline.joinSenders(plain, _)))
    }
    val unknown = if (!emitUnknown) Seq.empty else job.contracts.map { c =>
      sink(c.name, "_unknown", LogPipeline
        .decodeUnknown(at(c), c.parsedAbi.map(_.topic0), chainId)
        .withColumn("raw_params", expr(
          """array_join(transform(array_sort(map_keys(raw_params)),
               k -> concat(k, '=', raw_params[k])), '&')""")))
    }
    settleAll(bin.sparkSession, decoded ++ unknown)
  }

  /** Runs `tasks` concurrently and returns their results in order once
    * EVERY task has settled. A failure is thrown only then, so no write
    * is still running when the caller unpersists what the tasks read:
    * the first failed task's error, carrying the later ones as
    * suppressed. One future per task on a pool created for this call
    * and bounded by the session's default parallelism. Each future
    * carries the calling thread's active session and Spark local
    * properties (job group, scheduler pool, job tags), so cancelling
    * the caller's job group reaches every task's jobs. */
  private def settleAll[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    val settled = try {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      tasks.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(t()))
        .map(f => Try(f.join()).recoverWith {
          case e: CompletionException => Failure(e.getCause)
        })
    } finally pool.shutdown()
    settled.collect { case Failure(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => settled.map(_.get)
    }
  }

  /** Streaming indexer: the same config-driven decode fan-out over the
    * source's chain-tip-following mode. Each micro-batch is converted
    * to binary words and cached once, then goes through [[sinkPairs]]
    * — the batch indexer's decode and write — landing under
    * `<outDir>/contract_name=…/event_name=…/batch=<id>` with OVERWRITE
    * mode: a replayed batch rewrites exactly its own directories, so
    * the sink is idempotent (exactly-once end to end with the
    * checkpointed offsets); a plain append would duplicate rows on
    * replay. Readers scan `outDir` with a basePath; the partition
    * values come from the directory names. Returns the running query —
    * caller owns its lifecycle. */
  def runStream(spark: SparkSession, job: Config.Job, dumpPath: String,
                outDir: String, checkpointDir: String, chainId: String = "1",
                maxBlocksPerTrigger: Long = 1000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val logs = spark.readStream.format("graft.evm.LogSourceProvider")
      .option("path", dumpPath)
      .option("startBlock", job.startBlock)
      .option("chunkSize", job.chunkSize)
      .option("maxBlocksPerTrigger", maxBlocksPerTrigger)
      .load()
    logs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bin = binaryTopics(batch).cache()
        try sinkPairs(bin, job, chainId, None, emitUnknown = false, outDir,
          s"/batch=$batchId")
        finally bin.unpersist(false)
        ()
      }
      .start()
  }
}

/** Block-range resume checkpoint — the `.progress.json` the reference's
  * README promises (`/root/reference/README.md:60,178`) but never
  * implements: a one-line JSON file recording the last fully-indexed
  * block. `IndexerMain --progress=<file>` reads it to start the scan at
  * `last_block + 1` and rewrites it after the run's sinks all land, so
  * a crashed or interrupted backfill re-runs only the unfinished tail.
  * The write is atomic (temp file + move): a crash mid-write leaves the
  * previous checkpoint intact, and re-indexing an already-flushed
  * segment is harmless because segments overwrite their own directory.
  */
object Progress {
  def read(path: java.nio.file.Path): Option[Long] =
    if (!java.nio.file.Files.exists(path)) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(path))
      val v = n.path("last_block")
      if (v.isMissingNode || v.isNull) None else Some(v.asLong())
    }

  def write(path: java.nio.file.Path, lastBlock: Long): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, s"""{"last_block":$lastBlock}""")
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
