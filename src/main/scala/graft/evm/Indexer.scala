package graft.evm

import graft.api.Config
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's CLI entry point end-to-end (SURVEY.md §3.1:
  * `go run cmd/indexer.go --config=config.yaml`), composed from the
  * library pieces: validated config → `evm-logs` scan with address +
  * topic0 predicates pushed into the source (P1; the per-contract
  * filter is in the plan, so Catalyst ANDs it into the pushed scan) →
  * per-(contract, event) ABI decode projection (P3–P6) → partitioned
  * CSV sink `<outDir>/contract_name=…/event_name=…` (S4, the stable-
  * schema replacement for the reference's first-row-inferred headers) →
  * retry decorator around the write (S6).
  *
  * Contracts with an empty event filter index every ABI event (the
  * address-only fallback, P2, `indexer.go:211-222`); unknown event
  * names in the filter are skipped with a warn, `indexer.go:70-77`.
  * Returns the per-event row counts — the `[OK] … Events: n` progress
  * surface (C6). The scan replays dumps; a live build swaps the
  * source's reader for RPC fetches and nothing here changes.
  */
object Indexer {

  final case class EventCount(contract: String, event: String, rows: Long)

  /** Hex-string topics/data from the dump → binary words for decode. */
  private def binaryTopics(logs: DataFrame): DataFrame =
    logs.withColumn("topic1", unhex(col("topic1")))
      .withColumn("topic2", unhex(col("topic2")))
      .withColumn("topic3", unhex(col("topic3")))
      .withColumn("data", unhex(col("data")))

  /** An `http(s)://` source is a live JSON-RPC endpoint (one
    * eth_getLogs per chunk, retry per job config); anything else is a
    * dump directory to replay. The scan/pushdown plan is identical. */
  private def sourceOptions(r: org.apache.spark.sql.DataFrameReader,
                            source: String, job: Config.Job) =
    if (source.startsWith("http://") || source.startsWith("https://"))
      r.option("url", source)
        .option("rpcAttempts", job.retry.attempts)
        .option("rpcDelayMs", job.retry.delayMs)
    else r.option("path", source)

  /** `txs`: optional transaction-signature dimension (`tx_hash`,
    * `msg_hash`, `sig_r`, `sig_s`, `rec_id`). When present, every
    * decoded row is stamped with the recovered `tx_from` — the
    * reference's per-event sender enrichment (parser.go:152-159) in
    * the distinct-tx → recover → broadcast-join form (J2). The sender
    * dimension is recovered once per run: it is persisted for the
    * (contract, event) loop, every pair joins against it, and it is
    * unpersisted when the loop ends. */
  /** `segment`: when set (the resume path, see [[Progress]]), each
    * (contract, event) lands under an additional
    * `segment=<tag>` directory — a continuation run appends new
    * BLOCK RANGES as new segment dirs while retries within one run
    * still overwrite exactly their own segment, so both resume and
    * retry stay idempotent (the `batch=<id>` trick [[runStream]]
    * already uses, applied to batch re-runs). Readers glob `outDir`
    * with a basePath and see the union. */
  /** `emitUnknown`: when set, logs on a CONFIGURED address whose
    * topic0 matches none of that contract's ABI events land under
    * `event_name=_unknown` as metadata + a sorted key=value rendering
    * of the raw_params map ([[LogPipeline.decodeUnknown]]) — the
    * reference's minimal-event path (parser.go:54-61), where the
    * default plan-time dispatch would drop them. */
  def run(spark: SparkSession, job: Config.Job, source: String,
          endBlock: Long, outDir: String, chainId: String = "1",
          txs: Option[DataFrame] = None,
          segment: Option[String] = None,
          emitUnknown: Boolean = false): Seq[EventCount] = {
    val logs = sourceOptions(
        spark.read.format("graft.evm.LogSourceProvider"), source, job)
      .option("startBlock", job.startBlock)
      .option("endBlock", endBlock)
      .option("chunkSize", job.chunkSize)
      .load()
    val unknownCounts =
      if (!emitUnknown) Seq.empty
      else job.contracts.map { c =>
        val known = c.parsedAbi.map(_.topic0)
        val scoped = logs.filter(col("address") === c.address &&
          !col("topic0").isin(known: _*))
        val unk = LogPipeline
          .decodeUnknown(binaryTopics(scoped), known, chainId)
          .withColumn("raw_params", expr(
            """array_join(transform(array_sort(map_keys(raw_params)),
                 k -> concat(k, '=', raw_params[k])), '&')"""))
          .drop("contract_name", "event_name") // encoded in the path
          .cache()
        val n = unk.count()
        Sinks.withRetries(job.retry.attempts, job.retry.delayMs) {
          val seg = segment.fold("")(s => s"/segment=$s")
          unk.write.mode("overwrite").option("header", "true")
            .csv(s"$outDir/contract_name=${c.name}/event_name=_unknown$seg")
        }
        unk.unpersist(false)
        EventCount(c.name, "_unknown", n)
      }
    val senders = txs.map(t => LogPipeline.senders(t).persist())
    try (for {
      c <- job.contracts
      ev <- c.parsedAbi
      if c.events.isEmpty || c.events.contains(ev.name)
    } yield {
      // bare-column equality so BOTH predicates convert to V2 Filters
      // and push into the source (wrapping address in lower() would
      // silently keep it post-scan); dumps carry lowercase addresses,
      // the same normalization Config applies to the configured side
      val scoped = logs.filter(col("address") === c.address &&
        col("topic0") === ev.topic0)
      val plain = LogPipeline.decodeEvent(binaryTopics(scoped), ev, c.name, chainId)
      val decoded = senders.fold(plain)(LogPipeline.joinSenders(plain, _))
        .cache()
      val n = decoded.count()
      Sinks.withRetries(job.retry.attempts, job.retry.delayMs) {
        // one overwrite per (contract, event) directory: idempotent
        // under retry — a half-visible failed attempt is replaced, not
        // appended to (the partition identity lives in the path)
        val seg = segment.fold("")(s => s"/segment=$s")
        decoded.drop("contract_name", "event_name")
          .write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/contract_name=${c.name}/event_name=${ev.name}$seg")
      }
      decoded.unpersist(false)
      EventCount(c.name, ev.name, n)
    }) ++ unknownCounts
    finally senders.foreach(_.unpersist(false))
  }

  /** Streaming indexer: the same config-driven decode fan-out over the
    * source's chain-tip-following mode. Each micro-batch decodes every
    * configured (contract, event) and lands under
    * `<outDir>/contract_name=…/event_name=…/batch=<id>` with OVERWRITE
    * mode — a replayed batch rewrites exactly its own directories, so
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
        try {
          for {
            c <- job.contracts
            ev <- c.parsedAbi
            if c.events.isEmpty || c.events.contains(ev.name)
          } {
            val scoped = bin.filter(col("address") === c.address &&
              col("topic0") === ev.topic0)
            val decoded = LogPipeline.decodeEvent(scoped, ev, c.name, chainId)
              .drop("contract_name", "event_name") // encoded in the path
            Sinks.withRetries(job.retry.attempts, job.retry.delayMs) {
              decoded.write.mode("overwrite").option("header", "true")
                .csv(s"$outDir/contract_name=${c.name}/event_name=${ev.name}" +
                  s"/batch=$batchId")
            }
          }
        } finally bin.unpersist(false)
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
