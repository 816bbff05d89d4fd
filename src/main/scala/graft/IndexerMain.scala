package graft

import graft.api.Config
import graft.evm.{Indexer, LogEndpoint, Progress}
import java.nio.file.{Files, Path, Paths}

/** The reference's CLI entry point (`cmd/indexer.go:19-74`):
  * `--config=config.yaml` → load + validate → connect source → run the
  * indexer → per-event counts. ABI paths in the config resolve relative
  * to the config file, like the reference's working-directory loads.
  * `rpc_url` doubles as the source selector ([[LogEndpoint]]: an
  * `http(s)://` value goes live over JSON-RPC, a filesystem path
  * replays dumps); `--end-block=N` bounds the scan, default = the
  * endpoint's tip (`eth_blockNumber` live, the indexed max dump height
  * offline).
  *
  * Ctrl-C lands in a JVM shutdown hook that cancels all running Spark
  * jobs before the driver exits — the reference's signal → context
  * cancellation (`indexer.go:33-41`); Spark tasks are interrupted
  * cooperatively, the same semantics `JobRegistry.cancel` uses.
  */
object IndexerMain {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(
      Runtime.getRuntime.availableProcessors().toString)
    val hook = new Thread(() => {
      // graceful Ctrl-C: stop scheduling, interrupt running stages
      spark.sparkContext.cancelAllJobs()
    })
    Runtime.getRuntime.addShutdownHook(hook)
    try {
      run(spark, args).foreach { c =>
        // the reference's `[OK] … Events: n` progress lines (C6)
        println(s"[OK] ${c.contract}.${c.event} | Events: ${c.rows}")
      }
    } finally {
      Runtime.getRuntime.removeShutdownHook(hook)
      spark.stop()
    }
  }

  /** Argument parsing + config load + run, separated from `main` so
    * specs can drive it on a shared session. */
  def run(spark: org.apache.spark.sql.SparkSession,
          args: Array[String]): Seq[Indexer.EventCount] = {
    val configPath = flag(args, "config").getOrElse("config.yaml")
    val yaml = Files.readString(Paths.get(configPath))
    val configDir = Option(Paths.get(configPath).getParent)
      .getOrElse(Paths.get("."))
    val job = Config.load(yaml,
      abiPath => Files.readString(resolve(configDir, abiPath)))
    val endBlock = flag(args, "end-block").map(_.toLong)
      .getOrElse(LogEndpoint(job.rpcUrl, job.retry).tip())
    val outDir = job.csvOutputDir.getOrElse(
      throw new IllegalArgumentException(
        s"unsupported storage type: ${job.storageType} (csv output_dir required)"))
    // --progress=<file>: block-range resume (the reference's promised
    // `.progress.json`). The scan starts after the recorded last block;
    // output segments by block range so continuations append new
    // segment dirs while retries overwrite their own; the checkpoint
    // is rewritten only after every sink landed.
    val progress = flag(args, "progress").map(Paths.get(_))
    val effStart = progress.flatMap(Progress.read)
      .map(_ + 1).filter(_ > job.startBlock).getOrElse(job.startBlock)
    if (effStart > endBlock) return Seq.empty // already caught up
    val counts = Indexer.run(spark, job.copy(startBlock = effStart),
      job.rpcUrl, endBlock, outDir,
      segment = progress.map(_ => s"$effStart-$endBlock"))
    progress.foreach(p => Progress.write(p, endBlock))
    counts
  }

  private def flag(args: Array[String], name: String): Option[String] = {
    val eq = s"--$name="
    args.collectFirst { case a if a.startsWith(eq) => a.drop(eq.length) }
      .orElse(args.sliding(2).collectFirst {
        case Array(f, v) if f == s"--$name" => v
      })
  }

  private def resolve(dir: Path, p: String): Path = {
    val path = Paths.get(p)
    if (path.isAbsolute) path else dir.resolve(path)
  }
}
