package graft

import graft.api.Config
import graft.evm.LogPipeline
import org.apache.spark.sql.functions._

class ConfigSpec extends SparkSpec {
  private val transferAbi =
    """[{"type":"event","name":"Transfer","inputs":[
        {"indexed":true,"name":"from","type":"address"},
        {"indexed":true,"name":"to","type":"address"},
        {"indexed":false,"name":"value","type":"uint256"}]}]"""

  private val yaml =
    """rpc_url: "http://localhost:8545"
      |start_block: 100
      |contracts:
      |  - name: "USDC"
      |    address: "0xA0b86991c6218b36c1d19D4a2e9Eb0cE3606eB48"
      |    abi: "./abi/token.json"
      |    events: ["Transfer", "NoSuchEvent"]
      |storage:
      |  type: "csv"
      |  csv:
      |    output_dir: "/tmp/out"
      |""".stripMargin

  test("config load: defaults, eager ABI parse, topic0 set, unknown-event skip (C5)") {
    val job = Config.load(yaml, _ => transferAbi)
    assert(job.startBlock == 100 && job.chunkSize == 1000) // default chunk
    assert(job.retry.attempts == 3 && job.retry.delayMs == 1500) // defaults
    assert(job.workers > 0)
    assert(job.contracts.head.address == "0xa0b86991c6218b36c1d19d4a2e9eb0ce3606eb48")
    // unknown event name skipped; Transfer resolves to the canonical topic0
    assert(job.contracts.head.topic0s ==
      Seq("0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"))
    assert(job.csvOutputDir.contains("/tmp/out"))
  }

  test("config validation: missing rpc_url / contracts rejected") {
    intercept[IllegalArgumentException] {
      Config.load("start_block: 1\ncontracts:\n  - name: x\n    abi: a\n", _ => transferAbi)
    }
    intercept[IllegalArgumentException] {
      Config.load("rpc_url: x\n", _ => transferAbi)
    }
  }

  test("chunk progress metrics via Observation (C6)") {
    // dedicated session, so the serializability check below sees only
    // what `observed` did to it
    val s2 = spark.newSession()
    val logs = LogPipeline.synthesizeLogs(Tables.events(s2, "/root/testdata/sf0.001"))
    val (_, m) = LogPipeline.observed(logs, "chunk")(
      _.write.mode("overwrite").format("noop").save())
    assert(m("events") == 1000L)
    assert(m("from_block") == 0L && m("to_block") == 99L)
    // a sql.Observation would leave the session unserializable (its
    // ObservationManager), failing every later task that captures it,
    // such as a fitted Spark ML model with its training summary
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(s2)
  }
}
