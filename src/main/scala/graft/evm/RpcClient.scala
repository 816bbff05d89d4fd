package graft.evm

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import graft.sources.Sinks
import scala.util.control.NonFatal

/** Serializable connection settings for the live JSON-RPC path — the
  * analogue of the reference's `config.RetryConfig` + URL pair
  * (`internal/rpc/client.go:26-32`; defaults 3 attempts × 1500 ms, as
  * `Config.Retry`). Carried inside `InputPartition`s, so it must hold
  * only plain data; the actual `HttpClient` is built per-reader on the
  * executor. */
case class RpcConfig(url: String, attempts: Int = 3, delayMs: Long = 1500L)
    extends Serializable {
  require(attempts >= 1, "rpc: attempts must be >= 1")
}

/** One decoded `eth_getLogs` entry in the source's row shape (topics
  * split out; hex quantities already parsed). `logIndex`/`blockHash`
  * carry the node's position-in-block and containing-block identity —
  * the retraction key the reorg-aware stream needs; -1/null when the
  * node omits them. */
case class RpcLog(blockNumber: Long, txHash: String, address: String,
                  topic0: String, topic1: String, topic2: String,
                  topic3: String, data: String,
                  logIndex: Long = -1L, blockHash: String = null)

/** Minimal Ethereum JSON-RPC client over HTTP — the live seam behind
  * `RpcPartitionReader` (SURVEY.md §2.1 S3). Mirrors the reference's
  * retry-wrapped surface (`internal/rpc/client.go`): `eth_blockNumber`
  * (`:153-177`), `eth_getLogs` (`:94-118`), `eth_getBlockByNumber`
  * header probe (`:124-148`), each retried `attempts` times with a
  * fixed `delayMs` pause between attempts and the last error rethrown.
  *
  * Zero-dependency by design: JDK `HttpClient` + the Jackson that
  * Spark already ships. Each Spark task owns one client instance, so
  * no synchronization is needed; a 1000-executor cluster fans out as
  * one in-flight request per running task, which is exactly the
  * reference's worker-pool shape (C4).
  */
class RpcClient(cfg: RpcConfig) {
  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()
  private val mapper = new ObjectMapper()

  /** [[Sinks.withRetries]]: no sleep after the final attempt
    * (client.go:47-54), and an interrupt (a cancelled task) ends the
    * call at once instead of being retried. */
  private def withRetries[T](what: String)(f: => T): T =
    try Sinks.withRetries(cfg.attempts, cfg.delayMs)(f)
    catch {
      case NonFatal(e) if !Sinks.cancelled(e) => throw new java.io.IOException(
        s"rpc: $what failed after ${cfg.attempts} attempts", e)
    }

  /** POST one JSON-RPC 2.0 call; non-200 and `error` responses are
    * failures (and thus retried by the caller wrapper). */
  private def call(method: String, params: JsonNode): JsonNode = {
    val body = mapper.createObjectNode()
    body.put("jsonrpc", "2.0")
    body.put("id", 1)
    body.put("method", method)
    body.set[JsonNode]("params", params)
    val req = HttpRequest.newBuilder(URI.create(cfg.url))
      .header("Content-Type", "application/json")
      .timeout(Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"rpc: HTTP ${resp.statusCode()} from $method")
    val root = mapper.readTree(resp.body())
    val err = root.path("error")
    if (!err.isMissingNode && !err.isNull)
      throw new java.io.IOException(
        s"rpc: $method error ${err.path("code").asInt()}: " +
          err.path("message").asText())
    root.path("result")
  }

  private def hexQty(n: JsonNode): Long = {
    val s = n.asText("")
    if (s.startsWith("0x") || s.startsWith("0X"))
      java.lang.Long.parseLong(s.drop(2), 16)
    else s.toLong
  }
  private def toHex(v: Long): String = "0x" + java.lang.Long.toHexString(v)

  /** S2 live: `eth_blockNumber` → latest height. */
  def blockNumber(): Long = withRetries("eth_blockNumber") {
    hexQty(call("eth_blockNumber", mapper.createArrayNode()))
  }

  /** J1 live: header-only probe for a block's timestamp (seconds) —
    * `eth_getBlockByNumber(n, false)`, the cheap path the reference
    * uses when only metadata is needed (client.go:120-148). */
  def headerTimestamp(block: Long): Long = withRetries("eth_getBlockByNumber") {
    val params = mapper.createArrayNode()
    params.add(toHex(block))
    params.add(false) // header only — no transaction bodies
    val res = call("eth_getBlockByNumber", params)
    if (res.isNull || res.isMissingNode)
      throw new java.io.IOException(s"rpc: no block $block")
    hexQty(res.path("timestamp"))
  }

  /** Header-only probe for a block's HASH — the reorg detector's
    * primitive: a canonical-chain block keeps its hash forever, so a
    * changed hash at a watched height is exactly "this block was
    * replaced". None past the tip. */
  def headerHash(block: Long): Option[String] = withRetries("eth_getBlockByNumber") {
    val params = mapper.createArrayNode()
    params.add(toHex(block))
    params.add(false)
    val res = call("eth_getBlockByNumber", params)
    if (res == null || res.isNull || res.isMissingNode) None
    else Option(res.path("hash").asText(null))
  }

  private def hexBig(n: JsonNode): java.math.BigInteger = {
    val s = n.asText("0x0")
    val t = if (s.startsWith("0x") || s.startsWith("0X")) s.drop(2) else s
    if (t.isEmpty) java.math.BigInteger.ZERO else new java.math.BigInteger(t, 16)
  }
  private def hexBytes(n: JsonNode): Array[Byte] = {
    if (n.isMissingNode || n.isNull) return Array.empty
    val s = n.asText("")
    val t = if (s.startsWith("0x") || s.startsWith("0X")) s.drop(2) else s
    if (t.isEmpty) Array.empty
    else t.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** J2 live: `eth_getTransactionByHash` → the signature-relevant
    * fields (`internal/parser/parser.go:153` fetches the full tx for
    * exactly this). None for an unknown hash. */
  def getTransaction(txHash: String): Option[TxSender.Tx] =
    withRetries("eth_getTransactionByHash") {
      val params = mapper.createArrayNode()
      params.add(txHash)
      val res = call("eth_getTransactionByHash", params)
      if (res == null || res.isNull || res.isMissingNode) None
      else Some(TxSender.Tx(
        nonce = hexBig(res.path("nonce")),
        gasPrice = hexBig(res.path("gasPrice")),
        gas = hexBig(res.path("gas")),
        to = hexBytes(res.path("to")),
        value = hexBig(res.path("value")),
        input = hexBytes(res.path("input")),
        v = hexBig(res.path("v")),
        r = hexBig(res.path("r")),
        s = hexBig(res.path("s"))))
    }

  /** S1/P1 live: one `eth_getLogs(fromBlock, toBlock, {address,
    * topics})` window. The pushed address/topic0 predicates travel in
    * the filter object — the node evaluates them, exactly the
    * reference's `FilterQuery` (client.go:93-118) — so an unpushed
    * scan and a pushed scan differ in bytes-on-the-wire, not plan
    * shape. Topic positions beyond 0 are unconstrained (`topics`
    * carries a single position-0 OR-set, as the reference's
    * `[][]common.Hash{{topic0s...}}`). */
  def getLogs(fromBlock: Long, toBlock: Long,
              addresses: Option[Set[String]],
              topic0s: Option[Set[String]]): Seq[RpcLog] =
    withRetries(s"eth_getLogs[$fromBlock,$toBlock]") {
      val filter = mapper.createObjectNode()
      filter.put("fromBlock", toHex(fromBlock))
      filter.put("toBlock", toHex(toBlock))
      addresses.foreach { as =>
        val arr = mapper.createArrayNode()
        as.toSeq.sorted.foreach(arr.add)
        filter.set[JsonNode]("address", arr)
      }
      topic0s.foreach { ts =>
        val pos0 = mapper.createArrayNode()
        ts.toSeq.sorted.foreach(pos0.add)
        val topics = mapper.createArrayNode()
        topics.add(pos0)
        filter.set[JsonNode]("topics", topics)
      }
      val params = mapper.createArrayNode()
      params.add(filter)
      val res = call("eth_getLogs", params)
      if (!res.isArray)
        throw new java.io.IOException("rpc: eth_getLogs returned non-array")
      val out = Seq.newBuilder[RpcLog]
      res.forEach { e =>
        def topic(i: Int): String = {
          val t = e.path("topics").path(i)
          if (t.isMissingNode || t.isNull) null else t.asText()
        }
        def str(f: String): String = {
          val v = e.path(f)
          if (v.isMissingNode || v.isNull) null else v.asText()
        }
        val li = e.path("logIndex")
        out += RpcLog(hexQty(e.path("blockNumber")),
          str("transactionHash"), str("address"),
          topic(0), topic(1), topic(2), topic(3), str("data"),
          if (li.isMissingNode || li.isNull) -1L else hexQty(li),
          str("blockHash"))
      }
      out.result()
    }
}
