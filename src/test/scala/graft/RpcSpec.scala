package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.evm.{Keccak, LogPipeline, RpcClient, RpcConfig}
import org.apache.spark.sql.functions._
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** S3: the live `eth_getLogs` seam, driven end-to-end against an
  * in-process stub JSON-RPC node (zero egress). Mirrors the surface of
  * `/root/reference/internal/rpc/client.go`: eth_blockNumber (:153),
  * eth_getLogs with the filter object (:93), eth_getBlockByNumber
  * header probe (:124), and N-attempt fixed-delay retry (:100-115). */
class RpcSpec extends SparkSpec {

  /** One synthesized log in the stub node's book. */
  private case class Entry(block: Long, txHash: String, address: String,
                           topics: Seq[String], data: String)

  /** Minimal JSON-RPC node over `com.sun.net.httpserver`: serves a
    * fixed log book, records every received request (so specs can
    * assert what the pushdown actually sent), and can fail the first N
    * requests with HTTP 500 to exercise the retry loop. */
  private class StubNode(book: Seq[Entry],
                         txBook: Map[String, String] = Map.empty) {
    private val mapper = new ObjectMapper()
    val received = mutable.ArrayBuffer.empty[JsonNode] // sync'd below
    val failFirst = new AtomicInteger(0)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    server.createContext("/", (ex: HttpExchange) => {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      received.synchronized { received += req }
      if (failFirst.getAndDecrement() > 0) {
        ex.sendResponseHeaders(500, -1); ex.close()
      } else {
        val resp = mapper.createObjectNode()
        resp.put("jsonrpc", "2.0")
        resp.put("id", req.path("id").asInt())
        req.path("method").asText() match {
          case "eth_blockNumber" =>
            resp.put("result", "0x" + book.map(_.block).max.toHexString)
          case "eth_getBlockByNumber" =>
            val n = java.lang.Long.parseLong(
              req.path("params").path(0).asText().drop(2), 16)
            val blk = mapper.createObjectNode()
            blk.put("number", "0x" + n.toHexString)
            blk.put("timestamp", "0x" + (1600000000L + n * 12).toHexString)
            resp.set[JsonNode]("result", blk)
          case "eth_getLogs" =>
            val f = req.path("params").path(0)
            def hex(p: String): Long =
              java.lang.Long.parseLong(f.path(p).asText().drop(2), 16)
            val lo = hex("fromBlock"); val hi = hex("toBlock")
            def textSet(n: JsonNode): Set[String] = {
              val b = Set.newBuilder[String]
              n.forEach(e => b += e.asText())
              b.result()
            }
            val addrs: Option[Set[String]] =
              if (f.has("address")) Some(textSet(f.path("address"))) else None
            val t0s: Option[Set[String]] =
              if (f.has("topics")) Some(textSet(f.path("topics").path(0)))
              else None
            val arr = mapper.createArrayNode()
            book.filter(e => e.block >= lo && e.block <= hi
                && addrs.forall(_.contains(e.address))
                && t0s.forall(s => e.topics.nonEmpty && s.contains(e.topics.head)))
              .foreach { e =>
                val o = mapper.createObjectNode()
                o.put("blockNumber", "0x" + e.block.toHexString)
                o.put("transactionHash", e.txHash)
                o.put("address", e.address)
                val ts = mapper.createArrayNode()
                e.topics.foreach(ts.add)
                o.set[JsonNode]("topics", ts)
                o.put("data", e.data)
                arr.add(o)
              }
            resp.set[JsonNode]("result", arr)
          case "eth_getTransactionByHash" =>
            val h = req.path("params").path(0).asText()
            txBook.get(h) match {
              case Some(txJson) => resp.set[JsonNode]("result", mapper.readTree(txJson))
              case None => resp.putNull("result") // unknown tx → null result
            }
          case m =>
            val err = mapper.createObjectNode()
            err.put("code", -32601); err.put("message", s"unknown method $m")
            resp.set[JsonNode]("error", err)
        }
        val bytes = mapper.writeValueAsBytes(resp)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
    def logsRequests: Seq[JsonNode] = received.synchronized {
      received.filter(_.path("method").asText() == "eth_getLogs").toSeq
    }
  }

  /** The same synthesized book the dump-replay specs use, collected
    * onto the driver for the stub node to serve. */
  private lazy val book: Seq[Entry] =
    LogPipeline.synthesizeLogs(Tables.events(spark, "/root/testdata/sf0.001"))
      .select(col("block_number"), col("tx_hash"), col("address"), col("topic0"),
        lower(hex(col("topic1"))).as("topic1"), lower(hex(col("topic2"))).as("topic2"),
        lower(hex(col("data"))).as("data"))
      .collect().toSeq
      .map(r => Entry(r.getLong(0), r.getString(1), r.getString(2),
        Seq(r.getString(3), r.getString(4), r.getString(5)), r.getString(6)))

  private def withNode[T](f: StubNode => T): T = {
    val node = new StubNode(book)
    try f(node) finally node.stop()
  }

  private def readRpc(node: StubNode, extra: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft.evm.LogSourceProvider")
      .option("url", node.url).option("rpcDelayMs", "0")
      .option("startBlock", 0).option("chunkSize", 10)
    extra.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
  }

  test("RpcClient: blockNumber / headerTimestamp / getLogs round-trip") {
    withNode { node =>
      val cli = new RpcClient(RpcConfig(node.url, attempts = 1, delayMs = 0))
      assert(cli.blockNumber() == 99L)
      assert(cli.headerTimestamp(10L) == 1600000000L + 120)
      val logs = cli.getLogs(0, 9, None, None)
      assert(logs.nonEmpty && logs.forall(l => l.blockNumber <= 9))
      assert(logs.map(_.txHash).toSet ==
        book.filter(_.block <= 9).map(_.txHash).toSet)
    }
  }

  test("retry: N×delay attempts recover from transient 500s, then give up") {
    withNode { node =>
      node.failFirst.set(2)
      val cli = new RpcClient(RpcConfig(node.url, attempts = 3, delayMs = 0))
      assert(cli.blockNumber() == 99L) // 2 failures + 1 success
      node.failFirst.set(3)
      val once = new RpcClient(RpcConfig(node.url, attempts = 3, delayMs = 0))
      val e = intercept[java.io.IOException](once.blockNumber())
      assert(e.getMessage.contains("after 3 attempts"))
    }
  }

  test("retry: an interrupted call ends within one delay, after one request") {
    // a node slower than the interrupt: the caller is blocked inside
    // the HTTP send when it is interrupted, as a cancelled task is
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      hits.incrementAndGet()
      try Thread.sleep(2000) catch { case _: InterruptedException => }
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    val delayMs = 1000L
    val cli = new RpcClient(RpcConfig(
      s"http://127.0.0.1:${server.getAddress.getPort}/", attempts = 3, delayMs))
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val caller = new Thread(() =>
      try cli.blockNumber() catch { case e: Throwable => thrown.set(e) })
    try {
      caller.start()
      val deadline = System.currentTimeMillis() + 10000
      while (hits.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
      val t0 = System.nanoTime()
      caller.interrupt()
      caller.join(30000)
      val tookMs = (System.nanoTime() - t0) / 1000000
      assert(!caller.isAlive && thrown.get() != null)
      assert(tookMs < delayMs, s"the interrupted call ended after $tookMs ms")
      Thread.sleep(delayMs + 200) // a retry, had there been one, lands here
      assert(hits.get() == 1, s"the node saw ${hits.get()} requests")
    } finally server.stop(0)
  }

  test("DSv2 RPC read matches the dump replay row-for-row (S3)") {
    withNode { node =>
      val rpc = readRpc(node, Map("endBlock" -> "99"))
      assert(rpc.rdd.getNumPartitions == 10) // same chunking as dumps
      val got = rpc.collect().map(_.toSeq).toSet
      // expected: the book, in source-schema shape (topic3 absent)
      val want = book.map(e => Seq[Any](e.block, e.txHash, e.address,
        e.topics(0), e.topics(1), e.topics(2), null, e.data)).toSet
      assert(got == want)
    }
  }

  test("pushed address/topic0 predicates travel inside eth_getLogs (P1)") {
    withNode { node =>
      val t0 = Keccak.eventTopic0(LogPipeline.TransferSig)
      val n = readRpc(node, Map("endBlock" -> "99"))
        .filter(col("topic0") === t0 && col("address") === "0x" + "0" * 40)
        .count()
      val expected = book.count(e =>
        e.topics.head == t0 && e.address == "0x" + "0" * 40)
      assert(n == expected && n > 0)
      val reqs = node.logsRequests
      assert(reqs.nonEmpty)
      assert(reqs.forall { r =>
        val f = r.path("params").path(0)
        f.path("topics").path(0).path(0).asText() == t0 &&
          f.path("address").path(0).asText() == "0x" + "0" * 40
      }, "every eth_getLogs call must carry the pushed filter")
    }
  }

  test("live tx_from: getTransactionByHash → RLP sighash → recover (J2 live)") {
    import graft.evm.{Secp256k1, TxSender}
    import java.math.BigInteger
    val chainId = BigInteger.ONE
    val hashes = book.map(_.txHash).distinct.take(10)
    def privOf(i: Int) = BigInteger.valueOf(i % 5 + 1L)
    val txBook = hashes.zipWithIndex.map { case (h, i) =>
      val tx0 = TxSender.Tx(
        nonce = BigInteger.valueOf(i.toLong),
        gasPrice = BigInteger.valueOf(1000000000L),
        gas = BigInteger.valueOf(21000),
        to = ("35" * 20).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
        value = BigInteger.valueOf(1000L + i), input = Array.empty,
        v = BigInteger.ZERO, r = BigInteger.ZERO, s = BigInteger.ZERO)
      val (r, s, recId) = Secp256k1.sign(TxSender.sighash(tx0, Some(chainId)),
        privOf(i), BigInteger.valueOf(777001L + i))
      val v = chainId.multiply(BigInteger.TWO).add(BigInteger.valueOf(35L + recId))
      h -> s"""{"hash":"$h","nonce":"0x${tx0.nonce.toString(16)}",
               "gasPrice":"0x${tx0.gasPrice.toString(16)}","gas":"0x5208",
               "to":"0x${"35" * 20}","value":"0x${tx0.value.toString(16)}",
               "input":"0x","v":"0x${v.toString(16)}",
               "r":"0x${r.toString(16)}","s":"0x${s.toString(16)}"}"""
    }.toMap
    val expected = hashes.zipWithIndex.map { case (h, i) =>
      h -> Secp256k1.address(Secp256k1.mul(privOf(i), Secp256k1.G).get)
    }.toMap
    val node = new StubNode(book, txBook)
    try {
      import org.apache.spark.sql.functions.col
      val in = spark.createDataFrame(
        (hashes :+ "0xmissing").map(Tuple1(_))).toDF("tx_hash")
      val got = graft.evm.LogPipeline.rpcTxSenders(in,
          RpcConfig(node.url, delayMs = 0))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.size == hashes.size + 1)
      hashes.foreach(h => assert(got(h) == expected(h), s"tx $h"))
      assert(got("0xmissing") == null) // unknown tx → null, best-effort
      // and the join-back stamps rows (null where the node has no tx)
      val rows = spark.createDataFrame(
        hashes.map(h => (h, 1)) :+ (("0xmissing", 2))).toDF("tx_hash", "x")
      val stamped = graft.evm.LogPipeline.attachTxFromRpc(rows,
        RpcConfig(node.url, delayMs = 0))
      assert(stamped.filter(col("tx_from").isNotNull).count() == hashes.size)
    } finally node.stop()
  }

  test("streaming over RPC: tip via eth_blockNumber, windows via eth_getLogs") {
    withNode { node =>
      val stream = spark.readStream.format("graft.evm.LogSourceProvider")
        .option("url", node.url).option("rpcDelayMs", "0")
        .option("startBlock", 0).option("chunkSize", 10)
        .option("maxBlocksPerTrigger", 40).load()
      val query = stream.writeStream.format("memory")
        .queryName("rpc_tip_follow").outputMode("append").start()
      try {
        query.processAllAvailable()
        val got = spark.table("rpc_tip_follow")
        assert(got.count() == book.size)
        assert(got.agg(org.apache.spark.sql.functions.max("block_number"))
          .head().getLong(0) == 99L)
        // the stream really planned ranged eth_getLogs windows
        val reqs = node.logsRequests
        assert(reqs.nonEmpty && reqs.forall { r =>
          val f = r.path("params").path(0)
          f.has("fromBlock") && f.has("toBlock")
        })
      } finally query.stop()
    }
  }

  test("absent endBlock resolves via eth_blockNumber at plan time (S2)") {
    withNode { node =>
      assert(graft.evm.RpcEndpoint(RpcConfig(node.url, delayMs = 0)).tip() == 99L)
      val df = readRpc(node) // no endBlock → probe tip
      assert(df.count() == book.size)
    }
  }
}
