package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.evm.Reorg
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.net.InetSocketAddress
import scala.collection.mutable

/** Reorg-aware chain-tip streaming (`ReorgLogSourceProvider`) against
  * an in-process stub node whose chain MUTATES between triggers: the
  * gate is the indexer invariant — after a reorg, folding the change
  * stream ([[Reorg.applyBatch]]) yields exactly the table a fresh
  * batch scan of the post-reorg chain produces. */
class ReorgSpec extends SparkSpec {

  private case class Log(block: Long, logIndex: Long, txHash: String, data: String)
  /** height → (block hash, logs) */
  private type Chain = Map[Long, (String, Seq[Log])]

  /** Stub node over a MUTABLE chain: eth_blockNumber / _getBlockByNumber
    * (hash) / _getLogs (with logIndex + blockHash), so hash probes and
    * replays see whatever branch is current at that trigger. */
  private class StubChainNode(@volatile var chain: Chain) {
    private val mapper = new ObjectMapper()
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      val c = chain
      val resp = mapper.createObjectNode()
      resp.put("jsonrpc", "2.0")
      resp.put("id", req.path("id").asInt())
      req.path("method").asText() match {
        case "eth_blockNumber" =>
          resp.put("result", "0x" + c.keys.max.toHexString)
        case "eth_getBlockByNumber" =>
          val n = java.lang.Long.parseLong(
            req.path("params").path(0).asText().drop(2), 16)
          c.get(n) match {
            case Some((h, _)) =>
              val blk = mapper.createObjectNode()
              blk.put("number", "0x" + n.toHexString)
              blk.put("hash", h)
              blk.put("timestamp", "0x" + (1600000000L + n * 12).toHexString)
              resp.set[JsonNode]("result", blk)
            case None => resp.putNull("result")
          }
        case "eth_getLogs" =>
          val f = req.path("params").path(0)
          def hex(p: String): Long =
            java.lang.Long.parseLong(f.path(p).asText().drop(2), 16)
          val lo = hex("fromBlock"); val hi = hex("toBlock")
          val arr = mapper.createArrayNode()
          c.toSeq.sortBy(_._1)
            .filter { case (b, _) => b >= lo && b <= hi }
            .foreach { case (b, (h, logs)) =>
              logs.foreach { l =>
                val o = mapper.createObjectNode()
                o.put("blockNumber", "0x" + b.toHexString)
                o.put("blockHash", h)
                o.put("logIndex", "0x" + l.logIndex.toHexString)
                o.put("transactionHash", l.txHash)
                o.put("address", "0xaaaa")
                val ts = mapper.createArrayNode(); ts.add("0xt0")
                o.set[JsonNode]("topics", ts)
                o.put("data", l.data)
                arr.add(o)
              }
            }
          resp.set[JsonNode]("result", arr)
        case m => resp.putNull("result")
      }
      val body = mapper.writeValueAsBytes(resp)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
  }

  private def mkChain(upTo: Long, branchOf: Long => String): Chain =
    (0L to upTo).map { b =>
      val br = branchOf(b)
      b -> (s"0xh$b$br", Seq(
        Log(b, 0, s"0xtx${b}_0$br", s"0xd${b}_0$br"),
        Log(b, 1, s"0xtx${b}_1$br", s"0xd${b}_1$br")))
    }.toMap

  test("2-block reorg: retractions + replay fold to the fresh-chain table") {
    val v1 = mkChain(9, _ => "a")
    // branch b replaces heights 8..9 and extends to 10
    val v2 = mkChain(10, b => if (b >= 8) "b" else "a")
    val node = new StubChainNode(v1)
    val batches = mutable.ArrayBuffer.empty[Seq[Row]] // synchronized below
    try {
      val q = spark.readStream.format("graft.evm.ReorgLogSourceProvider")
        .option("url", node.url).option("reorgDepth", "3")
        .option("chunkSize", "4").option("rpcAttempts", "1")
        .load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().toSeq
          batches.synchronized { if (rows.nonEmpty) batches += rows }
          ()
        }
        .start()
      q.processAllAvailable()
      val first = batches.synchronized(batches.toSeq)
      assert(first.map(_.size).sum == 20) // 10 blocks x 2 logs, all inserts
      assert(first.flatten.forall(_.getAs[Int]("change") == 1))

      node.chain = v2
      q.processAllAvailable()
      q.stop()
      val all = batches.synchronized(batches.toSeq)
      val reorgBatch = all.last
      // two tombstones carrying the SUPERSEDED hashes...
      val tombs = reorgBatch.filter(_.getAs[Int]("change") == -1)
        .map(r => (r.getAs[Long]("block_number"), r.getAs[String]("block_hash")))
        .sorted
      assert(tombs == Seq((8L, "0xh8a"), (9L, "0xh9a")))
      // ...and the replacement branch + the new tip as inserts
      val ins = reorgBatch.filter(_.getAs[Int]("change") == 1)
      assert(ins.map(_.getAs[Long]("block_number")).distinct.sorted == Seq(8L, 9L, 10L))
      assert(ins.forall(r => r.getAs[String]("block_hash").endsWith("b")
        || r.getAs[Long]("block_number") == 10L))

      // fold the change stream; compare against a fresh batch scan of v2
      import org.apache.spark.sql.Encoders
      implicit val enc = Encoders.row(Reorg.schema)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Reorg.schema).drop("change")
      val folded = all.foldLeft(empty) { (state, b) =>
        Reorg.applyBatch(state, spark.createDataFrame(b.asJava, Reorg.schema))
      }
      val fresh = spark.read.format("graft.evm.LogSourceProvider")
        .option("url", node.url).option("startBlock", "0")
        .option("endBlock", "10").option("chunkSize", "4")
        .option("rpcAttempts", "1").load()
      val got = folded
        .select("block_number", "tx_hash", "address", "topic0", "data")
        .collect().map(_.toString).sorted.toSeq
      val want = fresh
        .select("block_number", "tx_hash", "address", "topic0", "data")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, s"folded table != fresh scan\n${got.diff(want)}")
      // every surviving row carries its post-reorg block hash
      assert(folded.filter(col("block_number") >= 8)
        .collect().forall(_.getAs[String]("block_hash").endsWith("b")))
    } finally node.stop()
  }

  test("dump replay: a 2-block rewrite folds to a fresh scan of the rewritten dump") {
    // one JSON-lines file per block; each line carries its block_hash
    val dir = java.nio.file.Files.createTempDirectory("reorg_dump").toString
    def writeBlock(b: Long, branch: String): Unit = {
      val lines = (0L to 1L).map { li =>
        s"""{"block_number":$b,"log_index":$li,"block_hash":"0xh$b$branch",""" +
          s""""tx_hash":"0xtx${b}_$li$branch","address":"0xaaaa",""" +
          s""""topic0":"0xt0","data":"0xd${b}_$li$branch"}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f"b$b%03d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    (0L to 9L).foreach(writeBlock(_, "a"))
    val batches = mutable.ArrayBuffer.empty[Seq[Row]]
    val q = spark.readStream.format("graft.evm.ReorgLogSourceProvider")
      .option("path", dir).option("reorgDepth", "3").option("chunkSize", "4")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect().toSeq
        batches.synchronized { if (rows.nonEmpty) batches += rows }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches.synchronized(batches.map(_.size).sum) == 20)
      // branch "bb" replaces heights 8..9 and extends the dump to 10
      // (a longer tag, so every rewritten file changes size)
      (8L to 10L).foreach(writeBlock(_, "bb"))
      q.processAllAvailable()
    } finally q.stop()
    val all = batches.synchronized(batches.toSeq)
    val tombs = all.last.filter(_.getAs[Int]("change") == -1)
      .map(r => (r.getAs[Long]("block_number"), r.getAs[String]("block_hash")))
      .sorted
    assert(tombs == Seq((8L, "0xh8a"), (9L, "0xh9a")))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Reorg.schema).drop("change")
    val folded = all.foldLeft(empty) { (state, b) =>
      Reorg.applyBatch(state, spark.createDataFrame(b.asJava, Reorg.schema))
    }
    val cols = Seq("block_number", "tx_hash", "address", "topic0", "data")
    val got = folded.select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val want = spark.read.format("graft.evm.LogSourceProvider")
      .option("path", dir).option("startBlock", "0").option("endBlock", "10")
      .option("chunkSize", "4").load()
      .select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(got.size == 22)
    assert(got == want, s"folded table != fresh scan\n${got.diff(want)}")
    assert(folded.filter(col("block_number") >= 8)
      .collect().forall(_.getAs[String]("block_hash").endsWith("bb")))
  }

  test("durable parquet state: reorg stream folds to the fresh-chain table on disk") {
    val v1 = mkChain(9, _ => "a")
    val v2 = mkChain(10, b => if (b >= 8) "b" else "a")
    val node = new StubChainNode(v1)
    val state = java.nio.file.Files.createTempDirectory("reorg_state").toString
    try {
      val q = spark.readStream.format("graft.evm.ReorgLogSourceProvider")
        .option("url", node.url).option("reorgDepth", "3")
        .option("chunkSize", "4").option("rpcAttempts", "1")
        .load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          Reorg.applyBatchToParquet(df, state, bucketBlocks = 4)
          ()
        }
        .start()
      q.processAllAvailable()
      node.chain = v2
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(state)
        .select("block_number", "tx_hash", "data")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.read.format("graft.evm.LogSourceProvider")
        .option("url", node.url).option("startBlock", "0")
        .option("endBlock", "10").option("chunkSize", "4")
        .option("rpcAttempts", "1").load()
        .select("block_number", "tx_hash", "data")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "durable state != fresh scan after reorg")
      // only the buckets the reorg touched were rewritten: bucket 0
      // (blocks 0-3) kept its original files from the first batch
      val b0 = new java.io.File(state, "block_bucket=0")
      assert(b0.exists() && b0.listFiles().nonEmpty)
    } finally node.stop()
  }

  test("pure retraction empties its bucket on disk (no surviving dead rows)") {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.row(Reorg.schema)
    val state = java.nio.file.Files.createTempDirectory("reorg_state2").toString
    def row(bn: Long, tx: String, change: Int): Row =
      Row(bn, tx, "0xa", "0xt", null, null, null, "0xd", 0L, s"0xh$bn", change)
    val b1 = spark.createDataFrame(
      Seq(row(5L, "0xtx5", 1), row(6L, "0xtx6", 1)).asJava, Reorg.schema)
    Reorg.applyBatchToParquet(b1, state, bucketBlocks = 100)
    assert(spark.read.parquet(state).count() == 2)
    // tip regression: block 6 retracted, nothing replaces it
    val b2 = spark.createDataFrame(Seq(row(6L, null, -1)).asJava, Reorg.schema)
    Reorg.applyBatchToParquet(b2, state, bucketBlocks = 100)
    val left = spark.read.parquet(state).collect()
    assert(left.length == 1 && left.head.getAs[Long]("block_number") == 5L)
    // retract the last row too -> the bucket dir itself must go
    val b3 = spark.createDataFrame(Seq(row(5L, null, -1)).asJava, Reorg.schema)
    Reorg.applyBatchToParquet(b3, state, bucketBlocks = 100)
    assert(!new java.io.File(state, "block_bucket=0").exists())
  }

  test("quiet chain: identical tip + hashes re-trigger no batch") {
    val v1 = mkChain(5, _ => "a")
    val node = new StubChainNode(v1)
    val batches = mutable.ArrayBuffer.empty[Seq[Row]]
    try {
      val q = spark.readStream.format("graft.evm.ReorgLogSourceProvider")
        .option("url", node.url).option("reorgDepth", "3")
        .option("rpcAttempts", "1")
        .load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().toSeq
          batches.synchronized { if (rows.nonEmpty) batches += rows }
          ()
        }
        .start()
      q.processAllAvailable()
      val n1 = batches.synchronized(batches.size)
      q.processAllAvailable() // nothing changed on-chain
      q.stop()
      val n2 = batches.synchronized(batches.size)
      assert(n1 == 1 && n2 == 1, s"quiet chain re-emitted: $n1 -> $n2")
    } finally node.stop()
  }

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add)
      l
    }
  }
}
