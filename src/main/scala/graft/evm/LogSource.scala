package graft.evm

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import java.util
import scala.jdk.CollectionConverters._

/** `evm-logs` DataSource V2 (SURVEY.md §2.1 S1 + §2.2 P1/P2, §4):
  * the reference's chunked `eth_getLogs` scan re-expressed as a Spark
  * source. One InputPartition per block window (chunk_size, default
  * 1000 — `internal/indexer/indexer.go:23,172-189`; the worker pool C4
  * becomes Spark's task scheduler), with address/topic0 predicates
  * pushed INTO the source (the node-side filter of
  * `indexer.go:209-235`).
  *
  * Two interchangeable endpoints behind the same plan shape, pushdown
  * and partitioning: `path` replays JSON-lines log dumps, `url` issues
  * one live `eth_getLogs` RPC per block window (`RpcPartitionReader` +
  * `RpcClient`, retry per `internal/rpc/client.go`).
  *
  * Usage:
  * {{{
  * spark.read.format("graft.evm.LogSourceProvider")
  *   .option("path", dir).option("startBlock", 0)
  *   .option("endBlock", 999).option("chunkSize", 100)
  *   .load().filter($"topic0" === lit(t0))   // pushed to the source
  * }}}
  */
class LogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new LogTable(properties.asScala.toMap)
}

/** Where a block window's logs come from: the replay dump directory or
  * a live JSON-RPC endpoint. Carried inside each `InputPartition`, so
  * the scan/pushdown/partitioning machinery is identical for both —
  * only the per-window fetch and the tip probe differ (S3). */
sealed trait LogEndpoint extends Serializable {
  /** S2: latest height — `eth_blockNumber` live
    * (`internal/rpc/client.go:153-177`), the highest indexed block
    * over a dump; -1 for a dump with no blocks yet. */
  def tip(): Long
  /** The provider options that select this endpoint. */
  def options: Map[String, String]
}

case class DumpEndpoint(path: String) extends LogEndpoint {
  /** The dump's files in name order; dot- and underscore-prefixed
    * files (checksums, `_SUCCESS`) are not logs. */
  def files: Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".")
        && !f.getName.startsWith("_"))
      .sortBy(_.getName)
  /** Max over the per-file index: unchanged files cost a cache hit, so
    * a per-trigger poll only re-reads files that appeared or changed. */
  def tip(): Long =
    files.flatMap(f => DumpIndex.blockRange(f).map(_._2)).maxOption.getOrElse(-1L)
  def options: Map[String, String] = Map("path" -> path)
}

case class RpcEndpoint(cfg: RpcConfig) extends LogEndpoint {
  def tip(): Long = new RpcClient(cfg).blockNumber()
  def options: Map[String, String] = Map("url" -> cfg.url,
    "rpcAttempts" -> cfg.attempts.toString, "rpcDelayMs" -> cfg.delayMs.toString)
}

object LogEndpoint {
  /** A config's source string: an `http(s)://` value is a live JSON-RPC
    * endpoint (retried per `retry`), anything else a dump directory. */
  def apply(source: String, retry: graft.api.Config.Retry): LogEndpoint =
    if (source.startsWith("http://") || source.startsWith("https://"))
      RpcEndpoint(RpcConfig(source, retry.attempts, retry.delayMs))
    else DumpEndpoint(source)
}

/** The options both providers share, parsed once per table. */
case class ScanOptions(endpoint: LogEndpoint, startBlock: Long,
                       endBlock: Option[Long], chunkSize: Long,
                       maxBlocksPerTrigger: Option[Long])

object LogSource {
  /** Option map → [[ScanOptions]]. `url` selects the live RPC path (with
    * the reference's retry defaults, overridable via `rpcAttempts` /
    * `rpcDelayMs`); otherwise `path` selects dump replay. An out-of-range
    * value fails here, naming its option: a chunk below 1 would plan no
    * partitions, a trigger cap below 1 would stall the stream. */
  def options(props: Map[String, String]): ScanOptions = {
    val ep = props.get("url") match {
      case Some(u) => RpcEndpoint(RpcConfig(u,
        atLeast(props, "rpcAttempts", 1).getOrElse(3L).toInt,
        atLeast(props, "rpcDelayMs", 0).getOrElse(1500L)))
      case None => DumpEndpoint(props.getOrElse("path",
        throw new IllegalArgumentException(
          "evm-logs: either url or path option required")))
    }
    ScanOptions(ep, props.get("startBlock").fold(0L)(_.toLong),
      props.get("endBlock").map(_.toLong),
      atLeast(props, "chunkSize", 1).getOrElse(1000L),
      atLeast(props, "maxBlocksPerTrigger", 1))
  }

  /** The numeric option `key`, if set, checked to be >= `min`. */
  private[evm] def atLeast(props: Map[String, String], key: String,
                           min: Long): Option[Long] =
    props.get(key).map { v =>
      val n = v.toLong
      if (n < min) throw new IllegalArgumentException(
        s"evm-logs: option $key must be >= $min, got $v")
      n
    }

  /** The window planner: one partition per `chunk` blocks of [lo, hi]. */
  private[evm] def windows(ep: LogEndpoint, lo: Long, hi: Long,
                           chunk: Long): Array[InputPartition] =
    (lo to hi by chunk).map { l =>
      LogRangePartition(ep, l, math.min(l + chunk - 1, hi)): InputPartition
    }.toArray

  /** One source row: the [[schema]] columns, then — `keyed`, for the
    * reorg stream — `log_index`, `block_hash` and `change` = +1
    * ([[Reorg.schema]]). */
  private[evm] def row(keyed: Boolean, block: Long, txHash: UTF8String,
                       address: UTF8String, topic0: UTF8String,
                       topic1: UTF8String, topic2: UTF8String,
                       topic3: UTF8String, data: UTF8String)(
                       logIndex: => Any, blockHash: => UTF8String): InternalRow =
    if (keyed) InternalRow(block, txHash, address, topic0, topic1, topic2,
      topic3, data, logIndex, blockHash, 1)
    else InternalRow(block, txHash, address, topic0, topic1, topic2, topic3, data)

  val schema: StructType = StructType(Seq(
    StructField("block_number", LongType),
    StructField("tx_hash", StringType),
    StructField("address", StringType),
    StructField("topic0", StringType),
    StructField("topic1", StringType),
    StructField("topic2", StringType),
    StructField("topic3", StringType),
    StructField("data", StringType)))
}

class LogTable(props: Map[String, String]) extends Table with SupportsRead {
  private val opts = LogSource.options(props)
  override def name(): String = s"evm_logs(${props.getOrElse("path", "?")})"
  override def schema(): StructType = LogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(opts)
}

/** Pushdown contract (P1/P2): EqualTo / In on `address` and `topic0`
  * are consumed by the source (the "node" evaluates them); everything
  * else is left for Spark to evaluate after the scan. */
class LogScanBuilder(opts: ScanOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
  private var addressSet: Option[Set[String]] = None
  private var topic0Set: Option[Set[String]] = None
  private var blockLo: Option[Long] = None
  private var blockHi: Option[Long] = None
  private var pushed: Array[Filter] = Array.empty
  private var aggOps: Option[Seq[String]] = None

  /** Aggregate pushdown (the "latest-height probe" as a plan shape):
    * ungrouped MIN/MAX over `block_number` and COUNT(*) collapse to ONE
    * row per block-window partition at the source — the executor scans
    * its window, hands Spark 8 bytes, and the final merge is a
    * partition-count-sized aggregate instead of a row-stream one.
    * Partial pushdown only (`supportCompletePushDown` = false): Spark
    * re-aggregates the per-partition rows, which is exactly the right
    * split — the source knows its window, Spark knows the union. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty) return false
    def op(f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
        : Option[String] = f match {
      case m: Max => m.column match {
        case nr: NamedReference
          if nr.fieldNames.toSeq == Seq("block_number") => Some("max")
        case _ => None
      }
      case m: Min => m.column match {
        case nr: NamedReference
          if nr.fieldNames.toSeq == Seq("block_number") => Some("min")
        case _ => None
      }
      case _: CountStar => Some("count")
      case _ => None
    }
    val ops = agg.aggregateExpressions.toSeq.map(op)
    if (ops.isEmpty || !ops.forall(_.isDefined)) return false
    aggOps = Some(ops.flatten)
    true
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import org.apache.spark.sql.sources.IsNotNull
    // columns whose equality/membership filters the source consumes —
    // an IsNotNull on the SAME column is implied by that filter (the
    // readers drop null-column rows when a value set is pushed), so it
    // can be consumed too; this matters because any residual filter
    // node between scan and aggregate blocks aggregate pushdown
    val eqCols = filters.collect {
      case EqualTo(a, _: String) if a == "address" || a == "topic0" => a
      case In(a, vs) if vs.forall(_.isInstanceOf[String])
        && (a == "address" || a == "topic0") => a
    }.toSet
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) => a == "address" || a == "topic0"
      case In(a, vs) if vs.forall(_.isInstanceOf[String]) =>
        a == "address" || a == "topic0"
      case IsNotNull(a) => eqCols.contains(a) || a == "block_number"
      // block-range predicates prune whole chunk partitions (the
      // reference's [start_block, end_block] scan bounds)
      case GreaterThan("block_number", _: java.lang.Long) => true
      case GreaterThanOrEqual("block_number", _: java.lang.Long) => true
      case LessThan("block_number", _: java.lang.Long) => true
      case LessThanOrEqual("block_number", _: java.lang.Long) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("address", v: String) => addressSet = Some(Set(v))
      case EqualTo("topic0", v: String) => topic0Set = Some(Set(v))
      case In("address", vs) => addressSet = Some(vs.map(_.toString).toSet)
      case In("topic0", vs) => topic0Set = Some(vs.map(_.toString).toSet)
      case GreaterThan("block_number", v: java.lang.Long) =>
        blockLo = Some(blockLo.fold(v + 1L)(math.max(_, v + 1L)))
      case GreaterThanOrEqual("block_number", v: java.lang.Long) =>
        blockLo = Some(blockLo.fold(v.toLong)(math.max(_, v.toLong)))
      case LessThan("block_number", v: java.lang.Long) =>
        blockHi = Some(blockHi.fold(v - 1L)(math.min(_, v - 1L)))
      case LessThanOrEqual("block_number", v: java.lang.Long) =>
        blockHi = Some(blockHi.fold(v.toLong)(math.min(_, v.toLong)))
      case _ =>
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new LogScan(opts, addressSet, topic0Set, blockLo, blockHi, aggOps)
}

class LogScan(opts: ScanOptions, addresses: Option[Set[String]],
              topics: Option[Set[String]], blockLo: Option[Long],
              blockHi: Option[Long],
              aggOps: Option[Seq[String]] = None) extends Scan with Batch {
  override def readSchema(): StructType = aggOps match {
    case Some(ops) => StructType(ops.zipWithIndex.map { case (o, i) =>
      org.apache.spark.sql.types.StructField(s"${o}_$i",
        org.apache.spark.sql.types.LongType, nullable = o != "count")
    })
    case None => LogSource.schema
  }
  override def description(): String =
    s"evm-logs addresses=${addresses.map(_.size).getOrElse(-1)} " +
      s"topics=${topics.map(_.size).getOrElse(-1)} " +
      s"blocks=[${blockLo.getOrElse("-")},${blockHi.getOrElse("-")}]" +
      aggOps.fold("")(ops => s" aggPushed=[${ops.mkString(",")}]")
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LogMicroBatchStream(opts, addresses, topics)

  /** S1: one partition per chunk_size block window, pruned by any
    * pushed block_number bounds (partition pruning at the source). An
    * absent `endBlock` is resolved by probing the endpoint's tip once
    * at plan time, the reference's bound-then-chunk shape
    * (`indexer.go:172-189`). */
  override def planInputPartitions(): Array[InputPartition] = {
    val ep = opts.endpoint
    val start = math.max(opts.startBlock, blockLo.getOrElse(Long.MinValue))
    val end = math.min(opts.endBlock.getOrElse(ep.tip()),
      blockHi.getOrElse(Long.MaxValue))
    LogSource.windows(ep, start, end, opts.chunkSize)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(addresses, topics, aggOps)
}

case class LogRangePartition(endpoint: LogEndpoint, fromBlock: Long,
                             toBlock: Long) extends InputPartition

/** Streaming offset: "everything up to and including block `block` has
  * been emitted", plus — for the reorg stream — the hashes of the last
  * K blocks as emitted. Offset equality in Spark is JSON equality, so
  * the tail serializes sorted by height; an empty tail serializes as
  * `{"block":n}`. */
case class LogOffset(block: Long, tail: Seq[(Long, String)] = Nil)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (tail.isEmpty) s"""{"block":$block}"""
    else tail.sortBy(_._1).map { case (b, h) => s"""[$b,"$h"]""" }
      .mkString(s"""{"block":$block,"tail":[""", ",", "]}")
}

object LogOffset {
  def fromJson(json: String): LogOffset = {
    val n = new ObjectMapper().readTree(json)
    val tail = Seq.newBuilder[(Long, String)]
    n.path("tail").forEach(e => tail += ((e.path(0).asLong(), e.path(1).asText())))
    LogOffset(n.path("block").asLong(), tail.result())
  }
}

/** Chain-tip following (the reference's roadmap promise, README.md:202-
  * 208, never implemented there): each trigger probes the endpoint's
  * tip and emits the new block window as chunked partitions, exactly
  * the batch scan's shape. Offsets are block heights, so
  * restart/recovery replays from the last committed block;
  * `maxBlocksPerTrigger` rate-limits catch-up (the chunked backfill the
  * reference does with its worker pool).
  *
  * `reorgDepth` K = 0 is `LogSourceProvider`'s plain follower: blocks
  * are final once emitted, rows have [[LogSource.schema]]. K > 0 is
  * `ReorgLogSourceProvider` ([[Reorg]]): the offset also carries the
  * hashes of the last K blocks, each trigger re-probes them, and a
  * moved hash at height b retracts b and every later block (hashes
  * chain) and replays them; rows have [[Reorg.schema]]. */
class LogMicroBatchStream(opts: ScanOptions,
                          addresses: Option[Set[String]],
                          topics: Option[Set[String]],
                          reorgDepth: Int = 0)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val ep = opts.endpoint
  private val hashIdx = Reorg.schema.fieldIndex("block_hash")

  /** The current hash of each block in [lo, hi] that has one: header
    * probes live; over a dump, one read of the window through the
    * shared reader, keeping each block's first non-null `block_hash`
    * in file-name, then line, order (a dump without hashes yields none
    * and the stream degrades to the plain follower). */
  private def hashes(lo: Long, hi: Long): Seq[(Long, String)] =
    if (lo > hi) Nil
    else ep match {
      case RpcEndpoint(cfg) =>
        val rpc = new RpcClient(cfg)
        (lo to hi).flatMap(b => rpc.headerHash(b).map(b -> _))
      case d: DumpEndpoint =>
        val r = new LogPartitionReader(d, LogRangePartition(d, lo, hi),
          None, None, keyed = true)
        val first = scala.collection.mutable.LinkedHashMap.empty[Long, String]
        try while (r.next()) {
          val row = r.get()
          if (!row.isNullAt(hashIdx))
            first.getOrElseUpdate(row.getLong(0), row.getUTF8String(hashIdx).toString)
        } finally r.close()
        first.toSeq
    }

  override def initialOffset(): Offset = LogOffset(opts.startBlock - 1)
  override def deserializeOffset(json: String): Offset = LogOffset.fromJson(json)
  /** Rate limiting goes through SupportsAdmissionControl: the cap is
    * computed from the START offset Spark hands us, so it is stateless
    * and restart-safe (a mutable "last planned" height here desyncs
    * from the checkpoint on recovery and regresses offsets). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogOffset].block
    val t = ep.tip()
    val hi = math.max(opts.maxBlocksPerTrigger.fold(t)(m => math.min(t, from + m)), from)
    LogOffset(hi, hashes(math.max(hi - reorgDepth + 1, opts.startBlock), hi))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used via SupportsAdmissionControl")

  /** A watched block whose hash moved means it and every later block
    * were replaced; one whose height fell past the new tip (tip
    * regression) is simply gone. Both are retracted, and the replay
    * starts at the lowest moved block. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffset]
    val e = end.asInstanceOf[LogOffset]
    val eTail = e.tail.toMap
    val changed = s.tail.filter { case (b, h) =>
      b <= e.block && eTail.get(b).exists(_ != h)
    }
    val retract = (changed ++ s.tail.filter(_._1 > e.block)).sortBy(_._1)
    val replay = LogSource.windows(ep,
      changed.map(_._1).minOption.getOrElse(s.block + 1), e.block, opts.chunkSize)
    if (retract.isEmpty) replay else ReorgRetractPartition(retract) +: replay
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(addresses, topics, keyed = reorgDepth > 0)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Opens the reader for one partition: a block window from either
  * endpoint (optionally under a pushed aggregate), or a reorg
  * retraction. */
class LogReaderFactory(addresses: Option[Set[String]],
                       topics: Option[Set[String]],
                       aggOps: Option[Seq[String]] = None,
                       keyed: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ReorgRetractPartition(blocks) => new ReorgRetractReader(blocks)
      case part: LogRangePartition =>
        val base = part.endpoint match {
          case d: DumpEndpoint =>
            new LogPartitionReader(d, part, addresses, topics, keyed)
          case RpcEndpoint(cfg) =>
            new RpcPartitionReader(cfg, part, addresses, topics, keyed)
        }
        aggOps.fold(base: PartitionReader[InternalRow])(
          ops => new AggPartitionReader(base, ops))
    }
}

/** Executes a pushed ungrouped aggregate AT the source: drains the
  * window's row stream locally (pushed filters already applied) and
  * emits exactly one partial-aggregate row — `block_number` min/max
  * and the row count — for Spark's final merge. An empty window still
  * emits (count 0, null extrema), so the merge never depends on which
  * partitions happened to hold rows. */
class AggPartitionReader(base: PartitionReader[InternalRow],
                         ops: Seq[String])
    extends PartitionReader[InternalRow] {
  private var done = false
  private var row: InternalRow = _
  override def next(): Boolean = {
    if (done) return false
    var cnt = 0L
    var mx = Long.MinValue
    var mn = Long.MaxValue
    while (base.next()) {
      val b = base.get().getLong(AggPartitionReader.BlockNumberIdx)
      cnt += 1
      if (b > mx) mx = b
      if (b < mn) mn = b
    }
    row = InternalRow.fromSeq(ops.map {
      case "count" => cnt
      case "max" => if (cnt > 0) mx else null
      case "min" => if (cnt > 0) mn else null
    })
    done = true
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = base.close()
}

object AggPartitionReader {
  /** Resolved against the source schema, not a bare literal — stays
    * correct if the schema order ever changes or column pruning is
    * added (the reader consumes the FULL source schema today). */
  val BlockNumberIdx: Int = LogSource.schema.fieldIndex("block_number")
}

/** S3 live: one `eth_getLogs(fromBlock, toBlock, {address, topics})`
  * call per block-window partition — the pushed predicates travel to
  * the node inside the filter object, so the executor receives only
  * matching rows (no client-side re-filter, trusting the node exactly
  * as the reference's `FilterLogs` does, `client.go:93-118`). Retries
  * happen inside `RpcClient`; a task that exhausts them fails and is
  * re-scheduled by Spark — the layered retry the reference gets from
  * worker-level re-queueing. `keyed` rows carry the node's
  * `logIndex`/`blockHash` ([[LogSource.row]]). */
class RpcPartitionReader(cfg: RpcConfig, part: LogRangePartition,
                         addresses: Option[Set[String]],
                         topics: Option[Set[String]],
                         keyed: Boolean = false)
    extends PartitionReader[InternalRow] {
  // fetched on first next(): constructing the reader must stay cheap
  private var it: Iterator[RpcLog] = null
  private var current: InternalRow = _

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  override def next(): Boolean = {
    if (it == null)
      it = new RpcClient(cfg)
        .getLogs(part.fromBlock, part.toBlock, addresses, topics).iterator
    if (!it.hasNext) return false
    val l = it.next()
    current = LogSource.row(keyed, l.blockNumber, utf8(l.txHash),
      utf8(l.address), utf8(l.topic0), utf8(l.topic1), utf8(l.topic2),
      utf8(l.topic3), utf8(l.data))(
      if (l.logIndex < 0) null else l.logIndex, utf8(l.blockHash))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Executor-side per-file block-range index for dump replay: each dump
  * file is scanned ONCE per JVM (keyed by path + mtime + size, so an
  * appended/rewritten file re-indexes) to learn its [min, max] block
  * span; partition readers then skip files that cannot intersect their
  * window. Replay cost drops from O(partitions × dump bytes) to
  * O(dump bytes + Σ intersecting reads) — the live RPC path needs none
  * of this (one ranged call per window). */
private[graft] object DumpIndex {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      Option[(Long, Long)]]()
  /** Files scanned for indexing (test observability). */
  val scans = new java.util.concurrent.atomic.AtomicLong(0)

  def blockRange(f: java.io.File): Option[(Long, Long)] =
    cache.computeIfAbsent((f.getAbsolutePath, f.lastModified(), f.length()),
      _ => scan(f))

  /** A dump line's block: its `block_number`, or `Long.MinValue` when
    * the line is not an object carrying one. The index and the reader
    * share this rule, so no line outside a file's span is ever read. */
  def blockOf(n: com.fasterxml.jackson.databind.JsonNode): Long =
    if (n != null && n.isObject && n.has("block_number"))
      n.path("block_number").asLong(Long.MinValue)
    else Long.MinValue

  private def scan(f: java.io.File): Option[(Long, Long)] = {
    scans.incrementAndGet()
    val mapper = new ObjectMapper()
    var lo = Long.MaxValue
    var hi = Long.MinValue
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().foreach { line =>
      if (line.nonEmpty) {
        // malformed lines don't poison the index (P7)
        val b = try blockOf(mapper.readTree(line)) catch {
          case _: com.fasterxml.jackson.core.JacksonException => Long.MinValue
        }
        if (b != Long.MinValue) { if (b < lo) lo = b; if (b > hi) hi = b }
      }
    } finally src.close()
    if (lo == Long.MaxValue) None else Some((lo, hi))
  }
}

/** Replays JSON-lines dumps for one block window, applying the pushed
  * address/topic0 sets — exactly what the node does for one
  * `eth_getLogs(fromBlock, toBlock, {address, topics})` call. `keyed`
  * rows carry each line's `log_index`/`block_hash` ([[LogSource.row]]). */
class LogPartitionReader(dump: DumpEndpoint, part: LogRangePartition,
                         addresses: Option[Set[String]],
                         topics: Option[Set[String]],
                         keyed: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  // block-range pruning via the per-JVM file index: only files whose
  // span intersects this partition's window are opened
  private val files: Iterator[java.io.File] = dump.files.iterator
    .filter(f => DumpIndex.blockRange(f).exists { case (lo, hi) =>
      lo <= part.toBlock && hi >= part.fromBlock
    })
  private var lines: Iterator[String] = Iterator.empty
  private var source: scala.io.Source = null
  private var current: InternalRow = _

  private def closeSource(): Unit = {
    if (source != null) { source.close(); source = null }
  }

  /** P7 at the source: a malformed dump line, or one without a
    * `block_number`, is dropped and the scan survives — the reference
    * logs at debug and continues (`internal/indexer/indexer.go:253-259`). */
  private def parse(line: String): Option[InternalRow] = {
    if (line.isEmpty) return None
    val n = try mapper.readTree(line)
            catch { case _: com.fasterxml.jackson.core.JacksonException => return None }
    val blk = DumpIndex.blockOf(n)
    if (blk == Long.MinValue || blk < part.fromBlock || blk > part.toBlock) return None
    val addr = n.path("address").asText(null)
    if (addresses.exists(s => addr == null || !s.contains(addr))) return None
    val t0 = n.path("topic0").asText(null)
    if (topics.exists(s => t0 == null || !s.contains(t0))) return None
    def str(f: String): UTF8String = {
      val v = n.path(f)
      if (v.isMissingNode || v.isNull) null else UTF8String.fromString(v.asText())
    }
    Some(LogSource.row(keyed, blk, str("tx_hash"), str("address"), str("topic0"),
      str("topic1"), str("topic2"), str("topic3"), str("data"))({
      val li = n.path("log_index")
      if (li.isMissingNode || li.isNull) null else li.asLong()
    }, str("block_hash")))
  }

  override def next(): Boolean = {
    while (true) {
      while (lines.hasNext) {
        parse(lines.next()) match {
          case Some(r) => current = r; return true
          case None =>
        }
      }
      closeSource() // previous file's lines are exhausted — release the fd
      if (!files.hasNext) return false
      source = scala.io.Source.fromFile(files.next(), "UTF-8")
      lines = source.getLines()
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = closeSource()
}
