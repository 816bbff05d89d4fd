package perfbench

import graft.api.Config
import graft.evm.Indexer
import graft.pipelines.{EthBot, FeeBot}
import java.nio.file.{Files, Path}
import perfbench.Rep.{Ctx, Op, timed}
import scala.jdk.CollectionConverters._

/** The workloads, each a sequence of calls into the program's public
  * entry points. Every result is consumed in full: the indexer's by its
  * CSV sink, the bots' by `collect()`, the declared queries' by a
  * [[Digest]]. Each op's seconds cover exactly one call and the
  * consumption of its result. */
object Workloads {
  /** Config in `input/config.yaml`, ABI paths relative to `input`. */
  def job(ctx: Ctx): Config.Job = Config.load(
    Files.readString(ctx.input.resolve("config.yaml")),
    p => Files.readString(ctx.input.resolve(p)))

  def run(workload: String, ctx: Ctx, around: (String, () => Op) => Op =
      (_, f) => f()): Seq[Op] = workload match {
    case "backfill_txfrom" => Seq(backfill(ctx))
    case "bots" => bots(ctx, around)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def backfill(ctx: Ctx): Op = {
    val j = job(ctx)
    val txsPath = ctx.input.resolve("txs")
    val txs = if (Files.exists(txsPath)) Some(ctx.spark.read.parquet(txsPath.toString))
      else None
    val endBlock = ctx.manifest.path("end_block").asLong()
    val (counts, s) = timed(Indexer.run(ctx.spark, j,
      ctx.input.resolve("dump").toString, endBlock, ctx.out.resolve("sink").toString,
      txs = txs))
    ctx.extra("counts") = counts.map(c => s"${c.contract}/${c.event}" -> c.rows).toMap
    ctx.extra("blocks") = endBlock + 1
    Op("Indexer.run", s, counts.map(_.rows).sum)
  }

  def bots(ctx: Ctx, around: (String, () => Op) => Op): Seq[Op] = {
    val spark = ctx.spark
    val swaps = ctx.input.resolve("swaps").toString
    // the DataFrame is built inside the timed call: EthBot runs jobs
    // while building its plan
    def collectOp(name: String)(df: => org.apache.spark.sql.DataFrame)
        : (Op, org.apache.spark.sql.types.StructType) = {
      var schema: org.apache.spark.sql.types.StructType = null
      val op = around(name, () => {
        val (rows, s) = timed { val d = df; schema = d.schema; d.collect().toSeq }
        Op(name, s, rows.size, collected = rows)
      })
      (op, schema)
    }
    // the reference bot runs one mode per invocation; this is its
    // z-score mode (the mean-reversion FSM is timed in the traced run)
    val (zs, zsSchema) = collectOp("EthBot.tradesZscore")(
      EthBot.tradesZscore(spark, swaps, 1440, 2.0, 0.2, 10080))
    // the bot aggregates the trades it already holds, as the reference
    // bot does, rather than recomputing them from the CSVs
    val (monthly, _) = collectOp("EthBot.monthlyReturns")(EthBot.monthlyReturns(
      spark.createDataFrame(zs.collected.asJava, zsSchema)))
    val fee = around("FeeBot.run", () => {
      val ((m, sig), s) = timed {
        val (metrics, signals) = FeeBot.run(spark, ctx.tables,
          ctx.out.resolve("feebot").toString)
        (metrics.collect().toSeq, signals.collect().toSeq)
      }
      Op("FeeBot.run", s, m.size + sig.size, collected = m ++ sig)
    })
    ctx.extra("ethbot_s") = zs.seconds + monthly.seconds
    ctx.extra("feebot_s") = fee.seconds
    Seq(zs, monthly, fee)
  }

  def queryNames(ctx: Ctx): Seq[String] =
    Files.readAllLines(Path.of(ctx.args("queries"))).toArray.toSeq
      .map(_.toString.trim).filter(_.nonEmpty).map(_.split("\\s+")(0))

  def queries(ctx: Ctx, around: (String, () => Op) => Op): Seq[Op] = {
    val spark = ctx.spark
    queryNames(ctx).map { name =>
      val fn = graft.SparkEntry.queries(name)
      val op = around(name, () => {
        val (d, s) = timed(Digest.of(fn(spark, ctx.tables)))
        Op(name, s, Digest.rows(d), digest = d)
      })
      // drop what the finished query left persisted, off the clock, as
      // graft.Bench does between queries
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      op
    }
  }
}
