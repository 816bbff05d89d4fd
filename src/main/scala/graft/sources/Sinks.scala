package graft.sources

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** File sinks and sources mirroring the reference's I/O surface
  * (SURVEY.md §2.1).
  */
object Sinks {

  /** S4: partitioned CSV sink. The reference lazily appends to
    * `<contract>_<event>.csv` with first-row-inferred headers
    * (`internal/sink/csv.go:50-128`) — a schema-drift hazard. Spark's
    * writer keeps one schema per write and encodes the table identity in
    * the directory layout instead, so missing→empty / extra→dropped
    * projection bugs can't occur. */
  def writeEventsCsv(df: DataFrame, dir: String,
                     mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .partitionBy("contract_name", "event_name")
      .option("header", "true")
      .csv(dir)

  /** Partitioned parquet sink with DYNAMIC partition overwrite: a
    * re-run replaces only the partitions present in `df`, leaving the
    * rest of the table untouched — idempotent per-partition reprocessing
    * (re-index a block range, rebuild one day) without truncating the
    * table, which is the batch-replay semantics the reference's
    * append-only CSV sink cannot express. Static overwrite mode (the
    * Spark default) would drop ALL partitions first. */
  def writePartitionedParquet(df: DataFrame, dir: String,
                              partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** S9: single-file CSV export (signals table). */
  def writeSingleCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  /** JSONL training-data export, optionally partitioned (the standard
    * interchange format for LLM corpora — one JSON object per line,
    * split/shard directories). Spark's `json` source IS JSONL (one
    * object per line per file); partition columns become directories
    * (`split=train/part-*.json`), which is exactly the layout a
    * training loader globs. Dynamic partition overwrite keeps re-runs
    * idempotent per split. */
  def writeJsonl(df: DataFrame, dir: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .json(dir)
  }

  /** JSONL read-back (schema-inferring; pass a schema in production). */
  def readJsonl(s: SparkSession, dir: String): DataFrame = s.read.json(dir)

  /** S5: the JDBC sink the reference declares but never implements
    * (`internal/sink/mysql.go:3`). Configured writer, ABI-typed schema
    * courtesy of the DataFrame; caller supplies url/table/creds and
    * calls .save(). */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 user: String, password: String): DataFrameWriter[Row] =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("truncate", "true")

  /** S6: driver-side retry decorator for sink actions (fixed-delay, K
    * attempts, last error propagated — `internal/sink/retry.go:29-63`).
    * Task-level transient failures are already covered by
    * `spark.task.maxFailures`; this guards whole-action failures. Only
    * non-fatal failures are retried: an interrupt or a cancelled Spark
    * job (a job-group cancel: `JobRegistry.cancel`, JobServer DELETE)
    * is thrown at once, not after the remaining attempts and delays. */
  def withRetries[T](attempts: Int, delayMs: Long)(body: => T): T =
    try body
    catch {
      case NonFatal(e) if attempts > 1 && !cancelled(e) =>
        Thread.sleep(delayMs)
        withRetries(attempts - 1, delayMs)(body)
    }

  /** Whether `e`, or any cause of it, is an interrupt or a cancelled
    * Spark job. */
  private[graft] def cancelled(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: InterruptedException => true
      case s: SparkThrowable => s.getCondition == "SPARK_JOB_CANCELLED"
      case _ => false
    }

  /** S7: projected CSV scan with malformed-row skip
    * (`read_csv(usecols=…, on_bad_lines="skip")`). Explicit schema keeps
    * the scan pruned; DROPMALFORMED mirrors the bad-line skip. */
  def readCsvProjected(spark: SparkSession, schema: StructType,
                       path: String, columns: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(path)
      .select(columns.map(col): _*)

  /** S8: glob discovery + filename-pattern metadata extraction — the
    * `(A)(B)(fee)_Swap.csv` regex over discovered files
    * (`stable_eth_meanrevert_bot.py:52-57`, pyc `:67-83`) becomes
    * `input_file_name()` + `regexp_extract`, evaluated by the scan
    * itself (one pass, no driver-side file loop). */
  def readWithFilenameMeta(df: DataFrame, pattern: String,
                           groups: Seq[(String, Int)]): DataFrame =
    groups.foldLeft(df.withColumn("__file", input_file_name())) {
      case (acc, (name, idx)) =>
        acc.withColumn(name, regexp_extract(col("__file"), pattern, idx))
    }.drop("__file")
}
