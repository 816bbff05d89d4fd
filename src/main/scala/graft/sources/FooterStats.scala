package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet FOOTER statistics, read from the file metadata itself (via
  * parquet-mr, which ships with Spark) — the substrate every
  * file-skipping decision (`q_zorder`'s telemetry, partition pruning,
  * row-group pruning) ultimately trusts. The query's oracle recomputes
  * the same numbers FROM THE DATA in DuckDB, so a pass proves the
  * footer's column statistics agree with the rows they describe —
  * min/max/count parsed from metadata ≡ min/max/count scanned. Footers
  * are driver-side metadata by design (that is what makes skipping
  * cheap); per-file cost is one footer read, no row IO. */
object FooterStats {

  /** Aggregated footer stats for the INT64 columns of a parquet file:
    * one row per column with value count and min/max folded across row
    * groups. Missing statistics are a loud error (a file written
    * without stats cannot support skipping, and silently returning
    * nulls would let a stats-stripping regression pass the gate). */
  def footerStats(s: SparkSession, path: String,
                  columns: Seq[String]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(path)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      val wanted = columns.toSet
      val acc = scala.collection.mutable.Map
        .empty[String, (Long, Long, Long)] // name -> (n, min, max)
      blocks.forEach { block =>
        block.getColumns.forEach { cc =>
          val name = cc.getPath.toDotString
          if (wanted(name)) {
            val st: org.apache.parquet.column.statistics.Statistics[_] = cc.getStatistics
            require(st != null && !st.isEmpty && st.hasNonNullValue,
              s"footerStats: $path column $name has no statistics")
            val mn = st.genericGetMin.asInstanceOf[Number].longValue()
            val mx = st.genericGetMax.asInstanceOf[Number].longValue()
            val n = cc.getValueCount
            val prev = acc.getOrElse(name, (0L, Long.MaxValue, Long.MinValue))
            acc(name) = (prev._1 + n, math.min(prev._2, mn),
              math.max(prev._3, mx))
          }
        }
      }
      require(acc.keySet == wanted,
        s"footerStats: missing columns ${wanted -- acc.keySet} in $path")
      import s.implicits._
      acc.toSeq.map { case (c, (n, mn, mx)) => (c, n, mn, mx) }
        .sortBy(_._1)
        .toDF("col_name", "n_values", "min_v", "max_v")
    } finally reader.close()
  }

  /** Declared-query face: footer stats of the events table's integer
    * key columns, oracled against a data scan. */
  def eventsFooterStats(s: SparkSession, d: String): DataFrame =
    footerStats(s, s"$d/events.parquet", Seq("event_id", "user_id"))
      .orderBy("col_name")
}
