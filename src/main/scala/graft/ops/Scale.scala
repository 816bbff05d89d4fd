package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques as reusable operators (SURVEY.md §4 / the 100 TB
  * posture): two-phase salted aggregation for skewed keys, and helpers
  * for shuffle-free co-located joins over bucketed tables. AQE covers
  * the common cases at runtime; these are the explicit levers for when
  * the skew is known up front (one hot contract, one boilerplate
  * shingle, one whale wallet).
  */
object Scale {

  /** Library-default shingle docFreq cap for the near-dup/graph family:
    * a shingle shared by more than this many documents is boilerplate
    * (its pair fan-out is docFreq², the measured ×99–104 storm killer),
    * so the DEFAULT plans drop it from candidate generation and from
    * the Jaccard denominator. Callers wanting the exact uncapped
    * algebra (small-sf oracle twins) pass `maxDocFreq = None`
    * explicitly. */
  val DocFreqCap: Option[Long] = Some(256L)

  /** Library-default LSH bucket cap for the ANN/mining family: a
    * (table, bucket) with more than this many members is a duplication
    * blob (bucket pair fan-out is membership²); the DEFAULT plans keep
    * a deterministic [[boundedMembers]] sample. Exact forms pass
    * `maxBucket = None` explicitly. */
  val BucketCap: Option[Int] = Some(256)

  /** Session shuffle parallelism (spark.sql.shuffle.partitions) — the
    * cluster-sized reducer count, env-derived in GraftSession, never a
    * local constant. */
  def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Pin an exploding operator's reduce-side parallelism. AQE's
    * partition coalescing sizes reducers by MAP-OUTPUT bytes, but a
    * fan-out operator's OUTPUT is orders of magnitude larger than its
    * input (a bucket self-join emits Σm² pairs from Σm rows; a window
    * chain emits ×window rows), so on a small keyed input the whole
    * quadratic expansion collapses into 1–3 serial tasks — measured at
    * sf0.1: the SRP bucket self-join behind q_knn_graph_lsh ran its
    * 2.8 s expansion in ONE task, and the same shape recurs at cluster
    * scale whenever a filtered/sketched input feeds a fan-out join
    * (guide §2.2: reducer count must track output, not input, bytes).
    * A repartition with an EXPLICIT count (REPARTITION_BY_NUM) is
    * exempt from AQE coalescing, so the expansion keeps cluster
    * parallelism; the count follows spark.sql.shuffle.partitions, so
    * it scales with the session, never a local[32] constant. Keyed
    * identically on both self-join sides, the two exchanges still
    * canonicalize to one (ReuseExchange materializes the input once).
    *
    * The SAME lever applies to a CPU-heavy per-row KERNEL over a
    * narrow projected row (the multimodal codec family: ids only,
    * 8 B/row, then an encode∘decode costing ~ms/row): there the
    * scan's split count — 1 task for a single small file — serializes
    * a compute-bound stage, and the exchange ships only the key bytes,
    * negligible at any scale next to the kernel (guide §8: move the
    * lightweight proxy, spread the compute). Measured at sf0.1:
    * q_jpeg_prog_features ran its entire 3.3 s of codec CPU in ONE
    * scan task before this exchange. */
  def fanoutRepartition(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(shufflePartitions(df), keys: _*)

  /** Eager localCheckpoint whose MATERIALIZED byte size then drives the
    * partition count every downstream stage schedules. An iterative
    * loop's per-round state (labels, ranks, survivor sets, HLL register
    * files) is checkpointed at the width of the stage that produced it —
    * `shuffle.partitions`-many partitions regardless of bytes (explicit
    * repartitions are AQE-exempt, and a checkpointed RDD is never
    * re-coalesced) — so EVERY later round schedules `cpus` near-empty
    * tasks per read. Measured at sf0.1 (q_label_prop_capped profile):
    * 32-task stages with 6.5 s of summed task time but 1.1 s of CPU —
    * pure dispatch — and the family runs FASTER at 8 cores than 32
    * (driver c8/c32 ratios 0.33–0.48). Post-materialization we know the
    * exact cached size (driver-side storage metadata, NO job), so
    * coalesce — narrow, zero data movement — to ceil(bytes/target).
    * At cluster scale bytes/target ≥ the session width and this is a
    * NO-OP (guide §2.2: reducer count must track bytes, both ways).
    * Target bytes per partition: `spark.graft.checkpoint.partition.mb`
    * (default 32 MB of deserialized cache — a few hundred ms of
    * downstream work per task); anything but a positive whole number
    * fails the call before it checkpoints. */
  def compactCheckpoint(df: DataFrame): DataFrame = {
    val key = "spark.graft.checkpoint.partition.mb"
    val raw = df.sparkSession.conf.get(key, "32")
    val mb = raw.toLongOption.getOrElse(0L)
    require(mb > 0, s"$key must be a positive whole number of MB, got '$raw'")
    val targetBytes = mb << 20
    val cp = df.localCheckpoint(true)
    // walk the narrow deserialization wrappers down to the persisted RDD
    var r: org.apache.spark.rdd.RDD[_] = cp.rdd
    var hops = 0
    while (r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE &&
           r.dependencies.nonEmpty && hops < 8) {
      r = r.dependencies.head.rdd; hops += 1
    }
    val persistedId = r.id
    df.sparkSession.sparkContext.getRDDStorageInfo
      .find(_.id == persistedId) match {
      case Some(i) =>
        val bytes = i.memSize + i.diskSize
        val cur = cp.rdd.getNumPartitions
        val want = math.max(1L, math.min(cur.toLong,
          (bytes + targetBytes - 1) / targetBytes)).toInt
        if (want < cur) cp.coalesce(want) else cp
      case None => cp // storage info not visible — keep the plain checkpoint
    }
  }

  /** RANK-FREE bounded cap: keep at most `cap` members per key group,
    * chosen in deterministic (h64(id), id) order — equivalent to
    * `row_number() OVER (PARTITION BY keys ORDER BY h64(id), id) <= cap`
    * but WITHOUT the full-group window sort. The window form funnels a
    * hot group's entire membership through one task to be ranked before
    * the cap drops it (measured ×17.7 max-task on a 10×-duplicated
    * corpus); this form goes through the mergeable `bottomk_sample`
    * aggregate, whose partial buffers are ≤ cap entries per group per
    * map partition — the hot group ships O(partitions·cap) sketch
    * entries instead of its membership, and nothing sorts.
    *
    * `id` must be a unique numeric id within its group (it is compared
    * as long; the hash is of its canonical string form, so the DuckDB
    * oracle replays the kept set with the row_number spelling). */
  def boundedMembers(df: DataFrame, keyCols: Seq[String], idCol: String,
                     cap: Int): DataFrame = {
    require(cap > 0, s"boundedMembers: cap must be positive, got $cap")
    df.groupBy(keyCols.map(col): _*)
      .agg(call_function("bottomk_sample",
        TextOps.h64(col(idCol).cast("string")),
        col(idCol).cast("long"), lit(cap)).as("__keep"))
      .select(keyCols.map(col) :+ explode(col("__keep")).as(idCol): _*)
  }

  /** Two-phase aggregation with salting: partial-aggregate on
    * (key, salt) — spreading a hot key over `saltBuckets` reducers —
    * then final-aggregate on the key. Correct for any algebraic
    * aggregate expressed as (partial, merge) column pairs.
    *
    * Example: salted count+sum
    * {{{
    * Scale.saltedAgg(df, Seq("k"), 16)(
    *   Seq(count(lit(1)).as("n"), sum($"v").as("s")),
    *   Seq(sum($"n").as("n"), sum($"s").as("s")))
    * }}}
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int)
               (partial: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partial.head, partial.tail: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Persist a DataFrame as a bucketed, sorted managed table — joins
    * and aggregations on the bucket key(s) then need no shuffle (the
    * pre-partitioning the reference can't express; Spark's bucketing
    * is the cluster-wide equivalent of its per-file layout). Both sides
    * of a recurring batch↔corpus-state join (LSH band index, signature
    * store, chunk table) written with the same (cols, numBuckets)
    * layout join with zero exchanges. Sort columns default to the
    * bucket columns so SortMergeJoin also skips its sort. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, moreBucketCols: Seq[String] = Nil,
                    sortCols: Seq[String] = Nil): Unit = {
    val sort = if (sortCols.nonEmpty) sortCols else bucketCol +: moreBucketCols
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol, moreBucketCols: _*)
      .sortBy(sort.head, sort.tail: _*)
      .saveAsTable(table)
  }

  /** True when the physical plan contains no shuffle exchange — the
    * assertion that a bucketed join was actually co-located. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Persist a DataFrame as a directory-partitioned managed table —
    * the 100 TB layout lever orthogonal to [[writeBucketed]]:
    * bucketing co-locates JOINS on high-cardinality keys; directory
    * partitioning lets both static filters and runtime dynamic
    * partition pruning (DPP) skip whole partitions of a fact scan when
    * a dimension-side filter narrows the partition key at execution
    * time. Low-cardinality keys only (day, event_type, lang) — one
    * directory per value. */
  def writePartitioned(df: DataFrame, table: String, partCol: String,
                       morePartCols: String*): Unit =
    df.write.mode("overwrite")
      .partitionBy(partCol +: morePartCols: _*)
      .format("parquet")
      .saveAsTable(table)
}
