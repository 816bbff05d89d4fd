package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The on-disk format of one maintained state directory, and the only
  * code that lists, names, creates or deletes its files. Every
  * [[StreamOps]] maintainer keeps its state in one or more of these:
  *
  *   - VERSIONED state: `v=<version>` parquet dirs, each made visible by
  *     an atomically created `_COMMIT_<version>` marker whose content is
  *     the highest stream batch id applied into it (the replay gate);
  *   - an APPEND index: per-batch `b=<id>` dirs plus the newest
  *     consolidated run `c=<id>`, committed by a `<marker><id>` file
  *     (`_CIDX_` for the CC postings, `_AIDX_` for the pipeline kinds);
  *   - plain markers: `_WATERMARK` (text), the `_ARR_` / `_ARRBASE_`
  *     arrival journal, and the retired layout's `_MAXID_`.
  *
  * A name whose id suffix is not a number (`_COMMIT_7.tmp`, a copy
  * tool's leftover) is not an entry of any kind, so inspection debris
  * never fails a read, an apply or a compaction. Single-writer, like
  * every foreachBatch state here.
  */
private[streaming] final class StateDir(sp: SparkSession, path: String) {
  import StateDir._

  private val root = new Path(path)
  private val fs = root.getFileSystem(sp.sparkContext.hadoopConfiguration)

  private def names: Seq[String] =
    if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq.map(_.getPath.getName)

  private def idsIn(names: Seq[String], prefix: String): Seq[Long] =
    names.flatMap(n => if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None)

  /** Ids of the entries named `<prefix><id>`. */
  def ids(prefix: String): Seq[Long] = idsIn(names, prefix)

  /** The largest id under `prefix`, or `none` when there is none. */
  def maxId(prefix: String, none: Long): Long = ids(prefix).foldLeft(none)(math.max)

  /** Whether any entry's name starts with `prefix`, numeric or not. */
  def has(prefix: String): Boolean = names.exists(_.startsWith(prefix))

  /** Create (or replace) the marker `name` holding `text`. */
  def mark(name: String, text: String = ""): Unit = {
    val out = fs.create(new Path(root, name), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The trimmed content of the marker `name`, None when it does not
    * exist. Any other failure to read it (a directory in its place, an
    * I/O error) rethrows: treating it as absent would drop the guard
    * the marker holds. */
  def text(name: String): Option[String] = {
    val p = new Path(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  /** Delete every `<prefix><id>` entry with `id < bound`. */
  def deleteBelow(prefix: String, bound: Long): Unit =
    ids(prefix).filter(_ < bound).foreach(id => fs.delete(new Path(root, s"$prefix$id"), true))

  private def readOrEmpty(dirs: Seq[String], schemaDDL: String): DataFrame = {
    val schema = StructType.fromDDL(schemaDDL)
    if (dirs.isEmpty) sp.createDataFrame(sp.sparkContext.emptyRDD[Row], schema)
    else sp.read.schema(schema).parquet(dirs: _*)
  }

  // ---- versioned state

  /** Committed version ids. */
  def committed: Seq[Long] = ids(Commit)

  /** The newest committed version, or an empty frame of the schema. */
  def read(schemaDDL: String): DataFrame =
    readOrEmpty(committed.maxOption.map(v => s"$path/v=$v").toSeq, schemaDDL)

  /** One retained committed version; asking for any other is an error. */
  def readAt(version: Long): DataFrame = {
    val c = committed
    require(c.contains(version),
      s"version $version not committed (retained: ${c.sorted.mkString(",")})")
    sp.read.parquet(s"$path/v=$version")
  }

  /** Highest stream batch id applied into the newest committed version
    * (−1 when no version exists), read from that marker's content. A
    * legacy EMPTY marker falls back to its version number, which equaled
    * the batch id before maintenance commits existed. That fallback is
    * ONLY for the empty-content case: a read or parse failure rethrows.
    * Swallowing it would over-report after a maintenance commit (version
    * > applied id), silently widening the replay gate — an unapplied
    * replayed batch with id ≤ the version would be dropped, i.e. data
    * loss under at-least-once delivery. Better to fail the trigger and
    * let the retry re-read the marker. */
  def lastApplied: Long = committed.maxOption.fold(-1L) { v =>
    val txt = text(s"$Commit$v").getOrElse(
      throw new java.io.FileNotFoundException(s"$path/$Commit$v"))
    if (txt.isEmpty) v else txt.toLong
  }

  /** The at-least-once replay gate: commit `next` as the state after
    * stream batch `id`, unless a committed version already holds it
    * (then `next` is never evaluated). */
  def applyOnce(id: Long)(next: => DataFrame): Unit =
    if (id > lastApplied) commit(next, id)

  /** Atomically publish `next` as a new committed version whose marker
    * carries `applied`, and GC all but it and the previous version. The
    * marker's content, not the version number, is the replay gate: a
    * maintenance commit (vacuum, compaction, recap) passes the current
    * [[lastApplied]] and takes the next version number, so it never
    * collides with, or masks, a future stream batch id (the Delta-style
    * split between table version and writer idempotency token). A stream
    * commit keeps version = batch id while no maintenance commit has
    * moved the counter past it, so reads by batch id keep working. */
  def commit(next: DataFrame, applied: Long): Unit = {
    val prev = committed
    val version = prev.maxOption.fold(applied)(v => math.max(applied, v + 1))
    // mode("overwrite") clears a partial v=<version> left by a failed retry
    next.write.mode("overwrite").parquet(s"$path/v=$version")
    mark(s"$Commit$version", applied.toString) // the commit point
    prev.filter(_ < prev.max).foreach { v =>
      fs.delete(new Path(root, s"v=$v"), true)
      fs.delete(new Path(root, s"$Commit$v"), false)
    }
  }

  // ---- append index

  /** The append index's newest consolidated run id (−1 when none) and
    * the `b=` ids newer than it that `keep` admits, ascending. */
  private def live(marker: String, keep: Long => Boolean): (Long, Seq[Long]) = {
    val ns = names
    val base = idsIn(ns, marker).foldLeft(-1L)(math.max)
    (base, idsIn(ns, "b=").filter(id => id > base && keep(id)).sorted)
  }

  private def dirs(base: Long, bIds: Seq[Long]): Seq[String] =
    (if (base >= 0) Seq(s"$path/c=$base") else Nil) ++ bIds.map(id => s"$path/b=$id")

  /** Live pieces of the append index whose compactions commit
    * `<marker><id>`: the newest consolidated run `c=<id>` plus every
    * `b=` dir newer than it. `except` skips one batch's dir: a
    * crashed-and-retried apply must read PRIOR state only — its own
    * orphan dir from the failed attempt would otherwise feed back into
    * the retry. Orphans are never compacted (see [[compact]]'s bound), so
    * the exclusion holds across compactions. */
  def pieces(marker: String, except: Long = Long.MinValue): Seq[String] = {
    val (base, bIds) = live(marker, _ != except)
    dirs(base, bIds)
  }

  /** [[pieces]] read with the given schema, or an empty frame of it. */
  def readPieces(marker: String, schemaDDL: String,
                 except: Long = Long.MinValue): DataFrame =
    readOrEmpty(pieces(marker, except), schemaDDL)

  /** COMPACT the append index: fold the consolidated run and every newer
    * `b=` dir with id ≤ `maxEligible` into ONE run `c=<id>`, committed by
    * an atomic `<marker><id>` file before the superseded pieces are
    * deleted. Crash-safe at every step: until the marker exists readers
    * use the old pieces; after it, the old pieces are dead weight that a
    * re-run deletes. Fewer than two pieces is a no-op. Returns the number
    * of pieces folded. */
  def compact(marker: String, maxEligible: Long): Long = {
    val (base, bIds) = live(marker, _ <= maxEligible)
    val folded = dirs(base, bIds)
    if (folded.size < 2) return 0L
    val top = bIds.max
    sp.read.parquet(folded: _*).write.mode("overwrite").parquet(s"$path/c=$top")
    mark(s"$marker$top") // the commit point
    deleteBelow("b=", top + 1)
    deleteBelow("c=", top)
    deleteBelow(marker, top)
    folded.size.toLong
  }
}

private[streaming] object StateDir {
  private val Commit = "_COMMIT_"

  /** Marker of a consolidated run of the CC posting index. */
  val CcIndex = "_CIDX_"
  /** Marker of a consolidated run of a pipeline append kind. */
  val AppendIndex = "_AIDX_"
  /** The merge state's vacuum watermark (text). */
  val Watermark = "_WATERMARK"
  /** The pipeline's arrival journal, one empty `_ARR_<arr>` per batch. */
  val Arrival = "_ARR_"
  /** The pipeline's arrival base after a lost checkpoint. */
  val ArrivalBase = "_ARRBASE_"
  /** Journal of the retired doc-id-order pipeline layout. */
  val LegacyMaxId = "_MAXID_"
}
