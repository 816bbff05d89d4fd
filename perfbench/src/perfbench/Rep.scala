package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}

/** One cold repetition of one workload: a fresh JVM builds a fresh
  * session, drives the program's public entry points on the generated
  * inputs, consumes every result in full and writes one JSON result
  * file. `run.py` starts one of these per timed repetition.
  *
  * Usage: `Rep --workload W --input DIR --tables DIR --out DIR
  *   --result FILE --cpus N --trace 0|1 [--queries FILE]`
  */
object Rep {
  /** One timed call into the program: its name, seconds, result rows,
    * and the digest or collected rows the checker compares. */
  final case class Op(name: String, seconds: Double, rows: Long,
                      digest: String = null, collected: Seq[Row] = null)

  final class Ctx(val spark: SparkSession, val input: Path, val tables: String,
                  val out: Path, val args: Map[String, String]) {
    lazy val manifest: com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(input.resolve("manifest.json")))
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val workload = args("workload")
    val traced = args.getOrElse("trace", "0") == "1"
    val (spark, buildS) = timed(GraftSession.build(args("cpus")))
    // run.py takes setup_s from its own launch time to this stamp
    val now = java.time.Instant.now()
    println(s"PERFBENCH_READY ${now.getEpochSecond * 1000000L + now.getNano / 1000}")
    val ctx = new Ctx(spark, Paths.get(args("input")), args("tables"),
      Paths.get(args("out")), args)
    val tr = if (traced) Some(new Traced(new Trace(args.getOrElse("run", "run")),
      new Engine(spark))) else None
    val (ops, wall) = try {
      tr match {
        case None => timed(Workloads.run(workload, ctx))
        case Some(t) =>
          val perOp: (String, () => Op) => Op =
            (n, f) => t(s"op:$n", withEngine = true)(f())
          val r = t("workload", withEngine = true)(
            timed(Workloads.run(workload, ctx, perOp)))
          t("layers")(Layers.run(workload, ctx, t))
          t("kernels")(Layers.kernels(ctx, t))
          r
      }
    } catch {
      case e: Throwable =>
        writeResult(args("result"), Json.obj("error" -> e.toString))
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    val heapMb = retainedHeapMb()
    val fields = Seq[(String, Any)](
      "workload" -> workload,
      "session_build_s" -> buildS,
      "wall_s" -> wall,
      "retained_heap_mb" -> heapMb,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "jdk" -> System.getProperty("java.runtime.version"),
      "ops" -> Json.Raw(ops.map(opJson).mkString("[", ",", "]")),
      "extra" -> ctx.extra.toMap) ++ tr.toSeq.flatMap { t =>
        t.engine.close()
        Seq("spans" -> Json.Raw(t.trace.toJson),
          "engine" -> t.engineBySpan.toMap,
          "layers" -> Layers.metrics(t, ctx))
      }
    writeResult(args("result"), Json.obj(fields: _*))
    spark.stop()
  }

  /** Heap in use after full GCs, once it stops moving: a GC lets Spark's
    * ContextCleaner drop unreachable broadcasts, shuffles and RDD blocks
    * asynchronously, which frees more on the next GC. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = { System.gc(); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var prev = used
    var cur = prev
    var i = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = used
      i += 1
    } while (math.abs(cur - prev) > 0.5 && i < 10)
    cur
  }

  private def opJson(o: Op): String = Json.obj(
    "name" -> o.name, "s" -> o.seconds, "rows" -> o.rows, "digest" -> o.digest,
    "collected" -> Option(o.collected).map(rs => Json.Raw(rs.map(rowJson)
      .mkString("[", ",", "]"))).orNull)

  def rowJson(r: Row): String = r.toSeq.map {
    case t: java.sql.Timestamp => Json.value(t.toInstant.getEpochSecond)
    case d: java.sql.Date => Json.value(d.toString)
    case b: java.math.BigDecimal => Json.value(b.toPlainString)
    case v => Json.value(v)
  }.mkString("[", ",", "]")

  private def writeResult(path: String, json: String): Unit = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
