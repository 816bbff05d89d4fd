package graft

/** Stage-level profiler for the optimization rounds (guide §1: decide
  * whether time goes to shuffle read/write, compute, or scheduling
  * before touching anything). Runs each named query once (after one
  * sf0.001 warm-up pass) and prints, per stage: wall time, executor
  * run and CPU time, task count, shuffle bytes read/written, input
  * bytes, and the first graft line of the stage's call site, as
  * recorded by [[graft.obs.QueryMetrics]]. With `GRAFT_PROFILE_NODES`
  * set it first prints every executed plan node with non-trivial
  * metrics. Usage:
  *
  *   sbt 'runMain graft.StageProfile <sfDir> q_a q_b ...'
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: StageProfile <sfDir> <query> [query ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[profile] unknown: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.build(cpus)

    // every executed plan node whose runtime metrics are non-trivial —
    // the per-operator attribution the disabled UI would have shown
    def dumpMetrics(m: graft.obs.QueryMetrics): Unit =
      for ((p, depth) <- m.nodes) {
        val ms = p.metrics.filter { case (k, m) =>
          m.value > 0 && (k.contains("time") || k.contains("Time") ||
            k == "numOutputRows" || k.contains("bytes") || k.contains("spill"))
        }.map { case (k, m) =>
          val v = if (m.metricType == "timing") s"${m.value}ms"
            else if (m.metricType == "nsTiming") s"${m.value / 1000000}ms"
            else if (k == "numOutputRows") s"${m.value}r"
            else s"${m.value}"
          s"$k=$v"
        }.mkString(" ")
        if (ms.nonEmpty) println("  " * depth + s"${p.nodeName}: $ms")
      }

    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    val wantNodes = sys.env.contains("GRAFT_PROFILE_NODES")
    for (n <- names) {
      // warm-up at the tiny sf: codegen/JIT/class-loading off the clock
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => }
      sweep()
      spark.sparkContext.setJobDescription(n)
      val ((ok, wallMs), m) = graft.obs.QueryMetrics.of(spark) {
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(n)(spark, sfDir).count(); true }
          catch { case t: Throwable => println(s"[profile] $n FAILED: $t"); false }
        (ok, (System.nanoTime() - t0) / 1e6)
      }
      if (ok && wantNodes) dumpMetrics(m)
      println(f"%n=== $n  wall=${wallMs}%.0f ms  stages=${m.stages.size}  ok=$ok")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
        f"${"tasks"}%5s ${"shR_kB"}%8s ${"shW_kB"}%8s ${"in_kB"}%9s  site")
      for (st <- m.stages.sortBy(st => st.submitted - st.completed)) {
        val site = st.site.linesIterator.find(l => l.contains("graft") && !l.contains("StageProfile"))
          .getOrElse(st.site.linesIterator.take(1).mkString).trim
        println(f"${st.id}%6d ${st.completed - st.submitted}%8d ${st.runMs}%8d ${st.cpuMs}%8d " +
          f"${st.tasks}%5d ${st.shuffleReadBytes / 1024}%8d ${st.shuffleWriteBytes / 1024}%8d " +
          f"${st.inputBytes / 1024}%9d  ${site.take(90)}")
      }
      sweep()
    }
    spark.stop()
  }
}
