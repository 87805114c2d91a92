package pipebench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** One benchmark run: start the session, run one workload, check its
  * outputs, and print one JSON result line (prefixed `PIPEBENCH_RESULT `,
  * the launcher strips the prefix). Untraced runs report the end-to-end
  * metrics; traced runs (`--trace 1`) report the per-layer ones and write
  * their spans to `--trace-out`.
  *
  * Usage (normally through run.py, which builds the classpath and
  * passes the launch time): pipebench.Main --workload <name> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *   --launch-epoch-ms <ms> [--trace-out <file>] */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val workload = Workloads.all.getOrElse(opts.workload, {
      System.err.println(s"unknown workload ${opts.workload}; known: ${Workloads.all.keys.mkString(", ")}")
      sys.exit(2)
    })
    val runId = s"${opts.workload}-${opts.seed}-${ProcessHandle.current().pid()}"
    Files.createDirectories(opts.workDir)
    val tracer = new Tracer(opts.trace, runId)
    val s0 = System.nanoTime()
    val spark = tracer.span("graft_session.start") {
      GraftSession.local(Runtime.getRuntime.availableProcessors)
    }
    val sessionS = (System.nanoTime() - s0) / 1e9
    val engine = if (opts.trace) Some(new EngineCounters) else None
    engine.foreach(spark.sparkContext.addSparkListener)
    tracer.sc = Some(spark.sparkContext)
    val c = new Ctx(spark, opts, tracer, engine)
    c.log(f"session up ($sessionS%.1f s)")

    val outcome = try Some(workload(c)) catch {
      case e: Throwable =>
        c.attempted += 1; c.failed += 1
        c.note(s"${opts.workload} aborted: $e")
        e.printStackTrace()
        None
    }
    c.log(s"workload done: ${c.attempted} operations, ${c.failed} failed")
    val samples = outcome.toSeq.flatMap(_.samples)
    val p50 = if (samples.isEmpty) -1.0 else Stats.median(samples)
    c.log(samples.map(x => f"$x%.3f").mkString(s"${samples.size} samples (s): ", " ", ""))
    val metrics: Seq[(String, Double)] =
      if (!opts.trace) Seq(
        "latency_p50_s" -> p50,
        "setup_s" -> outcome.map(o => (o.setupDoneEpochMs - opts.launchEpochMs) / 1e3 - c.stagingS).getOrElse(-1.0),
        "peak_rss_mb" -> Run.peakRssMb(),
        "live_heap_mb" -> Run.liveHeapMb())
      else {
        c.layer("graft_session.start_s") = sessionS
        c.layer("trace.latency_p50_s") = p50
        tracer.last(s"${opts.workload}.measure").foreach { root =>
          val acc = tracer.accounting(root)
          c.layer("trace.wall_s") = acc.wallS
          c.layer("trace.layers_self_s") = acc.selfS.values.sum
          c.layer("trace.remainder_s") = acc.remainderS
          c.layer("trace.overlap_s") = acc.overlapS
          System.err.println(f"[pipebench] self time over a ${acc.wallS}%.3f s window:")
          acc.selfS.toSeq.sortBy(-_._2).foreach { case (n, s) =>
            System.err.println(f"[pipebench]   $n%-32s $s%9.3f s")
          }
          System.err.println(f"[pipebench]   ${"(remainder)"}%-32s ${acc.remainderS}%9.3f s")
        }
        Workloads.perLayer.map { case (n, _) => n -> c.layer.getOrElse(n, 0.0) }
      }
    val units = (Workloads.endToEnd ++ Workloads.perLayer).toMap
    for (f <- opts.traceOut; e <- engine) {
      org.apache.spark.PipebenchBus.drain(spark.sparkContext)
      Files.createDirectories(f.getParent)
      Files.write(f, tracer.toJsonLines(s => "," + e.ofSpan(s.id).json).asJava)
    }
    val correct = outcome.isDefined && samples.nonEmpty && c.failed == 0
    val json = metrics.map { case (n, v) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) -1.0 else v}, "unit": "${units(n)}"}"""
    }.mkString(s"""{"correct": $correct, "attempted": ${math.max(1L, c.attempted)}, "failed": ${c.failed}, "metrics": {""", ", ", "}}")
    println(s"PIPEBENCH_RESULT $json")
    System.out.flush()
    spark.stop()
    sys.exit(if (outcome.isDefined) 0 else 1)
  }
}
