package pipebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    launchEpochMs: Double,
    workDir: Path,
    dataDir: Path,
    traceOut: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      launchEpochMs = need("launch-epoch-ms").toDouble,
      workDir = Paths.get(need("work")).toAbsolutePath,
      dataDir = Paths.get(need("data")).toAbsolutePath,
      traceOut = kv.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }
}

/** What a workload hands back: the unit-of-work samples (seconds) of the
  * measured window, and when its set-up (session + warm-up) finished. */
final case class Outcome(samples: Seq[Double], setupDoneEpochMs: Double)

/** Shared state of a run: the session, the tracer, the operation tally,
  * the per-layer metrics a workload fills in, and the time spent staging
  * inputs (excluded from set-up time). */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val engine: Option[EngineCounters]) {
  private var dirs = 0
  var stagingS = 0.0
  var attempted = 0L
  var failed = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val perCall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def threads: Int = spark.sparkContext.defaultParallelism

  /** Record one per-call value of a layer count (traced runs). */
  def sample(name: String, v: Double): Unit = synchronized {
    perCall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def samples(name: String): Seq[Double] = synchronized(perCall.get(name).toSeq.flatten)

  /** A fresh directory under the run's work directory. */
  def dir(name: String): Path = synchronized {
    dirs += 1
    Files.createDirectories(opts.workDir.resolve(f"$dirs%03d-$name"))
  }

  /** Generate inputs before timing; the time is kept out of set-up. */
  def stage[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      stagingS += (System.nanoTime() - t0) / 1e9
      log(f"inputs staged ($stagingS%.1f s, kept out of set-up)")
    }
  }

  /** Count one operation; it fails when it throws or its check fails. */
  def attempt[T](what: String)(body: => (T, Option[String])): Option[T] = {
    attempted += 1
    scala.util.Try(body) match {
      case scala.util.Success((v, None)) => Some(v)
      case scala.util.Success((v, Some(why))) =>
        failed += 1; note(s"$what: $why"); Some(v)
      case scala.util.Failure(e) =>
        failed += 1; note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def note(problem: String): Unit = System.err.println(s"[pipebench] FAILED $problem")

  def nowEpochMs: Double = System.currentTimeMillis().toDouble

  /** A progress line on stderr, stamped with seconds since launch. */
  def log(msg: String): Unit =
    System.err.println(f"[pipebench] t=${(nowEpochMs - opts.launchEpochMs) / 1e3}%.1fs $msg")

  /** Engine totals, read after the listener bus has caught up. */
  def engineTotals(): Option[EngineCounters#Counts] = engine.map { e =>
    org.apache.spark.PipebenchBus.drain(spark.sparkContext)
    e.total
  }
}

object Run {
  /** Heap still in use after a full collection, MB: the data the run
    * retains (caches, session state), which the fixed-size heap hides
    * from the resident set. */
  def liveHeapMb(): Double = {
    System.gc()
    // a second collection after Spark's ContextCleaner has dropped the
    // broadcast and shuffle state the first one released
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), MB; -1 when unreadable. */
  def peakRssMb(): Double = scala.util.Try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)
}
