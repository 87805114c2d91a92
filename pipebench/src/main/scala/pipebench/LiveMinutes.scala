package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import graft.Pipeline
import graft.streaming.Ingest

/** Open loop at the reference job's own volume: a feeder thread releases
  * one event-minute (one wire file) into the topic every second on a fixed
  * schedule; a continuous ingest drains the topic into the warehouse; as
  * soon as minute k is committed the minutely report for k is run. The
  * unit sample is freshness: minute k's file due → its report on disk. */
object LiveMinutes {
  val PerMinute = 6000
  val WarmMinutes = 25
  val PeriodNs = 1000000000L

  /** Releases files[from, until) into `topic`, file i due at
    * t0 + (i - from) * period. Runs on its own thread. */
  final class Feeder(files: IndexedSeq[Path], topic: Path) {
    val dueNs = new Array[Long](files.size)
    val lagNs = new Array[Long](files.size)
    @volatile var released = 0

    def start(from: Int, until: Int, t0: Long): Thread = {
      (from until until).foreach(i => dueNs(i) = t0 + (i - from) * PeriodNs)
      val th = new Thread(() => (from until until).foreach { i =>
        var now = System.nanoTime()
        while (now < dueNs(i)) { LockSupport.parkNanos(dueNs(i) - now); now = System.nanoTime() }
        Files.move(files(i), topic.resolve(files(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        lagNs(i) = System.nanoTime() - dueNs(i)
        released += 1
      }, "pipebench-feeder")
      th.setDaemon(true)
      th.start()
      th
    }
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val measured = math.max(1, math.round(c.opts.seconds).toInt)
    val total = WarmMinutes + measured
    val start = Gen.startMs(c.opts.seed)
    val (files, expect) = c.stage {
      Gen.stageWire(c.opts.seed, start, total, PerMinute, c.dir("staged"), c.threads)
    }
    val topic = c.dir("topic")
    val wh = c.dir("warehouse")
    val reports = c.dir("reports")
    val progress = new IngestProgress
    spark.streams.addListener(progress)
    val q = Pipeline.ingest(Ingest.decodeWire(Pipe.wireStream(spark, topic)),
      wh.toString, c.dir("checkpoint").toString, availableNow = false)
    val feeder = new Feeder(files, topic)
    val doneNs = new Array[Long](total)

    def phase(from: Int, until: Int): Unit = {
      val th = feeder.start(from, until, System.nanoTime() + 100000000L)
      (from until until).foreach { m =>
        c.attempt(s"minute $m") {
          if (!progress.awaitRows(q.id, (m + 1).toLong * PerMinute, 60000L))
            sys.error(s"minute $m not committed within 60 s")
          val json = Pipe.report(c, wh, reports, Pipe.triggerFor(start, m))
          doneNs(m) = System.nanoTime()
          ((), Pipe.checkReport(json, expect.getOrElse(m, Map.empty)))
        }
      }
      th.join()
    }

    try {
      phase(0, WarmMinutes)
      val setupDone = c.nowEpochMs
      c.log("warm-up done, measuring")
      val before = c.engineTotals()
      val t0 = System.nanoTime()
      // wall clock (epoch ms) minus monotonic clock (ms), to place batches
      val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
      c.tracer.span("live_minutes.measure") {
        phase(WarmMinutes, total)
        // each committed micro-batch of the window, as an observed span
        progress.batches(q.id).foreach { b =>
          val s = (progress.startEpochMs(b) - offsetMs) * 1000000L
          if (s >= t0) c.tracer.record("ingest.micro_batch", c.tracer.current, s,
            s + b.durationMs.get("triggerExecution").longValue * 1000000L)
        }
      }
      val fresh = (WarmMinutes until total).filter(doneNs(_) > 0)
        .map(m => (doneNs(m) - feeder.dueNs(m)) / 1e9)
      if (c.tracer.enabled) {
        val win = (WarmMinutes until total)
        c.layer ++= progress.layerMetrics(q.id, t0 / 1000000L + offsetMs)
        val batchStarts = progress.batches(q.id).map(progress.startEpochMs)
        val bounds = progress.batches(q.id).map(_.numInputRows).scanLeft(0L)(_ + _)
        // the batch that took file m is the first whose cumulative rows pass m's rows
        val pickup = win.flatMap { m =>
          val i = bounds.indexWhere(_ > m.toLong * PerMinute) - 1
          if (i < 0 || i >= batchStarts.size) None
          else Some((batchStarts(i) - (feeder.dueNs(m) / 1000000L + offsetMs)) / 1e3)
        }
        c.layer("ingest.pickup_wait_s") = if (pickup.isEmpty) 0.0 else Stats.median(pickup)
        c.layer("feeder.lag_max_s") = win.map(feeder.lagNs(_)).max / 1e9
        c.layer("feeder.minutes_released") = (feeder.released - WarmMinutes).toDouble
        Stats.tail(fresh).foreach { case (v, pct, _) =>
          c.layer("freshness.tail_s") = v
          c.layer("freshness.tail_pct") = pct
        }
        c.layer("freshness.samples") = fresh.size.toDouble
        c.tracer.last("live_minutes.measure").foreach(Workloads.reportLayers(c, _))
        Workloads.engineLayers(c, before)
        val (s, rows) = Pipe.decodeProbe(c, files.map(f => topic.resolve(f.getFileName)))
        c.layer("avro_wire.decode_s") = s
        c.layer("avro_wire.records_per_s") = rows / s
      }
      Outcome(fresh, setupDone)
    } finally {
      q.stop()
      spark.streams.removeListener(progress)
    }
  }
}
