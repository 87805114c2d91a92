package pipebench

import java.nio.file.Path
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Pipeline
import graft.reference.MinuteReport
import graft.sources.Warehouse
import graft.streaming.Ingest

/** Calls shared by the pipeline workloads: the wire topic as a stream, the
  * minutely report (whole, or part by part when traced) and its check, and
  * the AvroWire decode probe. */
object Pipe {

  /** Expected report content of one minute: (event_type, status) -> n. */
  type Expect = Map[(String, String), Long]

  /** The wire topic as a stream of (key, value) records, as a Kafka source yields. */
  def wireStream(spark: SparkSession, topic: Path): DataFrame =
    spark.readStream.schema("key BINARY, value BINARY").parquet(topic.toString)

  /** The trigger instant whose report covers minute `m` from `start`. */
  def triggerFor(start: Long, m: Int): Instant = Instant.ofEpochMilli(start + (m + 1) * 60000L)

  /** One minutely report. Untraced it is the facade call; traced, the
    * facade's parts are called one by one inside spans, in its order. */
  def report(c: Ctx, wh: Path, reportDir: Path, trigger: Instant): String =
    if (!c.tracer.enabled) Pipeline.minutelyReport(c.spark, wh.toString, reportDir.toString, trigger)
    else c.tracer.span("pipeline.minutely_report") {
      val t = c.tracer
      val fileName = MinuteReport.tehranMinuteFileName(trigger)
      val minute = java.sql.Timestamp.from(
        trigger.truncatedTo(java.time.temporal.ChronoUnit.MINUTES).minusSeconds(60))
      val t0 = System.nanoTime()
      val extracted = t.span("warehouse.read_minute")(Warehouse.readMinute(c.spark, wh.toString, minute))
      val rep = t.span("minute_report.analyze") {
        MinuteReport.analyzeWithLatency(extracted, fileName,
          processTime = (System.nanoTime() - t0) / 1e9)
      }
      val json = t.span("minute_report.to_json") {
        if (rep.totalEvents == 0L) MinuteReport.noDataJson(fileName.stripSuffix(".parquet"))
        else MinuteReport.toJson(rep)
      }
      t.span("warehouse.write_report") {
        Warehouse.writeReportJson(c.spark, json, s"$reportDir/${fileName.stripSuffix(".parquet")}")
      }
      c.sample("warehouse.files_listed", listedFiles(extracted).toDouble)
      c.sample("minute_report.rows", rep.totalEvents.toDouble)
      json
    }

  /** Files the read's file index listed (the whole warehouse it saw). */
  def listedFiles(df: DataFrame): Long =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.inputFiles.length.toLong }.sum

  /** None when the report JSON holds exactly the expected counts. */
  def checkReport(json: String, want: Expect): Option[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    if (json.contains("No data")) return Some(s"no-data sentinel: $json")
    val r = parse(json) \ "report"
    def num(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => sys.error(s"not a count: $other")
    }
    val got: Expect = (r \ "by_event_type") match {
      case JObject(types) => types.flatMap { case (t, cells) =>
        Seq("SUCCESS", "ERROR").map(st => (t, st) -> num(cells \ st))
      }.filter(_._2 != 0L).toMap
      case other => return Some(s"no by_event_type: $other")
    }
    val total = num(r \ "total_events")
    val errors = num(r \ "total_errors")
    if (got != want) Some(s"counts $got != expected $want")
    else if (total != want.values.sum) Some(s"total_events $total != ${want.values.sum}")
    else if (errors != want.collect { case ((_, "ERROR"), n) => n }.sum) Some(s"total_errors $errors")
    else None
  }

  /** Time `Ingest.decodeWire` over the staged wire bytes read as one
    * batch frame (the AvroWire layer on its own); (seconds, records). */
  def decodeProbe(c: Ctx, files: Seq[Path]): (Double, Long) = {
    val frame = c.spark.read.schema("key BINARY, value BINARY").parquet(files.map(_.toString): _*)
    val rows = frame.count()
    val t0 = System.nanoTime()
    c.tracer.span("avro_wire.decode") {
      Ingest.decodeWire(frame).write.format("noop").mode("overwrite").save()
    }
    ((System.nanoTime() - t0) / 1e9, rows)
  }
}

/** Streaming progress of the ingest queries, through a listener the
  * benchmark registers; also tells waiters how many rows are committed. */
final class IngestProgress extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var committed = Map.empty[java.util.UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      seen.add(p)
      synchronized {
        committed += p.id -> (committed.getOrElse(p.id, 0L) + p.numInputRows)
        notifyAll()
      }
    }
  }

  /** Wait until query `id` has committed at least `rows` rows. */
  def awaitRows(id: java.util.UUID, rows: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committed.getOrElse(id, 0L) < rows && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    committed.getOrElse(id, 0L) >= rows
  }

  def batches(id: java.util.UUID): Seq[StreamingQueryProgress] =
    seen.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Per-batch medians of the progress durations, as ingest.* metrics,
    * over the batches that started at or after `sinceEpochMs`. */
  def layerMetrics(id: java.util.UUID, sinceEpochMs: Long): Seq[(String, Double)] = {
    val bs = batches(id).filter(startEpochMs(_) >= sinceEpochMs)
    def p50(key: String): Double = {
      val xs = bs.flatMap(b => Option(b.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq(
      "ingest.trigger_ms" -> p50("triggerExecution"),
      "ingest.add_batch_ms" -> p50("addBatch"),
      "ingest.query_planning_ms" -> p50("queryPlanning"),
      "ingest.get_batch_ms" -> p50("getBatch"),
      "ingest.latest_offset_ms" -> p50("latestOffset"),
      "ingest.wal_commit_ms" -> p50("walCommit"),
      "ingest.commit_offsets_ms" -> p50("commitOffsets"),
      "ingest.batches" -> bs.size.toDouble,
      "ingest.input_rows" -> bs.map(_.numInputRows).sum.toDouble)
  }

  /** Wall-clock start (epoch ms) of a batch. */
  def startEpochMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
}
