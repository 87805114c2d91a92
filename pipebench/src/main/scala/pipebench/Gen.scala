package pipebench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.Path
import java.util.UUID

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.streaming.AvroWire

/** The benchmark's load generator, kept apart from the system under test:
  * seeded events with the reference producer's distributions (uniform
  * event type, ERROR with the seed's error rate, error code iff ERROR,
  * product id iff a product event, latency 50..1500 ms, a user/session
  * that rotates with 1% probability), the expected report counts taken
  * while generating, and the wire encoding a producer would emit
  * (Confluent-framed Avro keyed by the user UUID), written as one parquet
  * (key, value) file per minute. */
object Gen {
  final case class Ev(
      eventId: String, userId: String, sessionId: String, eventType: String,
      tsMs: Long, latencyMs: Int, status: String, errorCode: Option[Int],
      productId: Option[Int])

  val Types = Seq("VIEW_PRODUCT", "ADD_TO_CART", "CHECKOUT", "PAYMENT", "SEARCH")
  private val ProductTypes = Set("VIEW_PRODUCT", "ADD_TO_CART")

  /** A minute-aligned start time and error rate drawn from the seed. */
  def startMs(seed: Long): Long =
    1704067200000L + new scala.util.Random(seed).nextInt(3650).toLong * 86400000L
  def errorProb(seed: Long): Double = 0.05 + new scala.util.Random(seed ^ 0x5eed).nextDouble() * 0.4

  /** Minute `m` from `start`: `perMinute` events evenly spaced in it. */
  def minute(seed: Long, start: Long, m: Int, perMinute: Int): IndexedSeq[Ev] = {
    val r = new scala.util.Random(seed * 1000003L + m)
    val p = errorProb(seed)
    def uuid() = new UUID(r.nextLong(), r.nextLong()).toString
    var user = uuid()
    var session = uuid()
    (0 until perMinute).map { i =>
      if (r.nextDouble() < 0.01) { user = uuid(); session = uuid() }
      val t = Types(r.nextInt(Types.size))
      val err = r.nextDouble() < p
      Ev(uuid(), user, session, t, start + m * 60000L + i * (60000L / perMinute),
        50 + r.nextInt(1451), if (err) "ERROR" else "SUCCESS",
        if (err) Some(400 + r.nextInt(200)) else None,
        if (ProductTypes(t)) Some(1 + r.nextInt(10000)) else None)
    }
  }

  /** The report a minute of `evs` must produce: (event_type, status) -> n. */
  def expect(evs: Seq[Ev]): Pipe.Expect =
    evs.groupMapReduce(e => (e.eventType, e.status))(_ => 1L)(_ + _)

  private val wireType = MessageTypeParser.parseMessageType(
    "message wire { required binary key; required binary value; }")

  /** Write `evs` as one wire file: (key = 16 UUID bytes, value =
    * magic 0 + schema id + Avro body) per record. */
  def writeWire(evs: Seq[Ev], file: Path): Unit = {
    val schema = new Schema.Parser().parse(AvroWire.SchemaJson)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val typeSchema = schema.getField("event_type").schema()
    val statusSchema = schema.getField("status").schema()
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(bos, null)
    val groups = new SimpleGroupFactory(wireType)
    val out = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(wireType).withConf(new Configuration()).build()
    try evs.foreach { e =>
      bos.reset()
      bos.write(0)
      bos.write(ByteBuffer.allocate(4).putInt(AvroWire.SchemaId).array())
      val rec = new GenericData.Record(schema)
      rec.put("event_id", e.eventId)
      rec.put("user_id", e.userId)
      rec.put("session_id", e.sessionId)
      rec.put("event_type", new GenericData.EnumSymbol(typeSchema, e.eventType))
      rec.put("event_timestamp", e.tsMs)
      rec.put("request_latency_ms", e.latencyMs)
      rec.put("status", new GenericData.EnumSymbol(statusSchema, e.status))
      rec.put("error_code", e.errorCode.map(Int.box).orNull)
      rec.put("product_id", e.productId.map(Int.box).orNull)
      writer.write(rec, enc)
      enc.flush()
      val u = UUID.fromString(e.userId)
      val key = ByteBuffer.allocate(16)
        .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
      out.write(groups.newGroup()
        .append("key", Binary.fromConstantByteArray(key))
        .append("value", Binary.fromConstantByteArray(bos.toByteArray)))
    } finally out.close()
  }

  /** Stage minutes [0, minutes) as wire files `minute-<m>.parquet` in
    * `dir`; returns the files in minute order and each minute's expected
    * report. Minutes are generated in parallel on `threads` threads. */
  def stageWire(seed: Long, start: Long, minutes: Int, perMinute: Int, dir: Path,
      threads: Int): (IndexedSeq[Path], Map[Int, Pipe.Expect]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val jobs = (0 until minutes).map { m =>
        pool.submit(() => {
          val evs = minute(seed, start, m, perMinute)
          val f = dir.resolve(f"minute-$m%05d.parquet")
          writeWire(evs, f)
          (f, expect(evs))
        })
      }
      val done = jobs.map(_.get())
      (done.map(_._1), done.map(_._2).zipWithIndex.map(_.swap).toMap)
    } finally pool.shutdown()
  }
}
