package graftbench

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** Field kinds of the replicated tables, in the Debezium/Confluent
  * encodings the reference's connector emits.
  */
sealed abstract class Kind(val avro: String)
object Kind {
  case object IntK extends Kind("\"int\"")
  case object StrK extends Kind("\"string\"")
  case object DateK extends Kind("""{"type":"int","logicalType":"date"}""")
  case object MoneyK extends Kind("""{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}""")
  case object MicrosK extends Kind("""{"type":"long","logicalType":"timestamp-micros"}""")
}
import Kind._

/** One replicated source table. Every table has an int pk `id` and a
  * `created_at` date; the target partitions by its year and month.
  */
final case class SrcTable(
    name: String,
    keyId: Int,
    versions: Seq[(Int, Seq[(String, Kind)])]) {
  val topic: String = s"pg.public.$name"
  val keySchemaJson: String =
    s"""{"type":"record","name":"${name}_key","fields":[{"name":"id","type":"int"}]}"""

  def valueSchemaJson(vid: Int): String = {
    val fields = versions.find(_._1 == vid).get._2.map { case (n, k) =>
      if (n == "id") s"""{"name":"id","type":"int"}"""
      else s"""{"name":"$n","type":["null",${k.avro}],"default":null}"""
    } ++ Seq(
      """{"name":"__deleted","type":["null","string"],"default":null}""",
      """{"name":"__timestamp","type":["null","long"],"default":null}""",
      """{"name":"__log_sequence_number","type":["null","long"],"default":null}""")
    s"""{"type":"record","name":"$name","fields":[${fields.mkString(",")}]}"""
  }

  def fields(vid: Int): Seq[(String, Kind)] = versions.find(_._1 == vid).get._2
}

object SrcTable {
  /** The columns of the reference's E2E tables (FIXTURES.md section 2). */
  val Users = SrcTable("users", 1, Seq(
    11 -> Seq("id" -> IntK, "name" -> StrK, "email" -> StrK, "created_at" -> DateK),
    // v2 appends a column, as ALTER TABLE ADD COLUMN does mid-stream
    12 -> Seq("id" -> IntK, "name" -> StrK, "email" -> StrK, "created_at" -> DateK,
      "phone_number" -> StrK)))
  val Orders = SrcTable("orders", 2, Seq(
    21 -> Seq("id" -> IntK, "order_date" -> MicrosK, "total_amount" -> MoneyK, "created_at" -> DateK)))
  val Products = SrcTable("products", 3, Seq(
    31 -> Seq("id" -> IntK, "name" -> StrK, "price" -> MoneyK, "created_at" -> DateK)))
  val All: IndexedSeq[SrcTable] = IndexedSeq(Users, Orders, Products)

  /** 2024-11-01 as days since the epoch; initial keys span two months. */
  val BaseDay = 20028
  val SpanDays = 61
  val BaseMillis = 1735689600000L // 2025-01-01T00:00:00Z

  /** `created_at` of a key of table `t`: ids are assigned in creation
    * order (SERIAL), so a key's date is a pure function of its id. Ids
    * past the initial keys are newer than every pre-loaded key.
    */
  def createdDay(id: Int, t: Int): Int =
    BaseDay + ((id - 1).toLong * SpanDays / Trickle.InitialKeys(t)).toInt

  /** Column values of one change in schema order (logical form: ints,
    * strings, epoch days, cents, epoch micros). Derived from the event's
    * seed, so the model can rebuild any row without keeping the payloads.
    */
  def values(t: Int, id: Int, vid: Int, seed: Long): Array[Any] = {
    val r = new SplittableRandom(seed)
    val day = createdDay(id, t)
    All(t).fields(vid).map {
      case ("id", _) => id
      case ("created_at", _) => day
      case ("name", _) => s"${All(t).name}-$id-${r.nextInt(100000)}"
      case ("email", _) => s"u$id.${r.nextInt(1000)}@example.com"
      case ("phone_number", _) => f"555-${r.nextInt(10000)}%04d"
      case ("total_amount", _) | ("price", _) => 100L + r.nextInt(9999900)
      case ("order_date", _) => (day * 86400L + r.nextInt(86400)) * 1000000L
      case (n, _) => throw new IllegalArgumentException(n)
    }.toArray
  }
}

/** The change events of one micro-batch, column-wise. Payloads are not
  * kept: `seed` regenerates them ([[SrcTable.values]]).
  */
final class Batch {
  private var cap = 1024
  var n = 0
  var table = new Array[Byte](cap)
  var id = new Array[Int](cap)
  var vid = new Array[Int](cap)
  var lsn = new Array[Long](cap)
  var del = new Array[Boolean](cap)
  var seed = new Array[Long](cap)
  var part = new Array[Int](cap)
  var stale = new Array[Boolean](cap)
  var dup = new Array[Boolean](cap)

  def add(t: Int, i: Int, v: Int, l: Long, d: Boolean, s: Long, p: Int,
      isStale: Boolean = false, isDup: Boolean = false): Unit = {
    if (n == cap) {
      cap *= 2
      table = java.util.Arrays.copyOf(table, cap); id = java.util.Arrays.copyOf(id, cap)
      vid = java.util.Arrays.copyOf(vid, cap); lsn = java.util.Arrays.copyOf(lsn, cap)
      del = java.util.Arrays.copyOf(del, cap); seed = java.util.Arrays.copyOf(seed, cap)
      part = java.util.Arrays.copyOf(part, cap); stale = java.util.Arrays.copyOf(stale, cap)
      dup = java.util.Arrays.copyOf(dup, cap)
    }
    table(n) = t.toByte; id(n) = i; vid(n) = v; lsn(n) = l; del(n) = d; seed(n) = s
    part(n) = p; stale(n) = isStale; dup(n) = isDup
    n += 1
  }
}

/** Event mix of a workload, as shares of generated events. */
final case class Mix(insert: Double, update: Double, delete: Double, stale: Double,
    dup: Double, reinsert: Double)

/** A seeded CDC change stream over [[SrcTable.All]].
  *
  * @param initialKeys keys per table that exist before the first batch
  *                    (emitted as [[initial]], the pre-load)
  * @param recency     update/delete key choice: the distance back from
  *                    the newest key is exponential with this mean, as a
  *                    share of all keys, so recent keys are hot
  * @param switchAt    event ordinal from which `users` changes use value
  *                    schema v2 (adds `phone_number`)
  */
final class CdcGen(
    seed: Long,
    nproc: Int,
    initialKeys: Array[Int],
    tableShare: Array[Double],
    mix: Mix,
    recency: Double,
    switchAt: Long) {
  private val rng = new SplittableRandom(seed)
  private var lsnClock = 0L
  private var emitted = 0L
  private val maxId = initialKeys.clone()
  // per table: last source LSN per id (0 = never existed), liveness
  private val lastLsn = Array.tabulate(3)(t => new Array[Long](math.max(16, initialKeys(t) * 2)))
  private val live = Array.tabulate(3)(t => new java.util.BitSet(initialKeys(t) * 2))

  private def valueId(t: Int): Int =
    if (t == 0 && emitted >= switchAt) 12 else SrcTable.All(t).versions.head._1

  def sourcePartition(id: Int): Int = Math.floorMod(id * 0x9E3779B9, nproc)

  private def setLsn(t: Int, id: Int, l: Long): Unit = {
    if (id >= lastLsn(t).length)
      lastLsn(t) = java.util.Arrays.copyOf(lastLsn(t), math.max(id + 1, lastLsn(t).length * 2))
    lastLsn(t)(id) = l
  }

  private def emit(b: Batch, t: Int, id: Int, del: Boolean, stale: Long = 0L): Unit = {
    val l = if (stale > 0) stale else { lsnClock += 1; lsnClock }
    if (stale == 0) setLsn(t, id, l)
    b.add(t, id, valueId(t), l, del, rng.nextLong(), sourcePartition(id), isStale = stale > 0)
    emitted += 1
  }

  /** The pre-load: every initial key inserted once. */
  def initial(): Batch = {
    val b = new Batch
    for (t <- 0 until 3; id <- 1 to initialKeys(t)) { emit(b, t, id, del = false); live(t).set(id) }
    b
  }

  private def recent(t: Int): Int =
    maxId(t) - (-math.log(1 - rng.nextDouble()) * maxId(t) * recency).toInt

  private def pickLive(t: Int): Int = {
    var tries = 0
    while (tries < 8) {
      val id = recent(t)
      if (id >= 1 && live(t).get(id)) return id
      tries += 1
    }
    -1
  }

  private def insert(b: Batch, t: Int): Unit = {
    maxId(t) += 1
    emit(b, t, maxId(t), del = false)
    live(t).set(maxId(t))
  }

  def next(events: Int): Batch = {
    val b = new Batch
    val cum = Array(mix.insert, mix.update, mix.delete, mix.stale, mix.dup, mix.reinsert).scanLeft(0.0)(_ + _).tail
    while (b.n < events) {
      val x = rng.nextDouble()
      var t = 0
      var acc = tableShare(0)
      while (x > acc && t < 2) { t += 1; acc += tableShare(t) }
      val k = rng.nextDouble() * cum.last
      if (k < cum(0)) insert(b, t)
      else if (k < cum(2)) {
        val id = pickLive(t)
        if (id < 0) insert(b, t)
        else if (k < cum(1)) emit(b, t, id, del = false)
        else { emit(b, t, id, del = true); live(t).clear(id) }
      } else if (k < cum(3)) {
        // a replayed change older than the key's newest one
        val id = recent(t)
        val cur = if (id >= 1 && id < lastLsn(t).length) lastLsn(t)(id) else 0L
        if (cur > 1) emit(b, t, id, del = false, stale = 1 + rng.nextLong(cur - 1))
        else insert(b, t)
      } else if (k < cum(4)) {
        // at-least-once redelivery: an exact copy of an earlier record
        if (b.n > 0) {
          val j = rng.nextInt(b.n)
          b.add(b.table(j), b.id(j), b.vid(j), b.lsn(j), b.del(j), b.seed(j), b.part(j),
            isStale = b.stale(j), isDup = true)
          emitted += 1
        }
      } else {
        // delete and re-insert of one key inside the batch
        val id = pickLive(t)
        if (id < 0) insert(b, t)
        else { emit(b, t, id, del = true); emit(b, t, id, del = false) }
      }
    }
    b
  }
}

/** Producer side: Avro-encodes a [[Batch]] with `org.apache.avro`, frames
  * each message with the 5-byte Confluent header and writes one parquet
  * file of Kafka-shaped records per source partition.
  */
object Producer {
  private val fileSchema = MessageTypeParser.parseMessageType(
    """message kafka_record {
      |  required binary topic (STRING);
      |  required int32 partition;
      |  required int64 offset;
      |  required int64 timestamp (TIMESTAMP(MICROS,true));
      |  required int32 timestampType;
      |  required binary key;
      |  required binary value;
      |}""".stripMargin)

  final class Encoder {
    private val schemas = scala.collection.mutable.Map.empty[Int, Schema]
    private val writers = scala.collection.mutable.Map.empty[Int, GenericDatumWriter[GenericRecord]]
    private val out = new ByteArrayOutputStream(256)
    private var enc: BinaryEncoder = _

    private def schema(id: Int, json: => String): Schema =
      schemas.getOrElseUpdate(id, new Schema.Parser().parse(json))

    private def framed(id: Int, rec: GenericRecord): Array[Byte] = {
      out.reset()
      out.write(0)
      out.write((id >>> 24) & 0xff); out.write((id >>> 16) & 0xff)
      out.write((id >>> 8) & 0xff); out.write(id & 0xff)
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writers.getOrElseUpdate(id, new GenericDatumWriter[GenericRecord](rec.getSchema)).write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    def key(t: SrcTable, id: Int): Array[Byte] = {
      val rec = new GenericData.Record(schema(t.keyId, t.keySchemaJson))
      rec.put(0, id)
      framed(t.keyId, rec)
    }

    def value(t: SrcTable, vid: Int, vals: Array[Any], del: Boolean, lsn: Long): Array[Byte] = {
      val s = schema(vid, t.valueSchemaJson(vid))
      val rec = new GenericData.Record(s)
      val kinds = t.fields(vid)
      var i = 0
      while (i < vals.length) {
        rec.put(i, kinds(i)._2 match {
          case MoneyK => ByteBuffer.wrap(java.math.BigInteger.valueOf(vals(i).asInstanceOf[Long]).toByteArray)
          case _ => vals(i)
        })
        i += 1
      }
      rec.put(i, if (del) "true" else "false")
      rec.put(i + 1, SrcTable.BaseMillis + lsn)
      rec.put(i + 2, lsn)
      framed(vid, rec)
    }
  }

  /** Write `b` under `dir`, one file per source partition, in parallel;
    * `offsets` carries each (table, partition)'s next Kafka offset.
    */
  def write(b: Batch, dir: String, nproc: Int, offsets: Array[Array[Long]]): Unit = {
    val byPart = Array.fill(nproc)(new scala.collection.mutable.ArrayBuffer[Int])
    var i = 0
    while (i < b.n) { byPart(b.part(i)) += i; i += 1 }
    val firstOffset = Array.tabulate(nproc, 3) { (p, t) =>
      val o = offsets(t)(p)
      offsets(t)(p) += byPart(p).count(j => b.table(j) == t)
      o
    }
    val pool = Executors.newFixedThreadPool(nproc)
    try {
      val futures = (0 until nproc).filter(p => byPart(p).nonEmpty).map { p =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val enc = new Encoder
            val factory = new SimpleGroupFactory(fileSchema)
            val w = ExampleParquetWriter.builder(new Path(s"$dir/part-$p.parquet"))
              .withConf(new Configuration())
              .withType(fileSchema)
              .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
              .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
              .build()
            val next = firstOffset(p).clone()
            try byPart(p).foreach { j =>
              val t = SrcTable.All(b.table(j))
              val vals = SrcTable.values(b.table(j), b.id(j), b.vid(j), b.seed(j))
              w.write(factory.newGroup()
                .append("topic", t.topic)
                .append("partition", p)
                .append("offset", next(b.table(j)))
                .append("timestamp", (SrcTable.BaseMillis + b.lsn(j)) * 1000L)
                .append("timestampType", 0)
                .append("key", Binary.fromConstantByteArray(enc.key(t, b.id(j))))
                .append("value", Binary.fromConstantByteArray(
                  enc.value(t, b.vid(j), vals, b.del(j), b.lsn(j)))))
              next(b.table(j)) += 1
            } finally w.close()
          }
        })
      }
      futures.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES); () }
  }
}
