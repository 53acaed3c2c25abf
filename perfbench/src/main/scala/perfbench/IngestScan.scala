package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.spark.sql.SparkSession

import graft.server.{ArrowHttpServer, Negotiation}

/** `ingest_scan`: writes beside reads. Each op POSTs one of a few seeded
  * Arrow streams (mixed types, with nulls) to `/ingest/<name>` or, in
  * seeded alternation, to `/ingest-multipart/<name>`, then reads the
  * data back twice and checks rows and checksum both times: once with
  * `spark.read.format("arrows")` on `/q/<name>` (the `/qsplit` spill and
  * ranged `/files` path of the DSv2 source) and once through the
  * dissociated fan-out (`/dissoc/info`).
  */
object IngestScan {
  val streams = 4
  val rows = 40000
  val boundary = "perfbench-boundary-7d1f"

  /** One posted stream: its bytes, multipart body and expected checksum. */
  final case class Payload(name: String, arrow: Array[Byte], multipart: Array[Byte], sum: Checksum)

  /** A seeded stream of long, int, double, string, boolean and date
    * columns; every seventh value of the non-key columns is null. */
  def payload(name: String, seed: Long): Payload = {
    val rnd = new scala.util.Random(seed)
    val alloc = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(new org.apache.arrow.vector.types.pojo.Schema(Seq(
      field("id", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)),
      field("qty", new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true)),
      field("price", new org.apache.arrow.vector.types.pojo.ArrowType.FloatingPoint(
        org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)),
      field("tag", org.apache.arrow.vector.types.pojo.ArrowType.Utf8.INSTANCE),
      field("flag", org.apache.arrow.vector.types.pojo.ArrowType.Bool.INSTANCE),
      field("day", new org.apache.arrow.vector.types.pojo.ArrowType.Date(
        org.apache.arrow.vector.types.DateUnit.DAY))).asJava), alloc)
    val acc = new Array[Long](12)
    val bos = new ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, bos)
    w.start()
    val batch = 4096
    var base = 0
    while (base < rows) {
      val n = math.min(batch, rows - base)
      root.allocateNew()
      val id = root.getVector(0).asInstanceOf[BigIntVector]
      val qty = root.getVector(1).asInstanceOf[IntVector]
      val price = root.getVector(2).asInstanceOf[Float8Vector]
      val tag = root.getVector(3).asInstanceOf[VarCharVector]
      val flag = root.getVector(4).asInstanceOf[BitVector]
      val day = root.getVector(5).asInstanceOf[DateDayVector]
      var i = 0
      while (i < n) {
        val r = base + i
        val idv = rnd.nextLong()
        id.setSafe(i, idv); acc(0) ^= idv; acc(1) += idv & 0xFFFFL
        if (r % 7 == 3) {
          qty.setNull(i); price.setNull(i); tag.setNull(i); flag.setNull(i); day.setNull(i)
        } else {
          val q = rnd.nextInt(1000); qty.setSafe(i, q); acc(2) += q; acc(3) += 1
          val p = rnd.nextInt(80000); price.setSafe(i, p / 8.0); acc(4) += p; acc(5) += 1
          val t = "t" + rnd.alphanumeric.take(rnd.nextInt(12)).mkString
          tag.setSafe(i, t.getBytes(UTF_8)); acc(6) += t.length; acc(7) += t.charAt(0)
          val f = rnd.nextBoolean(); flag.setSafe(i, if (f) 1 else 0); acc(8) += (if (f) 1 else 0); acc(9) += 1
          val d = 10000 + rnd.nextInt(9000); day.setSafe(i, d); acc(10) += d; acc(11) += 1
        }
        i += 1
      }
      root.setRowCount(n)
      w.writeBatch()
      base += n
    }
    w.end(); w.close(); root.close(); alloc.close()
    val arrow = bos.toByteArray
    val mp = new ByteArrayOutputStream()
    mp.write((s"\r\n--$boundary\r\nContent-Type: application/json\r\n\r\n" +
      s"""{"source":"perfbench","name":"$name"}""" +
      s"\r\n--$boundary\r\nContent-Type: ${Negotiation.ArrowMime}\r\n\r\n").getBytes(UTF_8))
    mp.write(arrow)
    mp.write(s"\r\n--$boundary--\r\n".getBytes(UTF_8))
    Payload(name, arrow, mp.toByteArray, Checksum(rows, acc.toVector))
  }

  private def field(n: String, t: org.apache.arrow.vector.types.pojo.ArrowType) =
    org.apache.arrow.vector.types.pojo.Field.nullable(n, t)

  final class Ingest(spark: SparkSession, seed: Long) {
    val server = new ArrowHttpServer(spark).start()
    val payloads: IndexedSeq[Payload] = (0 until streams).map(i => payload(s"ing$i", seed * 31 + i))
    def base: String = server.baseUrl
  }

  /** POST the payload; returns whether the server acknowledged every row. */
  def post(client: Client, in: Ingest, p: Payload, multipart: Boolean): Boolean = {
    val (code, body) =
      if (multipart) client.post(s"${in.base}/ingest-multipart/${p.name}",
        s"""multipart/form-data; boundary="$boundary"""", p.multipart)
      else client.post(s"${in.base}/ingest/${p.name}", Negotiation.ArrowMime, p.arrow)
    val ok = code == 200 && body.contains(s""""rows":$rows""")
    if (!ok) System.err.println(s"perfbench: ingest ${p.name} -> HTTP $code $body")
    ok
  }

  def scanSum(spark: SparkSession, in: Ingest, p: Payload): Checksum =
    Checksum.expected(spark.read.format("arrows").option("url", s"${in.base}/q/${p.name}").load())

  def dissocSum(spark: SparkSession, in: Ingest, p: Payload): Checksum =
    Checksum.expected(spark.read.format("arrows")
      .option("dissoc", s"${in.base}/dissoc/info/${p.name}").load())

  /** One op: ingest, then both read-backs; returns (time to the ingest
    * acknowledgement ns, correct). */
  def op(spark: SparkSession, client: Client, in: Ingest, trace: Trace, p: Payload,
      multipart: Boolean, t0: Long): (Long, Boolean) = {
    val posted = trace.span("server.ingest")(post(client, in, p, multipart))
    val ack = System.nanoTime() - t0
    val scanned = trace.span("sources.scan")(scanSum(spark, in, p))
    val dissoc = trace.span("dissociated.read")(dissocSum(spark, in, p))
    if (scanned != p.sum) System.err.println(s"perfbench: ${p.name} scan $scanned expected ${p.sum}")
    if (dissoc != p.sum) System.err.println(s"perfbench: ${p.name} dissoc $dissoc expected ${p.sum}")
    (ack, posted && scanned == p.sum && dissoc == p.sum)
  }

  def run(spark: SparkSession, h: Harness, seed: Long, seconds: Int): Unit = {
    val client = new Client(60)
    h.aborts += (() => client.abort())
    val (in, registerS) = Stats.time(new Ingest(spark, seed))
    h.layers("setup.register_s") = Metric(registerS, "s")
    val (_, warmS) = Stats.time(for { i <- 0 until streams; mp <- Seq(false, true) }
      h.warm(h.op(-1, "warmup")(t0 => op(spark, client, in, h.trace, in.payloads(i), mp, t0))))
    h.layers("setup.warmup_s") = Metric(warmS, "s")
    val kinds = for { i <- 0 until streams; mp <- Seq(false, true) } yield (i, mp) -> 1
    val plan = Plan.shuffled(kinds, opsFor(seconds), seed)
    val jobs = new SparkCounters(spark)
    h.loop(plan.size) { k =>
      val (i, mp) = plan(k)
      h.op(k, if (mp) "ingest_multipart" else "ingest")(t0 =>
        op(spark, client, in, h.trace, in.payloads(i), mp, t0))
    }
    jobs.settle()
    h.layers("spark.jobs_per_op") = Metric(jobs.jobs.toDouble / plan.size, "count")
    jobs.close()
    in.server.stop()
  }

  def opsFor(seconds: Int): Int = math.max(8, seconds * 6)
}
