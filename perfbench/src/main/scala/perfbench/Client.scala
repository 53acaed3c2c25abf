package perfbench

import java.io.{FilterInputStream, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Order-independent content checksum of a table: the row count plus two
  * longs per column (see [[Checksum.expected]] for what they are per
  * type). The same figures are computed independently by Spark
  * aggregates, by the client over decoded Arrow vectors ([[Decoded]]),
  * and by the ingest workload from the values it generates. */
final case class Checksum(rows: Long, cols: Vector[Long])

object Checksum {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** long: (xor, sum of low 16 bits); string: (sum of lengths, sum of
    * first-char codes); int: (sum, non-nulls); double: (sum of 8x the
    * value, non-nulls) for the dyadic values the benchmark generates;
    * boolean: (trues, non-nulls); date: (sum of epoch days, non-nulls). */
  def expected(df: DataFrame): Checksum = {
    val aggs = df.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val second = count(c)
      f.dataType match {
        case LongType => Seq(bit_xor(c), sum(c.bitwiseAND(lit(0xFFFFL))))
        case StringType => Seq(sum(length(c)).cast("long"), sum(ascii(c)).cast("long"))
        case IntegerType => Seq(sum(c.cast("long")), second)
        case DoubleType => Seq(sum((c * 8).cast("long")), second)
        case BooleanType => Seq(sum(when(c, 1L).otherwise(0L)), second)
        case DateType => Seq(sum(unix_date(c).cast("long")), second)
        case t => throw new IllegalArgumentException(s"no checksum for $t")
      }
    }
    val r = df.agg(count(lit(1)), aggs: _*).head()
    Checksum(r.getLong(0), (1 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).toVector)
  }
}

/** The result of decoding one Arrow IPC stream to its end. */
final case class Decoded(rows: Long, batches: Long, sum: Checksum, eos: Boolean,
    ttfsNs: Long, ttfbNs: Long)

object Decoded {
  private val allocator = new RootAllocator(Long.MaxValue)
  private val Eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)

  /** Remembers the last 8 bytes read and whether the source hit EOF. */
  private final class Tail(in: InputStream) extends FilterInputStream(in) {
    val last = new Array[Byte](8)
    private var n = 0L
    private def note(b: Array[Byte], off: Int, len: Int): Unit = {
      var i = math.max(off, off + len - 8)
      while (i < off + len) { last((n % 8).toInt) = b(i); n += 1; i += 1 }
    }
    override def read(): Int = {
      val c = super.read()
      if (c >= 0) { last((n % 8).toInt) = c.toByte; n += 1 }
      c
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len)
      if (k > 0) note(b, off, k)
      k
    }
    /** True when the last 8 bytes read are the IPC EOS marker. */
    def endsWithEos: Boolean =
      n >= 8 && (0 until 8).forall(i => last(((n + i) % 8).toInt) == Eos(i))
  }

  /** Decode a whole stream with the stock Arrow reader. `t0` is the
    * request's send time, for time-to-schema and time-to-first-batch.
    * A stream counts as complete only when it ends with the EOS marker
    * and nothing follows it. */
  def decode(in: InputStream, t0: Long): Decoded = {
    val tail = new Tail(in)
    val rdr = new ArrowStreamReader(tail, allocator, CommonsCompressionFactory.INSTANCE)
    try {
      val root = rdr.getVectorSchemaRoot
      val ttfs = System.nanoTime() - t0
      val ncol = root.getFieldVectors.size
      val acc = new Array[Long](2 * ncol)
      var rows = 0L
      var batches = 0L
      var ttfb = -1L
      // per-column summary of each dictionary entry: (length, first char)
      var dictSummary: Map[Int, Array[(Long, Long)]] = Map.empty
      while (rdr.loadNextBatch()) {
        if (ttfb < 0) ttfb = System.nanoTime() - t0
        if (dictSummary.isEmpty && !rdr.getDictionaryVectors.isEmpty)
          dictSummary = root.getFieldVectors.asScala.zipWithIndex.collect {
            case (v, i) if v.getField.getDictionary != null =>
              val d = rdr.getDictionaryVectors.get(v.getField.getDictionary.getId)
                .getVector.asInstanceOf[VarCharVector]
              i -> (0 until d.getValueCount).map { k =>
                val s = new String(d.get(k), "UTF-8")
                (s.length.toLong, if (s.isEmpty) 0L else s.charAt(0).toLong)
              }.toArray
          }.toMap
        val n = root.getRowCount
        rows += n
        batches += 1
        var c = 0
        while (c < ncol) {
          root.getVector(c) match {
            case v: BigIntVector =>
              var x = acc(2 * c); var s = acc(2 * c + 1); var i = 0
              while (i < n) {
                if (!v.isNull(i)) { val e = v.get(i); x ^= e; s += e & 0xFFFFL }
                i += 1
              }
              acc(2 * c) = x; acc(2 * c + 1) = s
            case v: BaseIntVector if dictSummary.contains(c) =>
              val d = dictSummary(c); var i = 0
              while (i < n) {
                if (!v.isNull(i)) {
                  val (l, f) = d(v.getValueAsLong(i).toInt)
                  acc(2 * c) += l; acc(2 * c + 1) += f
                }
                i += 1
              }
            case v: IntVector =>
              var i = 0
              while (i < n) { if (!v.isNull(i)) { acc(2 * c) += v.get(i); acc(2 * c + 1) += 1 }; i += 1 }
            case v: Float8Vector =>
              var i = 0
              while (i < n) {
                if (!v.isNull(i)) { acc(2 * c) += (v.get(i) * 8).toLong; acc(2 * c + 1) += 1 }
                i += 1
              }
            case v: BitVector =>
              var i = 0
              while (i < n) { if (!v.isNull(i)) { acc(2 * c) += v.get(i); acc(2 * c + 1) += 1 }; i += 1 }
            case v: DateDayVector =>
              var i = 0
              while (i < n) { if (!v.isNull(i)) { acc(2 * c) += v.get(i); acc(2 * c + 1) += 1 }; i += 1 }
            case v: VarCharVector =>
              var i = 0
              while (i < n) {
                if (!v.isNull(i)) {
                  val s = new String(v.get(i), "UTF-8")
                  acc(2 * c) += s.length
                  if (s.nonEmpty) acc(2 * c + 1) += s.charAt(0)
                }
                i += 1
              }
            case v => throw new IllegalStateException(
              s"no checksum for ${v.getField.getType}")
          }
          c += 1
        }
      }
      val eos = tail.endsWithEos && tail.read() == -1
      Decoded(rows, batches, Checksum(rows, acc.toVector), eos, ttfs, ttfb)
    } finally rdr.close()
  }
}

/** The load generator's HTTP side: one pooled HTTP/1.1 client with
  * connect and request timeouts. `java.net.http` replaces
  * `HttpURLConnection`, whose drain of the same response was bimodal
  * (about 250 ms or 750 ms at random) and slowed to seconds per request
  * once keep-alive connections were reused. */
final class Client(timeoutS: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  @volatile private var open: InputStream = null

  /** Close the body being read (the watchdog's way to unblock an op). */
  def abort(): Unit = Option(open).foreach(s => try s.close() catch { case _: Exception => })

  private def request(url: String, headers: Seq[(String, String)]): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder(URI.create(url)).timeout(Duration.ofSeconds(timeoutS))
    headers.foreach { case (k, v) => b.header(k, v) }
    b
  }

  /** GET and hand the (possibly HTTP-coded) body to `read`. */
  def get[T](url: String, headers: Seq[(String, String)])(
      read: (Int, Option[String], InputStream) => T): T = {
    val resp = http.send(request(url, headers).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    val body = resp.body()
    open = body
    try read(resp.statusCode(), resp.headers().firstValue("Content-Encoding").toScala, body)
    finally { open = null; body.close() }
  }

  def getBytes(url: String, headers: Seq[(String, String)] = Nil): (Int, Array[Byte]) =
    get(url, headers)((code, _, in) => (code, in.readAllBytes()))

  def post(url: String, contentType: String, body: Array[Byte]): (Int, String) = {
    val resp = http.send(request(url, Seq("Content-Type" -> contentType))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

object Client {
  /** Undo the HTTP content-coding the server applied. */
  def decoded(coding: Option[String], in: InputStream): InputStream = coding match {
    case Some("gzip") => new java.util.zip.GZIPInputStream(in, 1 << 16)
    case Some("zstd") => new com.github.luben.zstd.ZstdInputStream(in)
    case None | Some("identity") => in
    case Some(other) => throw new IllegalStateException(s"unexpected coding $other")
  }
}
