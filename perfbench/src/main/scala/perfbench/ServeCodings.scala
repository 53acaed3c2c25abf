package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.server.{ArrowHttpServer, Negotiation}

/** `serve_codings`: the reference's get_simple / get_compressed matrix.
  * Each op is one `GET /q/<ds>` decoded to EOS by the stock Arrow reader
  * and checked (status, coding, rows, checksum, EOS). The served frames
  * are trivial generator jobs, so the time goes to Arrow encode, the
  * server's coding and HTTP, and client decode.
  */
object ServeCodings {
  /** A transfer strategy: HTTP content-coding or IPC buffer codec. */
  final case class Strategy(name: String, accept: String, acceptEncoding: String,
      coding: Option[String], codec: Option[String])

  private val mime = Negotiation.ArrowMime
  val strategies: Seq[Strategy] = Seq(
    Strategy("identity", mime, "identity", None, None),
    Strategy("http_gzip", mime, "gzip", Some("gzip"), None),
    Strategy("http_zstd", mime, "zstd", Some("zstd"), None),
    Strategy("ipc_lz4", s"""$mime; codecs="lz4"""", "identity", None, Some("lz4")),
    Strategy("ipc_zstd", s"""$mime; codecs="zstd"""", "identity", None, Some("zstd")))

  val rows: Long = 1L << 18

  /** Op mix, as (dataset, strategy) -> weight. The fast cells (identity
    * and zstd, about 0.1 s at HEAD) make 12/17 of the ops, so p50 sits
    * inside their cluster; ticker gzip, the slowest cell kept (about
    * 0.45 s), makes 3/17, so p90 sits inside its cluster. Ticker with
    * the IPC lz4 codec is left out of the timed mix: it takes about
    * 10 s per op at HEAD, 30 times flight lz4, and would dominate both
    * the run time and every figure; the layer probes still time lz4. */
  val mix: Seq[((String, String), Int)] = Seq(
    ("flight", "identity") -> 2, ("flight", "http_zstd") -> 2, ("flight", "ipc_zstd") -> 2,
    ("ticker", "identity") -> 2, ("ticker", "http_zstd") -> 2, ("ticker", "ipc_zstd") -> 2,
    ("flight", "http_gzip") -> 1, ("flight", "ipc_lz4") -> 1, ("ticker", "http_gzip") -> 3)

  final class Served(val spark: SparkSession) {
    val server = new ArrowHttpServer(spark).start()
    val frames: Map[String, DataFrame] = Map(
      "flight" -> graft.datagen.Generators.flightBench(spark, rows),
      "ticker" -> graft.datagen.Generators.ticker(spark, rows))
    server.register("flight", frames("flight"))
    server.registerDict("ticker", frames("ticker"), Seq("ticker"))
    val expected: Map[String, Checksum] = frames.map { case (k, df) => k -> Checksum.expected(df) }
    def url(ds: String) = s"${server.baseUrl}/q/$ds"
  }

  /** One checked GET; returns (time to first batch ns, correct). */
  def get(client: Client, served: Served, trace: Trace, ds: String, s: Strategy,
      t0: Long): (Long, Boolean) =
    client.get(served.url(ds), Seq("Accept" -> s.accept, "Accept-Encoding" -> s.acceptEncoding)) {
      (code, coding, in) => check(s"$ds/${s.name}", code, coding, in, s.coding, rows,
        served.expected(ds), trace, t0)
    }

  /** Decode a response and check status, coding, EOS, rows and checksum. */
  def check(what: String, code: Int, coding: Option[String], in: java.io.InputStream,
      wantCoding: Option[String], wantRows: Long, want: Checksum, trace: Trace,
      t0: Long): (Long, Boolean) =
    if (code != 200) { System.err.println(s"perfbench: $what -> HTTP $code"); (-1L, false) }
    else {
      val d = trace.span("client.decode")(Decoded.decode(Client.decoded(coding, in), t0))
      val ok = coding == wantCoding && d.eos && d.rows == wantRows && d.sum == want
      if (!ok) System.err.println(s"perfbench: $what bad stream: coding=$coding " +
        s"eos=${d.eos} rows=${d.rows} checksum ok=${d.sum == want}")
      (d.ttfbNs, ok)
    }

  def run(spark: SparkSession, h: Harness, seed: Long, seconds: Int): Unit = {
    val client = new Client(60)
    h.aborts += (() => client.abort())
    val (served, registerS) = Stats.time(new Served(spark))
    h.layers("setup.register_s") = Metric(registerS, "s")
    val byName = strategies.map(s => s.name -> s).toMap
    // Latencies keep falling for about 50 ops while the JIT and the GC's
    // young-generation sizing settle, so the warm-up runs the whole mix
    // twice before the first timed op.
    val (_, warmS) = Stats.time(Seq.fill(2)(mix).flatten.foreach { case ((ds, sn), w) =>
      (1 to w).foreach(_ => h.warm(h.op(-1, "warmup")(t0 => get(client, served, h.trace, ds, byName(sn), t0))))
    })
    h.layers("setup.warmup_s") = Metric(warmS, "s")

    val plan = Plan.shuffled(mix, opsFor(seconds), seed)
    val n = plan.size
    val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val jobs = new SparkCounters(spark)
    h.loop(n) { i =>
      val (ds, sn) = plan(i)
      val o = h.op(i, s"$ds.$sn")(t0 => get(client, served, h.trace, ds, byName(sn), t0))
      lat.getOrElseUpdate(s"$ds.$sn", mutable.ArrayBuffer()) += o.latencyS
      o
    }
    jobs.settle()
    h.layers("spark.jobs_per_op") = Metric(jobs.jobs.toDouble / n, "count")
    jobs.close()
    lat.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"perfbench: $k%-18s p50 ${Stats.median(v)}%.4f " +
        f"p90 ${Stats.quantile(v.toIndexedSeq, 0.9)}%.4f n=${v.size}")
    }
    served.server.stop()
  }

  /** A fixed op count for a run of about `seconds` at HEAD's speed. */
  def opsFor(seconds: Int): Int = math.max(17, seconds * 6)
}
