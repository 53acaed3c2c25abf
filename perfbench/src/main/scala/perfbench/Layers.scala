package perfbench

import java.io.{ByteArrayInputStream, OutputStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.arrow.ArrowBridge
import graft.server.MultipartStream
import graft.sources.ArrowsTableProvider

/** The traced run's layer probes. Where layers overlap inside one
  * request, each layer is timed alone on the same input by calling the
  * module's public API from here. Every traced run emits every probe's
  * metrics, so all workloads report the same metric set; a layer the
  * workload itself never warmed is measured cold. Each timing is the
  * median of [[Reps]] repetitions. */
object Layers {
  val Reps = 3

  def median(body: => Unit): Double = Stats.median((1 to Reps).map(_ => Stats.time(body)._2))

  def put(h: Harness, name: String, v: Double, unit: String): Unit = h.layers(name) = Metric(v, unit)
}

/** Counts bytes and discards them. */
final class DiscardSink extends OutputStream {
  var count = 0L
  override def write(b: Int): Unit = count += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
}

object ServeLayers {
  import Layers._
  import ServeCodings._

  /** Write the flight frame the way the server does for `s`, into a
    * counting discard sink; returns the bytes written. */
  private def coded(df: org.apache.spark.sql.DataFrame, s: Strategy): Long = {
    val sink = new DiscardSink
    val opts = ArrowBridge.WriteOptions(codec = s.codec)
    s.coding match {
      case Some("zstd") => ArrowBridge.writeParallelZstd(df, sink, opts)
      case Some("gzip") =>
        val gz = new java.util.zip.GZIPOutputStream(sink, true)
        ArrowBridge.writeParallel(df, gz, opts); gz.close()
      case _ => ArrowBridge.writeParallel(df, sink, opts)
    }
    sink.count
  }

  def measure(spark: SparkSession, h: Harness): Unit = {
    val served = new Served(spark)
    val client = new Client(60)
    val df = served.frames("flight")
    val job = median(df.write.format("noop").mode("overwrite").save())
    put(h, "datagen.job_s", job, "s")
    val (rows, batches, bytes) = ArrowBridge.writeParallel(df, new DiscardSink)
    val plain = median(ArrowBridge.writeParallel(df, new DiscardSink))
    put(h, "arrow.encode_s", plain - job, "s")
    put(h, "arrow.ipc_bytes", bytes.toDouble, "bytes")
    put(h, "arrow.batches", batches.toDouble, "count")
    require(rows == ServeCodings.rows, s"probe wrote $rows rows")

    var ttfs = Seq.empty[Double]
    strategies.foreach { s =>
      val hdr = Seq("Accept" -> s.accept, "Accept-Encoding" -> s.acceptEncoding)
      val write = median(coded(df, s))
      if (s.name != "identity") {
        put(h, s"server.coding_s.${s.name}", write - plain, "s")
        put(h, s"server.wire_ratio.${s.name}", coded(df, s).toDouble / bytes, "1")
      }
      val (code, wire) = client.getBytes(served.url("flight"), hdr)
      require(code == 200, s"probe GET ${s.name} -> HTTP $code")
      val coding = s.coding
      val decode = median(Decoded.decode(Client.decoded(coding, new ByteArrayInputStream(wire)),
        System.nanoTime()))
      put(h, s"client.decode_s.${s.name}", decode, "s")
      val lat = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        val (_, ok) = get(client, served, new Trace(false), "flight", s, t0)
        require(ok, s"probe GET ${s.name} failed its check")
        (System.nanoTime() - t0) / 1e9
      }
      put(h, s"server.http_overhead_s.${s.name}", Stats.median(lat) - math.max(write, decode), "s")
      if (s.name == "identity") {
        ttfs = (1 to Reps).map { _ =>
          client.get(served.url("flight"), hdr) { (_, _, in) =>
            val t0 = System.nanoTime()
            Decoded.decode(in, t0).ttfsNs / 1e9
          }
        }
        val file = Files.createTempFile("perfbench-static", ".arrows")
        Files.write(file, wire)
        served.server.registerFile("static.arrows", file)
        put(h, "server.static_get_s", median {
          val (c, b) = client.getBytes(s"${served.server.baseUrl}/files/static.arrows")
          require(c == 200 && b.length == wire.length, s"static GET -> HTTP $c, ${b.length} bytes")
        }, "s")
      }
    }
    put(h, "server.ttfs_s", Stats.median(ttfs), "s")
    served.server.stop()
  }
}

object QueryLayers extends AdaptiveSparkPlanHelper {
  import Layers._

  /** Scan nodes of a final (post-AQE) plan, subqueries included. */
  def scans(p: SparkPlan): Int = collectWithSubqueries(p) {
    case s if s.nodeName.contains("Scan") => 1
  }.size

  def measure(spark: SparkSession, h: Harness, data: Path): Unit = {
    val c = new SparkCounters(spark)
    var plan = 0.0
    var exec = 0.0
    var scanNodes = 0
    val byModule = scala.collection.mutable.LinkedHashMap[String, Double]()
    QuerySuite.queries.foreach { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(spark, data.toString)
      val (fp, p, e, executed) = QuerySuite.fingerprint(df)
      require(QuerySuite.expected.get(q).contains(fp), s"probe $q fingerprint $fp")
      plan += p; exec += e
      scanNodes += scans(executed)
      put(h, s"query.${q}_s", p + e, "s")
      val m = QuerySuite.modules(q)
      byModule(m) = byModule.getOrElse(m, 0.0) + p + e
    }
    c.settle()
    c.close()
    byModule.foreach { case (m, v) => put(h, s"operators.${m}_s", v, "s") }
    put(h, "catalyst.plan_s", plan, "s")
    put(h, "spark.exec_s", exec, "s")
    put(h, "spark.jobs", c.jobs.toDouble, "count")
    put(h, "spark.stages", c.stages.toDouble, "count")
    put(h, "spark.tasks", c.tasks.toDouble, "count")
    put(h, "spark.scan_nodes", scanNodes.toDouble, "count")
    put(h, "spark.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes")
    put(h, "spark.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes")
    put(h, "spark.spill_bytes", c.spill.toDouble, "bytes")
    put(h, "spark.input_rows", c.inputRows.toDouble, "count")
    put(h, "spark.task_run_s", c.runMs / 1e3, "s")
    put(h, "spark.task_cpu_s", c.cpuNs / 1e9, "s")
  }
}

object IngestLayers {
  import Layers._
  import IngestScan._

  def measure(spark: SparkSession, h: Harness): Unit = {
    val in = new Ingest(spark, 1L)
    val client = new Client(60)
    val p = in.payloads(0)
    val q = s"${in.base}/q/${p.name}"
    put(h, "server.ingest_s", median(require(post(client, in, p, multipart = false))), "s")
    put(h, "server.multipart_parse_s", median(
      MultipartStream.parse(new ByteArrayInputStream(p.multipart), boundary) { part =>
        part.body.transferTo(OutputStream.nullOutputStream())
      }), "s")
    // a fresh ingest re-registers the name, so the next probe spills again
    put(h, "server.spill_s", Stats.median((1 to Reps).map { _ =>
      require(post(client, in, p, multipart = false))
      Stats.time(ArrowsTableProvider.probeSplits(q))._2
    }), "s")
    val splits = ArrowsTableProvider.probeSplits(q)
    put(h, "sources.probe_splits_s", median(ArrowsTableProvider.probeSplits(q)), "s")
    put(h, "sources.partitions",
      spark.read.format("arrows").option("url", q).load().rdd.getNumPartitions.toDouble, "count")
    require(splits.nonEmpty, "probeSplits found no spilled parts")
    put(h, "sources.scan_s", median(require(scanSum(spark, in, p) == p.sum)), "s")
    val info = s"${in.base}/dissoc/info/${p.name}"
    put(h, "dissociated.info_s", median(ArrowsTableProvider.dissocInfo(info)), "s")
    put(h, "dissociated.parts", ArrowsTableProvider.dissocInfo(info)._2.size.toDouble, "count")
    put(h, "dissociated.read_s", median(require(dissocSum(spark, in, p) == p.sum)), "s")
    in.server.stop()
  }
}
