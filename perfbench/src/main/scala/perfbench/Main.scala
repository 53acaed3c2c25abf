package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession

/** Benchmark entry point, launched by `perfbench/run.py` in a fresh JVM
  * per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir>
  *                  <result file> <launch epoch ns>
  *
  * With trace 0 it writes the end-to-end metrics; with trace 1 it runs
  * the same op sequence with spans around every call into the program,
  * then times each layer alone, and writes the per-layer metrics (spans
  * go to `spans.jsonl` beside the result).
  */
object Main {
  val workloads: Seq[String] = Seq("serve_codings", "query_suite", "ingest_scan")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, out, t0S) = args
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val trace = new Trace(traced)

    val (spark, sessionS) = Stats.time(GraftSession.get("perfbench"))
    val h = new Harness(trace, t0S.toLong, opTimeoutS = 60, runTimeoutS = 160,
      emit = write(Paths.get(out), traced))
    h.layers("setup.session_s") = Metric(sessionS, "s")
    h.aborts += (() => spark.sparkContext.cancelAllJobs())
    val gc0 = Harness.gcSeconds

    workload match {
      case "serve_codings" => ServeCodings.run(spark, h, seed, seconds)
      case "query_suite" => QuerySuite.run(spark, h, seed, seconds, Paths.get(dataDir))
      case "ingest_scan" => IngestScan.run(spark, h, seed, seconds)
    }
    h.layers("jvm.gc_s") = Metric(Harness.gcSeconds - gc0, "s")
    h.layers("jvm.heap_peak_mb") = Metric(Harness.heapPeakMb, "MB")
    h.layers("peak_rss_mb") = Metric(Harness.vmHwmMb, "MB")
    if (traced) {
      h.layers("trace.ops_per_s") = h.endToEnd.toMap.apply("ops_per_s")
      h.layers("trace.overhead_frac") = Metric(trace.selfNs / 1e9 / h.loopS, "1")
      trace.selfTimes.toSeq.sortBy(-_._2).foreach { case (k, v) =>
        System.err.println(f"perfbench: self time $k%-40s $v%.4f s")
      }
      trace.write(Paths.get(out).resolveSibling("spans.jsonl"))
      ServeLayers.measure(spark, h)
      QueryLayers.measure(spark, h, Paths.get(dataDir))
      IngestLayers.measure(spark, h)
    }
    h.finish()
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else v.toString

  /** Write the result object: end-to-end metrics, or per-layer ones. */
  def write(out: Path, traced: Boolean)(h: Harness): Unit = {
    val failed = h.failed
    val attempted = math.max(1, h.attempted)
    val metrics =
      if (traced) h.layers.toSeq :+ ("failed_frac" -> Metric(failed.toDouble / attempted, "1"))
      else h.endToEnd
    val correct = failed == 0 && metrics.forall(m => !m._2.value.isNaN)
    val m = metrics.map { case (k, v) => s""""$k": {"value": ${num(v.value)}, "unit": "${v.unit}"}""" }
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}"""
    Files.write(out, (json + "\n").getBytes("UTF-8"))
  }
}
