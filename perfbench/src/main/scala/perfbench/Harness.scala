package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._


/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** Runs one closed-loop op sequence with a per-op and a per-run
  * watchdog, and turns the op log into the end-to-end metrics.
  *
  * Per op: an op that exceeds `opTimeoutS` has its threads dumped to
  * stderr, its HTTP body closed and its Spark jobs cancelled, and it
  * counts as failed. Per run: if the whole run passes `runTimeoutS`
  * (process start to now), the watchdog dumps threads, counts every
  * unfinished op as failed, writes the result and halts the JVM, so a
  * wedged run still reports.
  */
final class Harness(val trace: Trace, t0EpochNs: Long,
    opTimeoutS: Int, runTimeoutS: Int, emit: Harness => Unit) {

  /** One finished op: latency (the op timeout when it failed), time to
    * first result, and whether its output checked out. */
  final case class Op(kind: String, latencyS: Double, ttfbS: Double, ok: Boolean)

  val ops = mutable.ArrayBuffer[Op]()
  /** Warm-up ops: outside the measured phase, but a failure still counts. */
  val warmups = mutable.ArrayBuffer[Op]()
  var planned = 0
  var setupS = Double.NaN
  var loopS = Double.NaN
  /** Extra metrics a workload adds (per-layer values). */
  val layers = mutable.LinkedHashMap[String, Metric]()
  /** Hooks that unblock a wedged op (close sockets, cancel jobs). */
  val aborts = mutable.ArrayBuffer[() => Unit]()

  @volatile private var opStart = 0L
  @volatile private var opAborted = false
  @volatile private var finished = false

  /** Seconds since the process was launched. */
  def sinceStart: Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - t0EpochNs) / 1e9
  }

  def warm(o: Op): Unit = synchronized(warmups += o)

  private val watchdog = new Thread(() => {
    while (!finished) {
      Thread.sleep(100)
      val s = opStart
      if (s != 0 && !opAborted && System.nanoTime() - s > opTimeoutS * 1000000000L) {
        opAborted = true
        System.err.println(s"perfbench: op exceeded ${opTimeoutS}s; thread dump follows")
        dumpThreads()
        aborts.foreach(f => try f() catch { case _: Throwable => })
      }
      if (!finished && sinceStart > runTimeoutS) {
        System.err.println(s"perfbench: run exceeded ${runTimeoutS}s; thread dump follows")
        dumpThreads()
        Harness.this.synchronized { if (!finished) { finished = true; emit(Harness.this) } }
        Runtime.getRuntime.halt(0)
      }
    }
  }, "perfbench-watchdog")
  watchdog.setDaemon(true)
  watchdog.start()

  private def dumpThreads(): Unit =
    Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
      System.err.println(s"\"${t.getName}\" ${t.getState}")
      st.foreach(f => System.err.println(s"    at $f"))
    }

  /** Run one op. `body` returns (time to first result in ns since
    * `t0`, output correct); an exception or a watchdog abort fails it. */
  def op(id: Int, kind: String)(body: Long => (Long, Boolean)): Op = {
    trace.setOp(id)
    opAborted = false
    val t0 = System.nanoTime()
    opStart = t0
    val (ttfb, ok) =
      try trace.span(s"op.$kind")(body(t0))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: op $id ($kind) failed: $e")
          (-1L, false)
      }
    opStart = 0
    val lat = (System.nanoTime() - t0) / 1e9
    val good = ok && !opAborted
    if (!good && ok) System.err.println(s"perfbench: op $id ($kind) timed out")
    Op(kind, if (good) lat else opTimeoutS.toDouble,
      if (good) ttfb / 1e9 else opTimeoutS.toDouble, good)
  }

  /** The measured phase: run `n` ops in order; records setup time first. */
  def loop(n: Int)(one: Int => Op): Unit = {
    setupS = sinceStart
    planned = n
    val t0 = System.nanoTime()
    var i = 0
    while (i < n && !finished) {
      val o = one(i)
      synchronized(ops += o)
      System.err.println(f"perfbench: op $i%d ${o.kind}%s ${o.latencyS}%.4f s${if (o.ok) "" else " FAILED"}%s")
      i += 1
    }
    loopS = (System.nanoTime() - t0) / 1e9
  }

  def attempted: Int = synchronized(planned + warmups.size)
  def failed: Int = synchronized(ops.count(!_.ok) + (planned - ops.size) + warmups.count(!_.ok))

  def endToEnd: Seq[(String, Metric)] = synchronized {
    val lat = ops.map(_.latencyS).toIndexedSeq ++ Seq.fill(planned - ops.size)(opTimeoutS.toDouble)
    val done = ops.count(_.ok)
    val wall = if (loopS.isNaN) sinceStart - setupS else loopS
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "ops_per_s" -> Metric(done / wall, "1/s"),
      "latency_p50_s" -> Metric(Stats.quantile(lat, 0.5), "s"),
      "latency_p90_s" -> Metric(Stats.quantile(lat, 0.9), "s"),
      "ttfb_p50_s" -> Metric(Stats.quantile(ops.map(_.ttfbS).toIndexedSeq ++
        Seq.fill(planned - ops.size)(opTimeoutS.toDouble), 0.5), "s"))
  }

  def finish(): Unit = synchronized { if (!finished) { finished = true; emit(this) } }
}

object Harness {
  def vmHwmMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  /** Nearest-rank quantile of an unsorted sample. */
  def quantile(xs: IndexedSeq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq, 0.5)

  /** Time `body` in seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
