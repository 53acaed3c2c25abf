package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Listener-side counts of the Spark work done while it is attached:
  * jobs, stages, tasks, and the task metrics that split run time into
  * CPU and waiting. Listener events arrive asynchronously, so
  * [[settle]] waits for the bus to drain before the counts are read. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var inputRows = 0L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Wait until every event posted so far has been delivered. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var seen = -1L
    while (System.nanoTime() < deadline && seen != tasks + stages + jobs) {
      seen = tasks + stages + jobs
      Thread.sleep(50)
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

/** Seeded op plans. */
object Plan {
  /** `n` ops whose composition follows `weights` exactly (up to
    * rounding) and whose order is shuffled by `seed`: the seed changes
    * the order, never the mix, so runs with different seeds do the same
    * work. */
  def shuffled[K](weights: Seq[(K, Int)], n: Int, seed: Long): IndexedSeq[K] = {
    val total = weights.map(_._2).sum
    val counts = weights.map { case (k, w) => k -> math.round(n.toDouble * w / total).toInt }
    new scala.util.Random(seed).shuffle(counts.flatMap { case (k, c) => Seq.fill(c)(k) }.toIndexedSeq)
  }
}
