package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one span cost, as Spark's task metrics report it. */
final case class SpanStats(wallS: Double, jobs: Long, taskCpuS: Double,
    shuffleWriteMb: Double, spillMb: Double, rowsOut: Long)

/**
 * Outside-in layer tracing: each span runs its body under a job group of its
 * own, and a listener sums the task metrics of every job in that group. The
 * program is not touched; the benchmark only times the calls it makes into a
 * layer's public functions and reads what Spark already reports. Spans are
 * kept in memory and read out at the end of the run.
 */
final class SpanRecorder(spark: SparkSession) extends SparkListener {
  private final class Acc {
    var jobs = 0L; var cpuNs = 0L; var shuffleW = 0L; var spill = 0L
  }
  private val Prefix = "perfbench:"
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]
  private val order = mutable.ArrayBuffer.empty[(String, SpanStats)]

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Prefix)) {
      accs.getOrElseUpdate(g, new Acc).jobs += 1
      e.stageIds.foreach(groupOfStage(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs.getOrElseUpdate(g, new Acc)
      a.cpuNs += m.executorCpuTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Run `body` as span `name`; the body returns its result and the number
   * of rows it produced. */
  def span[T](name: String)(body: => (T, Long)): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(Prefix + name, name)
    val t0 = System.nanoTime()
    val (out, rows) = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(sc)
    val a = synchronized(accs.getOrElse(Prefix + name, new Acc))
    order += name -> SpanStats(wall, a.jobs, a.cpuNs / 1e9,
      a.shuffleW / 1048576.0, a.spill / 1048576.0, rows)
    out
  }

  def spans: Seq[(String, SpanStats)] = order.toSeq

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object SpanRecorder {
  /** Collector time of the whole JVM so far, in seconds. Task-level GC
   * (`jvmGCTime`) has millisecond steps and reads 0 on most spans of a run
   * this size, so GC is reported once for the whole chain instead. */
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.iterator().asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
