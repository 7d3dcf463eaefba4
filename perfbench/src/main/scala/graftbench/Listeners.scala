package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark engine counters, summed per tag. A job is tagged with its job
  * group when the harness set one of its own tags; jobs started on other
  * threads (streaming micro-batches run under the query's own group) take
  * the tag whose wall-clock window contains the job's start.
  */
final class EngineCounters extends SparkListener {
  import EngineCounters.{GroupKeys, Harness, JobGroupKey}
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inBytes, outBytes, shWrite, shRead, spill = 0L
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  @volatile private var windows = Vector.empty[(String, Long, Long)]
  private val tags = ConcurrentHashMap.newKeySet[String]()

  /** Run `body` with its jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    tags.add(tag)
    val t0 = System.currentTimeMillis()
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      windows = windows :+ ((tag, t0, System.currentTimeMillis()))
    }
  }

  /** Run `body`'s jobs under the tag `harness`, so that the harness's own
    * checks inside a tagged window count against no workload tag, then
    * restore the calling thread's job group (a streaming micro-batch
    * thread carries its query's own group).
    */
  def harness[T](sc: SparkContext)(body: => T): T = {
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    tags.add(Harness)
    sc.setJobGroup(Harness, Harness, interruptOnCancel = false)
    try body
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private def agg(tag: String) = aggs.computeIfAbsent(tag, _ => new Agg)

  private def tagAt(ms: Long): String =
    windows.collectFirst { case (t, a, b) if ms >= a && ms <= b => t }.getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    // the window list is complete once the tagged block has ended; jobs
    // of a still-open block match no window yet and are resolved later
    val tag = group.filter(tags.contains).getOrElse(s"@${e.time}")
    e.stageIds.foreach(stageTag.put(_, tag))
    val a = agg(tag)
    a.synchronized(a.jobs += 1)
  }

  private def tagOf(stageId: Int): String = stageTag.getOrDefault(stageId, "untagged")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(tagOf(e.stageInfo.stageId))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(tagOf(e.stageId))
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals for `tag`, folding in jobs whose start fell in its windows. */
  def totals(tag: String): Map[String, Double] = {
    val parts = aggs.asScala.toSeq.collect {
      case (t, a) if t == tag => a
      case (t, a) if t.startsWith("@") && tagAt(t.drop(1).toLong) == tag => a
    }
    def sum(f: Agg => Long) = parts.map(a => a.synchronized(f(a))).sum.toDouble
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.task_run_s" -> sum(_.runMs) / 1e3,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.input_bytes" -> sum(_.inBytes),
      "spark.output_bytes" -> sum(_.outBytes),
      "spark.shuffle_write_bytes" -> sum(_.shWrite),
      "spark.shuffle_read_bytes" -> sum(_.shRead),
      "spark.spill_bytes" -> sum(_.spill))
  }

  /** Wall-clock seconds spent inside windows tagged `tag`. */
  def wallSeconds(tag: String): Double =
    windows.collect { case (t, a, b) if t == tag => (b - a) / 1e3 }.sum
}

object EngineCounters {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
  /** Every local property `setJobGroup` sets. */
  val GroupKeys: Seq[String] = Seq(JobGroupKey, "spark.job.description", "spark.job.interruptOnCancel")
  val Harness = "harness"

  /** Block until every listener event posted so far has been delivered:
    * the listener bus is FIFO, so a marker job's start event arrives after
    * all earlier events.
    */
  def drain(sc: SparkContext): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val marker = s"drain-${System.nanoTime()}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(JobGroupKey) == marker))
          seen.countDown()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(marker, marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(l)
  }
}

/** Micro-batch progress of every streaming query, from Spark's public
  * `StreamingQueryListener`.
  */
final class StreamCounters extends StreamingQueryListener {
  final case class Batch(stateRowsUpdated: Long, stateCommitMs: Long)
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(p.stateOperators.map(_.numRowsUpdated).sum,
      p.stateOperators.map(_.commitTimeMs).sum))
  }

  def all: Seq[Batch] = batches.asScala.toSeq

  def clear(): Unit = batches.clear()
}
