package servebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into a layer: name, start and end (nanoTime), and the
  * name of the enclosing span on the same thread (null at top level). */
final case class Span(name: String, start: Long, end: Long, parent: String, thread: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store; spans are written out when the run ends. */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[String]

  def span[T](name: String)(body: => T): T = {
    val parent = current.get()
    current.set(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(name, t0, System.nanoTime(), parent, Thread.currentThread().getName))
      current.set(parent)
    }
  }

  def in(from: Long, to: Long): Seq[Span] =
    spans.asScala.iterator.filter(s => s.start >= from && s.end <= to).toSeq
}

/** Spark-side counters read through public listener APIs: jobs, stages and
  * tasks split by whether the job ran for the ingest stream (the
  * `sql.streaming.queryId` local property) or for a request; SQL planning
  * and execution time per query execution; streaming progress. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val stageCls = new ConcurrentHashMap[Int, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = e.properties
      val cls = if (props != null && props.getProperty("sql.streaming.queryId") != null) "ingest"
        else "request"
      e.stageIds.foreach(s => stageCls.put(s, cls))
      jobs.add(Job(System.nanoTime(), cls))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Job(System.nanoTime(), stageCls.getOrDefault(e.stageInfo.stageId, "request")))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      val dur = info.duration
      val (sched, shuffle) =
        if (m == null) (0L, 0L)
        else (math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime),
          m.shuffleWriteMetrics.bytesWritten)
      tasks.add(Task(System.nanoTime(), stageCls.getOrDefault(e.stageId, "request"), dur, sched, shuffle))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      execs.add(Exec(System.nanoTime(), plan, durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def offsetNext(json: String): Long =
    if (json == null) 0L else json.replace("\"", "").split(',')(0).trim.toLong

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val blocks = p.sources.headOption
        .map(s => offsetNext(s.endOffset) - offsetNext(s.startOffset)).getOrElse(0L)
      progress.add(Progress(System.nanoTime(), blocks,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object SparkProbe {
  final case class Job(t: Long, cls: String)
  final case class Task(t: Long, cls: String, durMs: Long, schedMs: Long, shuffleBytes: Long)
  final case class Exec(t: Long, planMs: Double, execMs: Double)
  final case class Progress(t: Long, blocks: Long, durations: Map[String, Long])
}

/** JVM counters: GC totals, heap in use, peak resident memory. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).sum
  def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat: time a
    * shared host gave this machine's CPUs to others. */
  def cpuJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
