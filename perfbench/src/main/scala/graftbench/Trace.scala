package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is (id, name, start, end, parent); times are seconds since the
  * tracer started. The benchmark opens spans around its calls into the
  * library's public functions, so names carry the layer as their first
  * dot-separated component (`sources.wormbase.read`, `sinks.nt.write`).
  * While a span is open its id rides on the calling thread's Spark local
  * properties, so every job the call submits names the span that caused
  * it; [[SparkTrace]] turns those jobs and their stages into child spans.
  * Nothing is written until the run ends.
  */
final class Tracer {
  import Tracer.Span

  private val t0 = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, Double)]
  private var nextId = 1
  @volatile var spark: Option[SparkSession] = None

  def now: Double = (System.nanoTime() - t0) / 1e9
  /** Epoch milliseconds (listener event time) → tracer seconds. */
  def fromEpochMs(ms: Long): Double = (ms - wall0Ms) / 1e3

  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = current
    stack = (id, now) :: stack
    spark.foreach(_.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString))
    try f
    finally {
      val start = stack.head._2
      stack = stack.tail
      done += Span(id, name, start, now, parent)
      spark.foreach(_.sparkContext.setLocalProperty(Tracer.SpanKey,
        if (current == 0) null else current.toString))
    }
  }

  def add(name: String, start: Double, end: Double, parent: Int): Int = {
    val id = nextId; nextId += 1
    done += Span(id, name, start, end, parent)
    id
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "graftbench.span"
  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int)
}

/** Listener pair registered from the benchmark for the traced passes:
  * a SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for the analysis/optimization/planning phase
  * times of every executed query. */
final class SparkTrace(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private final class JobRec(val id: Int, val parent: Int, val start: Long, var end: Long)
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTimes = mutable.LinkedHashMap[(Int, Int), (Long, Long)]()
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningMs = 0L
  var queryActions = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new JobRec(e.jobId, parent, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += 1
    for (s <- i.submissionTime; c <- i.completionTime)
      stageTimes((i.stageId, i.attemptNumber())) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      executorRunMs += m.executorRunTime
      executorCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queryActions += 1
      planningMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobCount: Long = synchronized(jobs.size.toLong)

  /** Hang job spans under the layer span that submitted them, and stage
    * spans under their job. */
  def emitSpans(): Unit = synchronized {
    val jobSpan = mutable.Map[Int, Int]()
    jobs.values.foreach { j =>
      jobSpan(j.id) = tracer.add(s"spark.job.${j.id}", tracer.fromEpochMs(j.start),
        tracer.fromEpochMs(j.end), j.parent)
    }
    stageTimes.foreach { case ((sid, att), (s, c)) =>
      tracer.add(s"spark.stage.$sid.$att", tracer.fromEpochMs(s), tracer.fromEpochMs(c),
        stageJob.get(sid).flatMap(jobSpan.get).getOrElse(0))
    }
  }
}

object SparkTrace {
  def install(spark: SparkSession, tracer: Tracer): SparkTrace = {
    val l = new SparkTrace(tracer)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    tracer.spark = Some(spark)
    l
  }

  def uninstall(spark: SparkSession, l: SparkTrace): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
