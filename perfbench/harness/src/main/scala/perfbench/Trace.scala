package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark work counted for one job group (one span). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningNs = 0L
  var batches = 0L
  val batchMs = mutable.ArrayBuffer[Long]()

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    recordsRead += o.recordsRead; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    planningNs += o.planningNs; batches += o.batches; batchMs ++= o.batchMs
  }
}

/** One timed call, kept in memory and written out when the run ends. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts Spark work with listeners the benchmark registers itself, and
  * attributes it by the job group the benchmark sets around each call.
  * Jobs started by threads that set their own group (a streaming query's
  * micro-batches) go to the span that was open when they ran: operations
  * run one at a time, so that span is the one that caused them. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val byGroup = mutable.Map[String, Work]()
  private val stageGroup = mutable.Map[Int, String]()
  @volatile private var open: String = "none"
  val spans = mutable.ArrayBuffer[Span]()

  private def work(group: String): Work = synchronized(byGroup.getOrElseUpdate(group, new Work))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(byGroupKnown).getOrElse(open)
      Trace.this.synchronized { e.stageIds.foreach(s => stageGroup(s) = g) }
      work(g).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val w = work(Trace.this.synchronized(stageGroup.getOrElse(e.stageId, open)))
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.recordsRead += m.inputMetrics.recordsRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ns = qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L
      work(open).planningNs += ns
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) {
        val w = work(open)
        w.batches += 1
        w.batchMs += e.progress.batchDuration
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val knownGroups = mutable.Set[String]()
  private def byGroupKnown(g: String): Boolean = synchronized(knownGroups(g))

  private var attached = false
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Run `body` as span `name` under job group `name`; returns its result
    * and the span. Counters of the span are complete when this returns. */
  def span[T](name: String, parent: String = "")(body: => T): (T, Span) = {
    synchronized(knownGroups += name)
    val prevOpen = open
    open = name
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally {
      if (attached) PerfbenchBus.drain(sc)
      sc.clearJobGroup()
      open = prevOpen
    }
    val s = Span(name, parent, t0, System.nanoTime())
    spans += s
    (out, s)
  }

  /** Counters of every group whose name satisfies `p`, summed. */
  def workOf(p: String => Boolean): Work = synchronized {
    val sum = new Work
    byGroup.foreach { case (g, w) => if (p(g)) sum += w }
    sum
  }

  def reset(): Unit = synchronized { byGroup.clear(); stageGroup.clear() }
}
