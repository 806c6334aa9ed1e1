package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._

/** Counters of one Spark job, filled in as its events arrive. */
final class JobRec(val id: Int, val span: String, val group: String,
    val queryId: String, val batchId: Long, val executionId: Long,
    val submitMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Sums over a set of jobs. */
final case class Totals(jobs: Int, stages: Int, tasks: Int, taskS: Double,
    shuffleBytes: Long, outputBytes: Long, spillBytes: Long) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskS + o.taskS, shuffleBytes + o.shuffleBytes,
    outputBytes + o.outputBytes, spillBytes + o.spillBytes)
}

/** The benchmark's one SparkListener. It attributes every job, and the
  * stages and tasks that job ran, to the span that was open on the
  * submitting thread (a local property, which Spark copies into the
  * threads a pipeline step starts), to the job group the program set,
  * and to the streaming query and micro-batch that submitted it.
  */
final class Probe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    def num(k: String) = prop(k).toLongOption.getOrElse(-1L)
    val rec = new JobRec(e.jobId, prop(Probe.SpanKey), prop("spark.jobGroup.id"),
      prop("sql.streaming.queryId"), num("streaming.sql.batchId"),
      num("spark.sql.execution.id"), e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def select(p: JobRec => Boolean): Seq[JobRec] = synchronized(jobs.values.filter(p).toSeq)

  def totals(p: JobRec => Boolean): Totals =
    select(p).foldLeft(Totals(0, 0, 0, 0.0, 0L, 0L, 0L)) { (t, j) =>
      t + Totals(1, j.stages, j.tasks, j.taskMs / 1000.0, j.shuffleBytes,
        j.outputBytes, j.spillBytes)
    }

  /** Wall span of a set of jobs: first submission to last completion. */
  def wallS(js: Seq[JobRec]): Double =
    if (js.isEmpty) 0.0
    else (js.map(_.endMs).max - js.map(_.submitMs).min) / 1000.0
}

object Probe {
  val SpanKey = "perfbench.span"

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Rows emitted by the scan operators (file, in-memory and local
    * relation scans) of the SQL executions that ran `jobs`, read from
    * Spark's SQL status store: how many input rows were read.
    */
  def scanRows(spark: SparkSession, jobs: Seq[JobRec]): Long = {
    val executions = jobs.map(_.executionId).filter(_ >= 0).distinct
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    executions.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes
        .filter(n => n.name.startsWith("Scan") || n.name == "LocalTableScan")
        .flatMap(_.metrics.find(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(_.replace(",", "").trim.toLongOption.getOrElse(0L)).sum
    }.sum
  }
}

/** The benchmark's one StreamingQueryListener: a record per finished
  * micro-batch of every streaming query.
  */
final class StreamProbe extends StreamingQueryListener {
  import StreamProbe.Batch
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val b = Batch(p.id.toString, p.batchId, start, start + ms("triggerExecution"),
      ms("addBatch"), d.containsKey("addBatch"))
    synchronized { batches += b }
  }

  /** The batches a query ran. */
  def of(queryId: String): Seq[Batch] =
    synchronized(batches.filter(b => b.queryId == queryId && b.ran).toSeq)
}

object StreamProbe {
  /** `ran`: the trigger ran a batch (an idle trigger reports too). */
  final case class Batch(queryId: String, batchId: Long, startMs: Long, endMs: Long,
      addBatchMs: Long, ran: Boolean)
}

/** Named spans around layer calls. With tracing on, a span also tags
  * the jobs submitted inside it; every span is kept for the trace file.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val origin = System.nanoTime()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - origin

  /** Time `body`; returns its result and its wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) { val r = body; return (r, (System.nanoTime() - t0) / 1e9) }
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), t0, -1L)
    spans += s
    val prevProp = sc.getLocalProperty(Probe.SpanKey)
    stack = s.id :: stack
    sc.setLocalProperty(Probe.SpanKey, s"${s.id}")
    try { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Probe.SpanKey, prevProp)
    }
  }

  /** Record a child span whose bounds were observed elsewhere (a
    * pipeline step's jobs), in milliseconds since the epoch.
    */
  def child(parentName: String, name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans.reverseIterator.find(_.name == parentName).foreach { p =>
      spans += Span(spans.size, name, p.id, startMs * 1000000L - epochOffsetNs,
        endMs * 1000000L - epochOffsetNs)
    }

  def idOf(name: String): Option[Int] = spans.reverseIterator.find(_.name == name).map(_.id)

  def toJson: JValue = JArray(spans.toList.map { s =>
    JObject("id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
      "start_s" -> JDouble((s.startNs - origin) / 1e9),
      "end_s" -> JDouble((s.endNs - origin) / 1e9))
  })
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)
}
