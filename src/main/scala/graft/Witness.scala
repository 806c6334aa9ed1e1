package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-run measurement witnesses for one session: host pressure
  * (loadavg, PSI, steal), JVM service work (GC, JIT, Janino, code
  * cache), delivered cpu speed (the two canaries) and the Spark task
  * counters of the one listener it registers. [[Bench]] records
  * [[measure]]'s [[Witness.Sample]] per run into its diag;
  * `tools.Profile` prints the same sample, so a profile and a diag row
  * are read by the same code. Construct once per session; [[close]]
  * detaches the listener where the session outlives the witness.
  *
  * @param cpus threads of the all-core canary — the session's core
  *        count
  */
final class Witness(spark: SparkSession, cpus: Int) {
  import Witness._

  /** First field of /proc/loadavg (1-min runnable average) — the
    * host-contention witness for the r5/r6 one-entry-stalled-10×
    * bench class. -1.0 where the interface is absent.
    */
  def loadavg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
  /** `some avg10` from /proc/pressure/<res> (fraction of the last
    * 10 s any task was stalled on the resource).
    */
  def psi(res: String): Double =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/pressure/$res")), "UTF-8")
      val m = java.util.regex.Pattern.compile("some avg10=([0-9.]+)")
        .matcher(txt)
      if (m.find()) m.group(1).toDouble else -1.0
    } catch { case _: Throwable => -1.0 }

  /** Cumulative stop-the-world collection time across all collector
    * beans (ms). Deltas across a timed run body attribute a slow run
    * to GC directly from the artifact — the r5–r7 x30 wobble shows
    * low cpu PSI with high runnable counts, which is in-JVM service
    * work; this row names (or exonerates) the collector.
    */
  def gcMsTotal(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** Cumulative JIT compilation time (ms) — a first-run-only spike
    * here is codegen/C2 warmup, the expected non-steady-state cost
    * min-of-n exists to absorb.
    */
  def jitMsTotal(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else -1L
  }

  /** Summed executor task run time (ms) since the listener attached —
    * deltas across a run body give the per-run `task_sec` diag row.
    * The listener bus is async, so reads go through
    * [[settledTaskMs]], which waits for the counter to stop moving.
    */
  private val taskMsAcc = new java.util.concurrent.atomic.AtomicLong()
  // task COUNT (r22): per-run deltas land in the diag's task_n rows —
  // the row the r21 scaling probe lacked (it could not tell "entry
  // launches 3 tasks" from "entry ignores the core knob")
  private val taskNAcc = new java.util.concurrent.atomic.AtomicLong()
  // spill (cumulative; per-run delta) and peak per-task execution
  // memory (max over the run; reset before each) — the r7 verdict's
  // ask #3 witness pair for x10_q122: its slow runs carried 4.7–11.6 s
  // GC where x30 (3× the data) carried 0.1–1 s, and these rows say
  // whether that GC was memory pressure (spill>0 / peak near the
  // per-task share) or collateral of a host-delivery stall (both ~0)
  private val spillBytesAcc = new java.util.concurrent.atomic.AtomicLong()
  private val peakExecAcc = new java.util.concurrent.atomic.AtomicLong()
  private val stageNAcc = new java.util.concurrent.atomic.AtomicLong()
  private val jobNAcc = new java.util.concurrent.atomic.AtomicLong()
  // per-job log, kept only inside [[jobsDuring]] so a long session
  // (a whole bench roster) accumulates nothing
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  @volatile private var jobLog
      : Option[java.util.concurrent.ConcurrentLinkedQueue[Job]] = None
  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        taskMsAcc.addAndGet(m.executorRunTime): Unit
        taskNAcc.incrementAndGet(): Unit
        spillBytesAcc.addAndGet(
          m.memoryBytesSpilled + m.diskBytesSpilled): Unit
        peakExecAcc.getAndAccumulate(m.peakExecutionMemory,
          (a: Long, b: Long) => math.max(a, b)): Unit
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageNAcc.incrementAndGet(): Unit
    override def onJobStart(s: SparkListenerJobStart): Unit = {
      jobNAcc.incrementAndGet(): Unit
      if (jobLog.isDefined) jobStarts.put(s.jobId, s): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        // description when the caller set one, else the callsite the
        // scheduler names each stage after
        val desc = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(s.stageInfos.map(_.name.takeWhile(_ != '+')).mkString("|"))
        jobLog.foreach(_.add(Job(s.jobId, s.time, e.time,
          s.stageInfos.map(_.numTasks).sum, desc)))
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Detach the listener (a session that outlives this witness). */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  def settledTaskMs(): Long = {
    var prev = -1L
    var v = taskMsAcc.get()
    var waited = 0
    while (v != prev && waited < 1000) {
      prev = v; Thread.sleep(50); waited += 50; v = taskMsAcc.get()
    }
    v
  }
  /** Generated-class compilations since JVM start (Janino cache
    * misses). A steady per-run delta on a REPEATED identical query
    * is codegen-cache thrash — see GraftSession's
    * spark.sql.codegen.cache.maxEntries note.
    */
  def janinoCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
  /** Fixed-work single-thread spin (~40 ms on an unloaded core):
    * measures the host's DELIVERED cpu speed at this instant. The
    * r5–r7 stall class stretches wall clocks 3–12× while every
    * guest-visible pressure counter (steal, PSI, loadavg, cgroup
    * throttle) reads quiet — this canary is the only in-artifact
    * witness that the slowdown was beneath the guest. The sink
    * defeats dead-code elimination; the warmup loop at construction
    * takes the canary itself out of JIT-warmup territory.
    */
  @volatile private var canarySink = 0L
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }
  def canaryMsNow(): Double = {
    val t0 = System.nanoTime()
    canarySink = spin()
    (System.nanoTime() - t0) / 1e6
  }
  /** The same fixed spin on every core at once (wall of the slowest
    * of `cpus` threads). The r7 stall signature is a FAST
    * single-thread canary beside 10–50× inflated summed task time on
    * unchanged task counts: the hypervisor briefly delivers only a
    * few cores' worth of cycles to the 32-vCPU guest, which a lone
    * spinning thread never notices. Single ~43 ms + parallel ≫
    * single ⇒ the entry ran during such an episode.
    */
  def canaryParMsNow(): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to cpus).map { _ =>
      val th = new Thread(() => { canarySink = spin() })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
  /** JIT'd-code footprint (MB used across the CodeHeap pools). Near
    * ReservedCodeCacheSize the sweeper flushes warm methods and
    * compiled code silently degrades to interpreted — high task cpu
    * with LOW jit_ms and no console banner. Sampled after each run.
    */
  def codeCacheMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / (1L << 20)
  }
  /** Steal fraction (%) of all cpu ticks between two samples — the
    * only guest-visible counter that records hypervisor descheduling
    * itself. Sampled across each run body.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+")
      val vals = f.drop(1).map(_.toLong)
      // denominator = user..steal (first 8 fields) only: guest and
      // guest_nice are already folded into user/nice by the kernel,
      // so summing them double-counts guest time and underestimates
      // steal_pct on VM hosts
      (if (vals.length > 7) vals(7) else 0L, vals.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }
  (1 to 5).foreach(_ => canaryMsNow())

  /** Run `body` between the post-run witness samples Bench's diag
    * records (gc/jit/task/janino/canaries/steal/code-cache/spill/peak),
    * rounded as the diag renders them. The caller does its own
    * pre-run hygiene (cache clear + GC) first: samples start here.
    */
  def measure[A](body: => A): (A, Sample) = {
    val gc0 = gcMsTotal(); val jit0 = jitMsTotal()
    val task0 = settledTaskMs(); val jan0 = janinoCompiles()
    // read AFTER settledTaskMs drained the listener bus, so the
    // counts and the spill counter are settled at the same instant as
    // the time; peak resets here
    val taskN0 = taskNAcc.get(); val stage0 = stageNAcc.get()
    val job0 = jobNAcc.get()
    val spill0 = spillBytesAcc.get(); peakExecAcc.set(0)
    val (steal0, tick0) = cpuTicks()
    val r = body
    val (steal1, tick1) = cpuTicks()
    val gcMs = gcMsTotal() - gc0
    val jitMs = if (jit0 < 0) -1L else jitMsTotal() - jit0
    val taskSec = math.rint((settledTaskMs() - task0) / 100.0) / 10
    val s = Sample(gcMs = gcMs, jitMs = jitMs, taskSec = taskSec,
      taskN = taskNAcc.get() - taskN0,
      stages = stageNAcc.get() - stage0, jobs = jobNAcc.get() - job0,
      janino = janinoCompiles() - jan0,
      canaryAfterMs = math.rint(canaryMsNow() * 10) / 10,
      canaryParMs = math.rint(canaryParMsNow() * 10) / 10,
      stealPct = if (tick1 > tick0)
        math.rint(10000.0 * (steal1 - steal0) / (tick1 - tick0)) / 100
      else -1.0,
      codeCacheMb = codeCacheMb(),
      spillMb = (spillBytesAcc.get() - spill0) / (1L << 20),
      peakExecMb = peakExecAcc.get() / (1L << 20))
    (r, s)
  }

  /** Every Spark job that ends while `body` runs (read after the
    * listener bus settles), in start order.
    */
  def jobsDuring[A](body: => A): (A, Seq[Job]) = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    jobLog = Some(q)
    try {
      val r = body
      settledTaskMs(): Unit
      import scala.jdk.CollectionConverters._
      (r, q.asScala.toSeq.sortBy(_.startMs))
    } finally { jobLog = None; jobStarts.clear() }
  }
}

object Witness {

  /** One run's witness row, in the units Bench's diag records. */
  final case class Sample(gcMs: Long, jitMs: Long, taskSec: Double,
      taskN: Long, stages: Long, jobs: Long, janino: Long,
      canaryAfterMs: Double, canaryParMs: Double, stealPct: Double,
      codeCacheMb: Long, spillMb: Long, peakExecMb: Long)

  /** A finished Spark job: scheduler timestamps (epoch ms), the tasks
    * its stages declared, and its description or callsite.
    */
  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int,
      desc: String)
}
