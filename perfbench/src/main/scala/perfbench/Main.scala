package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s._

/** Raw results of one run: measured samples, per-layer values, the
  * outcome of every correctness check and the trace. `run.py` turns
  * them into the benchmark's metrics.
  */
final class Report {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, JValue]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  /** One measured sample of metric `k`; `run.py` reduces the samples. */
  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def put(k: String, v: JValue): Unit = values(k) = v

  /** One correctness check (or one attempted operation). */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failures += what
      System.err.println(s"[perfbench] FAILED: $what")
    }
  }

  def failed: Int = failures.size

  def toJson: JValue = JObject(values.toList ++ List(
    "samples" -> JObject(samples.toList.map { case (k, v) => k -> JArray(v.toList.map(JDouble(_))) }),
    "attempted" -> JInt(attempted), "failed" -> JInt(failed),
    "failures" -> JArray(failures.toList.map(JString(_)))))
}

/** What a workload sees: the session, the listeners and the options. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val tracing: Boolean, val report: Report, val dir: Path) {
  val probe = new Probe
  val streams = new StreamProbe
  val tracer = new Tracer(spark.sparkContext, tracing)

  /** Spark totals of one unit of work (a pipeline run or a micro-batch). */
  def unitTotals(jobs: Seq[JobRec], wall: Double): Unit = {
    val t = probe.totals(jobs.contains)
    report.sample("workload.jobs", t.jobs)
    report.sample("workload.stages", t.stages)
    report.sample("workload.tasks", t.tasks)
    report.sample("workload.task_s", t.taskS)
    report.sample("workload.cpu_util", t.taskS / (wall * Main.Cores))
  }

  /** Run `body` with the job listener attached (a traced section). */
  def probed[T](body: => T): T = {
    spark.sparkContext.addSparkListener(probe)
    try body
    finally { Probe.drain(spark); spark.sparkContext.removeSparkListener(probe) }
  }
}

trait Workload {
  /** Build the inputs of a `seconds`-long measurement from the seed
    * under `dir`. */
  def prepare(spark: SparkSession, seed: Long, seconds: Double, dir: Path): Unit
  /** Warm the session up before the measurement. */
  def warmUp(spark: SparkSession, dir: Path): Unit
  /** Measure for `seconds`, recording samples and checks in the report. */
  def measure(ctx: Ctx, seconds: Double): Unit
}

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`.
  * Writes the raw results file; exits non-zero on any error.
  */
object Main {
  val Setups = 3
  /** Spark runs as `local[Cores]` with as many shuffle partitions. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not wait on Spark's threads
    val code = try { run(args); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload: Workload = opt("workload") match {
      case "pipeline_batch" => PipelineBatch
      case "stream_gold" => StreamGold
      case w => sys.error(s"unknown workload $w")
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val report = new Report
    // set-up: session start and input build are repeated (each time a
    // fresh session and fresh inputs; the last ones are kept), then the
    // kept session is warmed up once
    var spark: SparkSession = null
    (1 to Setups).foreach { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.create(s"local[$Cores]", Cores.toString)
      val t1 = System.nanoTime()
      workload.prepare(spark, seed, seconds, work.resolve("inputs"))
      val t2 = System.nanoTime()
      report.sample("setup.repeated_s", (t2 - t0) / 1e9)
      System.err.println(f"[perfbench] set-up $k: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"inputs ${(t2 - t1) / 1e9}%.2f s")
    }
    val w0 = System.nanoTime()
    workload.warmUp(spark, work.resolve("warmup"))
    report.sample("setup.warmup_s", (System.nanoTime() - w0) / 1e9)

    val ctx = new Ctx(spark, seed, tracing, report, work.resolve("run"))
    spark.streams.addListener(ctx.streams)
    val t0 = System.nanoTime()
    workload.measure(ctx, seconds)
    report.sample("measure_s", (System.nanoTime() - t0) / 1e9)
    if (tracing) report.put("trace", ctx.tracer.toJson)

    // heap still live after a full collection at the end of the run;
    // collections repeat because Spark's cleaner frees cached blocks
    // only after a collection has found their owners unreachable
    val rt = Runtime.getRuntime
    val live = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
    report.sample("live_heap_mb", live)

    Files.writeString(Paths.get(opt("out")), jackson.JsonMethods.compact(report.toJson))
    spark.stop()
  }

  /** Bytes of every regular file under `root` (0 when it is missing). */
  def du(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
