package graft.tools

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, GraftSession, SparkEntry, Witness}
import graft.gold.AtomicTable

/** Profile registered queries: each run is timed the way [[graft.Bench]]
  * times an entry (cache clear + GC first, noop sink) and witnessed by
  * [[graft.Witness]], so the per-run fields — wall, task-seconds,
  * tasks, stages, jobs, spill, peak execution memory, JIT, GC, Janino
  * compiles, steal, code cache and both canaries — are read by the
  * same code as Bench's diag rows. AtomicTable commit phases recorded
  * during a run are printed after it.
  *
  * Usage:
  * {{{
  * runMain graft.tools.Profile <sfDir> <query ...> [--copies N]
  *   [--repeat R] [--show] [--jobs] [--plan DIR]
  * }}}
  *  - `--copies N`: run over an N-copy documents/embeddings corpus
  *    built by [[graft.Bench.buildScaledCorpus]] (the bench's x10/x30
  *    probes); 1 (the default) runs over `sfDir` itself.
  *  - `--repeat R`: runs per query (default 1).
  *  - `--show`: print the last run's rows.
  *  - `--jobs`: list each run's Spark jobs with their duration, the
  *    driver gap before each (planning, staging round-trips, footer
  *    reads and broadcast builds live there) and the job's
  *    description or callsite.
  *  - `--plan DIR`: write the last run's `explain("formatted")` to
  *    `DIR/<query>.txt`.
  *
  * `main` runs on a session of `SPARK_GRAFT_CPUS` cores, else the
  * machine's processor count; [[run]] profiles on a caller's session.
  */
object Profile {

  private final case class Options(sfDir: String, queries: Seq[String] = Nil,
      copies: Int = 1, repeat: Int = 1, show: Boolean = false,
      jobs: Boolean = false, plan: Option[String] = None)

  /** One profiled run. `startMs` is the epoch millisecond the run
    * began, the origin of the first job's gap.
    */
  final case class Run(query: String, run: Int, startMs: Long,
      wallSec: Double, witness: Witness.Sample,
      phases: Seq[(String, Double)], jobs: Seq[Witness.Job])

  private val Usage = "usage: Profile <sfDir> <query ...> [--copies N] " +
    "[--repeat R] [--show] [--jobs] [--plan DIR]"

  private def parse(args: Seq[String]): Options = {
    def count(flag: String, v: String): Int = v.toIntOption.filter(_ >= 1)
      .getOrElse(throw new IllegalArgumentException(
        s"$flag needs a positive integer, got '$v'; $Usage"))
    @tailrec def go(rest: List[String], o: Options): Options = rest match {
      case Nil => o
      case "--copies" :: n :: t => go(t, o.copy(copies = count("--copies", n)))
      case "--repeat" :: n :: t => go(t, o.copy(repeat = count("--repeat", n)))
      case "--show" :: t => go(t, o.copy(show = true))
      case "--jobs" :: t => go(t, o.copy(jobs = true))
      case "--plan" :: d :: t => go(t, o.copy(plan = Some(d)))
      case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(
        s"unknown option or missing value: $f; $Usage")
      case q :: t => go(t, o.copy(queries = o.queries :+ q))
    }
    val o = args.toList match {
      case dir :: rest if !dir.startsWith("--") => go(rest, Options(dir))
      case _ => throw new IllegalArgumentException(Usage)
    }
    if (o.queries.isEmpty) throw new IllegalArgumentException(Usage)
    val unknown = o.queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    o
  }

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Profile on `spark` and print every run; returns the runs. The
    * session stays usable: the witness's listener is detached and the
    * phase sink restored before returning.
    */
  def run(spark: SparkSession, args: Seq[String]): Seq[Run] = {
    val o = parse(args)
    val corpus =
      if (o.copies <= 1) o.sfDir
      else Bench.buildScaledCorpus(spark, o.sfDir, o.copies)
    val label = if (o.copies <= 1) "" else s"x${o.copies} "
    val witness = new Witness(spark, cores)
    try {
      // JVM/codegen/reader warmup outside the timed runs, as in Bench
      spark.read.parquet(s"${o.sfDir}/nation.parquet").count(): Unit
      o.queries.flatMap { name =>
        val runs = (1 to o.repeat).map { i =>
          spark.catalog.clearCache(); System.gc()
          val (df, r) = profileOnce(spark, witness, name, i, corpus)
          report(label, r, o.jobs)
          (df, r)
        }
        val last = runs.last._1
        if (o.show) last.show(50, truncate = false)
        o.plan.foreach { dir =>
          val p = java.nio.file.Paths.get(dir, s"$name.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, last.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          println(s"[profile] wrote $p")
        }
        runs.map(_._2)
      }
    } finally witness.close()
  }

  private def profileOnce(spark: SparkSession, witness: Witness,
      name: String, i: Int, corpus: String): (DataFrame, Run) = {
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sink0 = AtomicTable.phaseSink
    AtomicTable.phaseSink = Some((n, s) =>
      phases.synchronized { phases(n) = phases.getOrElse(n, 0.0) + s })
    val (((df, startMs, wall), sample), jobs) =
      try witness.jobsDuring(witness.measure {
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, corpus)
        df.write.format("noop").mode("overwrite").save()
        (df, startMs, (System.nanoTime() - t0) / 1e9)
      }) finally AtomicTable.phaseSink = sink0
    (df, Run(name, i, startMs, wall, sample,
      phases.synchronized(phases.toSeq), jobs))
  }

  private def report(label: String, r: Run, jobs: Boolean): Unit = {
    val s = r.witness
    println(f"[profile] $label${r.query} run ${r.run}: ${r.wallSec}%.3f s" +
      f"  task ${s.taskSec}%.1f s  tasks ${s.taskN}  stages ${s.stages}" +
      f"  jobs ${s.jobs}  spill ${s.spillMb} mb  peak_exec ${s.peakExecMb} mb" +
      f"  jit ${s.jitMs} ms  gc ${s.gcMs} ms  janino ${s.janino}" +
      f"  steal ${s.stealPct}%.2f%%  code_cache ${s.codeCacheMb} mb" +
      f"  canary ${s.canaryAfterMs}%.1f ms  canary_par ${s.canaryParMs}%.1f ms")
    r.phases.foreach { case (n, sec) =>
      println(f"[profile]   phase $n%-28s $sec%.3f s")
    }
    if (jobs) {
      var prevEnd = r.startMs
      r.jobs.foreach { j =>
        println(f"[profile]   j${j.id}%-4d gap ${(j.startMs - prevEnd) / 1e3}%6.3f" +
          f"  dur ${(j.endMs - j.startMs) / 1e3}%6.3f  tasks ${j.tasks}%-5d " +
          j.desc.take(70))
        prevEnd = math.max(prevEnd, j.endMs)
      }
      println(f"[profile]   tail after last job: " +
        f"${(r.startMs + r.wallSec * 1000 - prevEnd) / 1e3}%.3f s")
    }
  }

  def main(args: Array[String]): Unit = {
    parse(args.toSeq): Unit // usage errors before a session starts
    val spark = GraftSession.create(s"local[$cores]", cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq): Unit finally spark.stop()
  }
}
