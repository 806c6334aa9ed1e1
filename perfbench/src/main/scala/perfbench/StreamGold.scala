package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.generator.EventGenerator
import graft.gold.AtomicTable
import graft.ingest.Silver
import graft.streaming.{StreamingGold, StreamingSilver}
import org.json4s._

/** `stream_gold`: an open-loop generator thread drops JSON-lines files
  * on a fixed schedule into a file source. The parsed stream feeds the
  * Silver sink, the quarantine sink and the transactional Gold fact (one
  * AtomicTable merge per micro-batch) under a fixed trigger.
  *
  * Phase A offers a rate well below capacity and measures freshness;
  * phase B offers a rate above it and measures capacity. Some lines are
  * re-sent copies of earlier ones (producer retries) and some are
  * malformed.
  */
object StreamGold extends Workload {
  val TriggerMs = 1000L
  /** Share of the measured time in phase A; phase B takes the rest. */
  val PhaseAShare = 0.7
  /** (files per second, events per file) of phase A and of phase B. */
  val RateA = (5, 40)
  val RateB = (10, 400)
  /** One retried line per this many events, one malformed per BadEvery. */
  val RetryEvery = 50
  val BadEvery = 100

  /** The files the generator will drop, with what they must yield. */
  final case class Feed(files: Seq[Seq[String]], validLines: Long,
      malformedLines: Long, ids: Set[String])

  private var feed, warm: Feed = _
  private var filesA = 0
  private var flow: Flow = _

  /** Files of the given sizes in events, from events starting at `base`. */
  def makeFeed(seed: Long, sizes: Seq[Int], base: String): Feed = {
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, sizes.sum, seed,
      java.sql.Timestamp.valueOf(base))
    val json = gen.purchases.map(EventGenerator.toJson).toIndexedSeq
    val rnd = new scala.util.Random(seed ^ 0x57e4)
    var next, valid, bad = 0
    val files = sizes.map { k =>
      val out = mutable.ArrayBuffer.empty[String]
      (0 until k).foreach { _ =>
        out += json(next); next += 1; valid += 1
        if (next % RetryEvery == 0) { out += json(rnd.nextInt(next)); valid += 1 }
        if (next % BadEvery == 0) {
          out += PipelineBatch.malformed(rnd.nextLong(), 3)(rnd.nextInt(3)); bad += 1
        }
      }
      out.toSeq
    }
    Feed(files, valid, bad, gen.purchases.map(_.transaction_id).toSet)
  }

  final class Flow(spark: SparkSession, dir: Path, trigger: Trigger) {
    val in: Path = Files.createDirectories(dir.resolve("in"))
    val silverPath = dir.resolve("silver").toString
    val dlqPath = dir.resolve("quarantine").toString
    val goldRoot = dir.resolve("gold").toString
    def ckpt(q: String) = dir.resolve(s"checkpoint/$q").toString
    private val (valid, quarantined) = Silver.parseWithQuarantine(
      StreamingSilver.Sources.fileJsonLines(spark, in.toString))
    val silver: StreamingQuery =
      StreamingSilver.startSilverSink(valid, silverPath, ckpt("silver"), trigger)
    val dlq: StreamingQuery =
      StreamingSilver.startQuarantineSink(quarantined, dlqPath, ckpt("quarantine"), trigger)
    val gold: StreamingQuery =
      StreamingGold.startTransactionalFact(valid, goldRoot, ckpt("gold"), trigger)
    val all = Seq(silver, dlq, gold)

    /** Drop a file atomically: write a hidden file, then rename it. */
    def drop(name: String, lines: Seq[String]): Unit = {
      val tmp = in.resolve(s".$name")
      Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    def drain(): Unit = all.foreach(_.processAllAvailable())
    def stop(): Unit = all.foreach(_.stop())
  }

  def prepare(spark: SparkSession, seed: Long, seconds: Double, dir: Path): Unit = {
    filesA = (seconds * PhaseAShare * RateA._1).round.toInt
    val filesB = (seconds * (1 - PhaseAShare) * RateB._1).round.toInt
    feed = makeFeed(seed, Seq.fill(filesA)(RateA._2) ++ Seq.fill(filesB)(RateB._2),
      "2025-06-01 00:00:00")
    warm = makeFeed(seed + 1, Seq(RateA._2, RateA._2), "2025-05-01 00:00:00")
  }

  /** Starts the flow that is measured and runs two micro-batches
    * through it: the tables exist and the merge path is warm when the
    * measurement starts.
    */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    flow = new Flow(spark, dir, Trigger.ProcessingTime(TriggerMs))
    warm.files.zipWithIndex.foreach { case (lines, i) =>
      flow.drop(s"w$i.json", lines)
      flow.drain()
    }
  }

  def measure(ctx: Ctx, seconds: Double): Unit = {
    import ctx.{report, spark}
    val startVersion = AtomicTable.latestVersion(flow.goldRoot).getOrElse(-1)
    val run = () => {
      val due = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
      val nA = filesA
      // each phase starts just after a trigger instant (triggers fire on
      // multiples of the interval), so every run meets the trigger alike
      def nextTrigger() = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 50
      def dropAll(files: Seq[(Seq[String], Int)], start: Long, perSecond: Int): Unit =
        files.zipWithIndex.foreach { case ((lines, f), k) =>
          val dueMs = start + k * 1000L / perSecond
          val wait = dueMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val name = f"f$f%05d.json"
          flow.drop(name, lines)
          due += ((name, dueMs, System.currentTimeMillis(), lines.size))
        }
      val t0 = nextTrigger()
      var phaseBStart = 0L
      // phase B starts once Gold has committed phase A, so that no
      // phase-A freshness waits on a phase-B batch
      val generator = new Thread(() => {
        val files = feed.files.zipWithIndex
        dropAll(files.take(nA), t0, RateA._1)
        flow.gold.processAllAvailable()
        phaseBStart = nextTrigger()
        dropAll(files.drop(nA), phaseBStart, RateB._1)
      }, "perfbench-generator")
      generator.start()
      generator.join()
      val phaseBEnd = System.currentTimeMillis()
      val drained = scala.util.Try(flow.drain())
      flow.stop()
      report.check("stream drained without a query failure",
        drained.isSuccess && flow.all.forall(_.exception.isEmpty))
      (due.toSeq, t0, phaseBStart, phaseBEnd)
    }
    val ((due, t0, phaseBStart, phaseBEnd), _) =
      if (ctx.tracing) ctx.probed(ctx.tracer.span("stream.run")(run()))
      else ctx.tracer.span("stream.run")(run())
    Probe.drain(spark)

    val gold = ctx.streams.of(flow.gold.id.toString)
    gold.foreach { b =>
      report.sample("gold.merge_s", b.addBatchMs / 1000.0)
      report.sample("streaming.batch_s", (b.endMs - b.startMs) / 1000.0)
    }
    val silver = ctx.streams.of(flow.silver.id.toString)
    silver.foreach(b => report.sample("ingest.step_s", (b.endMs - b.startMs) / 1000.0))
    def batches(bs: Seq[StreamProbe.Batch]) = JArray(bs.toList.map(b => JObject(
      "batch" -> JLong(b.batchId), "start_ms" -> JLong(b.startMs), "end_ms" -> JLong(b.endMs))))
    due.foreach { case (_, d, w, _) => report.sample("streaming.generator_lag_s", (w - d) / 1000.0) }
    report.put("stream", JObject(
      "phase_a_start_ms" -> JLong(t0), "phase_b_start_ms" -> JLong(phaseBStart),
      "phase_b_end_ms" -> JLong(phaseBEnd),
      "gold_source_log" -> JString(s"${flow.ckpt("gold")}/sources/0"),
      "silver_source_log" -> JString(s"${flow.ckpt("silver")}/sources/0"),
      "files" -> JArray(due.toList.map { case (n, d, w, lines) =>
        JObject("name" -> JString(n), "due_ms" -> JLong(d), "written_ms" -> JLong(w),
          "lines" -> JInt(lines))
      }),
      "gold_batches" -> batches(gold), "silver_batches" -> batches(silver)))
    if (ctx.tracing) goldLayers(ctx, gold.map(_.batchId), startVersion)
    verify(ctx, flow)
  }

  /** Jobs, files and bytes of each Gold commit since `startVersion`, from
    * the listener and the table's manifests.
    */
  private def goldLayers(ctx: Ctx, batches: Seq[Long], startVersion: Int): Unit = {
    import ctx.report
    val goldJobs = ctx.probe.select(_.queryId == flow.gold.id.toString)
    batches.foreach { b =>
      val js = goldJobs.filter(_.batchId == b)
      report.sample("gold.merge_jobs", js.size)
      ctx.unitTotals(js, ctx.probe.wallS(js))
    }
    val silverJobs = ctx.probe.select(_.queryId == flow.silver.id.toString)
    silverJobs.groupBy(_.batchId).values.foreach { js =>
      val t = ctx.probe.totals(js.contains)
      report.sample("ingest.task_s", t.taskS)
      report.sample("ingest.jobs", t.jobs)
    }
    val latest = AtomicTable.latestVersion(flow.goldRoot).getOrElse(-1)
    def paths(v: Int) = AtomicTable.files(flow.goldRoot, v).map(_.split("\t")(0)).toSet
    def bytes(v: Int) =
      paths(v).toSeq.map(p => Files.size(java.nio.file.Paths.get(flow.goldRoot, p))).sum
    (startVersion + 1 to latest).foreach { v =>
      report.sample("gold.files_per_commit", (paths(v) -- paths(v - 1)).size)
    }
    // bytes the commits wrote per byte they added to the live table
    val added = bytes(latest) - bytes(startVersion)
    val written = ctx.probe.totals(goldJobs.contains).outputBytes
    if (added > 0) report.put("gold_write_amplification", JDouble(written.toDouble / added))
  }

  /** Gold holds every valid event once; Silver and the DLQ hold every
    * valid and every malformed line.
    */
  private def verify(ctx: Ctx, flow: Flow): Unit = {
    import ctx.{report, spark}
    val fact = AtomicTable.read(spark, flow.goldRoot)
    val ids = fact.select(col("transaction_id")).collect().map(_.getString(0))
    report.check("gold fact holds no duplicate ids", ids.length == ids.distinct.length)
    report.check("gold fact holds every valid event", ids.toSet == feed.ids ++ warm.ids)
    report.check("silver holds every valid line",
      Silver.readSilver(spark, flow.silverPath).count() == feed.validLines + warm.validLines)
    report.check("quarantine holds every malformed line",
      Silver.readQuarantine(spark, flow.dlqPath).count() ==
        feed.malformedLines + warm.malformedLines)
  }
}
