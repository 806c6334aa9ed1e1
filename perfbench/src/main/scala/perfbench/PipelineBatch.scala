package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.generator.EventGenerator
import graft.gold.Gold
import graft.ingest.Silver
import graft.pipeline.Pipeline

/** `pipeline_batch`: each iteration is one `Pipeline.run` of N seeded
  * events, plus a fixed share of malformed envelopes, into a fresh lake.
  * Before the iterations, the query layer runs its passes
  * ([[QueryPass]]) on the same session.
  */
object PipelineBatch extends Workload {
  val Events = 20000
  /** One malformed envelope per this many events. */
  val BadEvery = 100
  val MinIterations = 4
  /** Job group the pipeline sets for a step -> the layer it times. */
  val Steps = Seq("ingest_silver" -> "ingest.step", "fact_incremental" -> "gold.fact_step",
    "score_anomalies" -> "analytics.score")

  /** Malformed envelopes of three kinds: not JSON, a truncated object,
    * and a well-formed object missing a required field.
    */
  def malformed(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    (0 until n).map { k =>
      k % 3 match {
        case 0 => s"not json ${rnd.nextInt()}"
        case 1 => s"""{"transaction_time": "2025-06-01 00:00:0$k", "transaction_id": "bad$k""""
        case _ => s"""{"transaction_id": "bad-${rnd.nextInt(1 << 20)}", "product_id": "CS01", "quantity": 1}"""
      }
    }
  }

  private def config(lake: Path, seed: Long) =
    Pipeline.Config(lake.toString, nEvents = Events, seed = seed,
      rawExtra = malformed(seed, Events / BadEvery))

  private var seed = 0L
  private var corpus: QueryPass.Corpus = _

  /** The pipeline generates its own events from the seed; the harness
    * regenerates them only to know what the lake must hold. The query
    * corpus is written here.
    */
  def prepare(spark: SparkSession, seed: Long, seconds: Double, dir: Path): Unit = {
    this.seed = seed
    corpus = QueryPass.write(spark, seed, dir.resolve("corpus"))
  }

  /** Two runs: the first pays class loading and code generation, the
    * second still runs much slower than the ones after it (JIT). */
  def warmUp(spark: SparkSession, dir: Path): Unit =
    (1 to 2).foreach(k => Pipeline.run(spark, config(dir.resolve(s"lake$k"), seed)))

  def measure(ctx: Ctx, seconds: Double): Unit = {
    import ctx.{report, spark, tracer}
    val nBad = Events / BadEvery
    report.sample("events_per_unit", Events)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // the query passes run first, within the measured time. The first
    // pays the queries' code generation; a traced run makes a second,
    // whose time is reported and whose counts must repeat the first's
    (1 to (if (ctx.tracing) 2 else 1)).foreach { k =>
      if (ctx.tracing) ctx.probed(QueryPass.pass(ctx, corpus, k)) else QueryPass.pass(ctx, corpus, k)
    }
    var firstCounts = (-1L, -1L, -1L)
    var i = 0
    while (i < MinIterations || System.nanoTime() < deadline) {
      val lake = ctx.dir.resolve(s"lake$i")
      // traced and untraced iterations alternate in a traced run, so
      // the tracing overhead is measured on the same session
      val traced = ctx.tracing && i % 2 == 0
      def iteration(): Unit = {
        val (gen, g) = tracer.span(s"generator.generate#$i") {
          EventGenerator.generate(EventGenerator.defaultProducts, Events, ctx.seed)
        }
        val (_, j) = tracer.span(s"generator.to_json#$i") {
          gen.purchases.map(EventGenerator.toJson)
        }
        report.sample("generator.generate_s", g)
        report.sample("generator.to_json_s", j)
        val runName = s"pipeline.run#$i"
        val (result, wall) = tracer.span(runName) {
          scala.util.Try(Pipeline.run(spark, config(lake, ctx.seed)))
        }
        report.check(s"pipeline run $i completes", result.isSuccess)
        result.foreach { res =>
          report.sample("unit_wall_s", wall)
          if (ctx.tracing) report.sample(if (traced) "traced_wall_s" else "untraced_wall_s", wall)
          // every iteration runs the same input: the first is checked
          // in full, the others by the counts the pipeline reports
          if (i == 0) verify(ctx, i, res, gen, lake, nBad)
          else report.check(s"run $i: same counts as run 0",
            (res.silverRows, res.quarantinedRows, res.factRowsAppended) == firstCounts)
          if (i == 0) firstCounts = (res.silverRows, res.quarantinedRows, res.factRowsAppended)
        }
        if (traced && result.isSuccess) layers(ctx, runName, wall)
      }
      if (traced) ctx.probed(iteration()) else iteration()
      if (i == 0)
        report.sample("storage_bytes",
          (Main.du(lake.resolve("silver")) + Main.du(lake.resolve("gold"))).toDouble)
      i += 1
    }
  }

  /** Per-layer figures of one traced run: each step is the span of the
    * jobs in the job group the pipeline sets for it.
    */
  private def layers(ctx: Ctx, runName: String, wall: Double): Unit = {
    import ctx.{report, spark, tracer}
    Probe.drain(spark)
    val spanId = tracer.idOf(runName).get.toString
    val runJobs = ctx.probe.select(_.span == spanId)
    var stepTotal = 0.0
    Steps.foreach { case (group, layer) =>
      val js = runJobs.filter(_.group == s"graft-$group")
      val stepWall = ctx.probe.wallS(js)
      stepTotal += stepWall
      if (js.nonEmpty)
        tracer.child(runName, layer, js.map(_.submitMs).min, js.map(_.endMs).max)
      report.sample(s"${layer}_s", stepWall)
      if (group == "ingest_silver") {
        val t = ctx.probe.totals(js.contains)
        report.sample("ingest.task_s", t.taskS)
        report.sample("ingest.jobs", t.jobs)
        report.sample("ingest.bytes_written_per_event", t.outputBytes.toDouble / Events)
        report.sample("ingest.feed_rows_read_per_event",
          Probe.scanRows(spark, js).toDouble / Events)
      }
    }
    report.sample("pipeline.overhead_s", wall - stepTotal)
    ctx.unitTotals(runJobs, wall)
  }

  /** Silver holds the valid events, the DLQ the malformed ones, the
    * fact the distinct ids, and the daily sums equal the fact.
    */
  private def verify(ctx: Ctx, i: Int, res: Pipeline.Result,
      gen: EventGenerator.Output, lake: Path, nBad: Int): Unit = {
    import ctx.{report, spark}
    val silver = Silver.readSilver(spark, s"$lake/silver/purchases").count()
    report.check(s"run $i: Silver rows = valid events",
      res.silverRows == Events && silver == Events)
    val dlq = Silver.readQuarantine(spark, s"$lake/silver/quarantine").count()
    report.check(s"run $i: quarantined rows = malformed envelopes",
      res.quarantinedRows == nBad && dlq == nBad)
    val ids = gen.purchases.map(_.transaction_id).distinct.size
    val fact = Gold.readFact(spark, s"$lake/gold/fct_purchases")
    val f = fact.agg(count(lit(1)), countDistinct(col("transaction_id"))).head()
    report.check(s"run $i: fact holds the distinct ids",
      f.getLong(0) == ids && f.getLong(1) == ids && res.factRowsAppended == ids)
    val expected = fact.groupBy(col("purchase_date"))
      .agg(sum(col("final_amount")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    val daily = res.daily.collect().map(r =>
      r.getAs[java.sql.Date]("purchase_date").toString ->
        (r.getAs[Double]("daily_total_sales"), r.getAs[Long]("daily_transaction_count"))).toMap
    report.check(s"run $i: daily sums equal the fact",
      daily.keySet == expected.keySet && daily.forall { case (d, (s, n)) =>
        val (es, en) = expected(d)
        n == en && math.abs(s - es) <= 1e-6 * math.max(1.0, math.abs(es))
      })
  }
}
