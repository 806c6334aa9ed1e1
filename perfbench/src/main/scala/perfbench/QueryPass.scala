package perfbench

import java.nio.file.Path
import java.time.{Instant, ZoneOffset}
import scala.util.Try
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** The query layer, measured inside `pipeline_batch`: registered
  * queries run through `SparkEntry.queries` over a small seeded
  * TPC-H-like corpus that the harness writes as parquet. Every result is
  * checked against the answer computed from the generated rows in plain
  * Scala.
  */
object QueryPass {
  val Names = Seq("q10_daily_sales", "q21_join_multi", "q31_running_total",
    "q93_incremental_mv")
  val Orders = 20000
  val Customers = 2000
  val Events = 20000

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Instant, o_orderpriority: String)
  final case class Event(event_id: Long, ts: Instant, user_id: Long, event_type: String,
      value: Double, props: String)

  /** A written corpus and the rows each query must return, in order. */
  final case class Corpus(dir: String, expected: Map[String, Seq[Seq[Any]]])

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def day(t: Instant): String = t.atZone(ZoneOffset.UTC).toLocalDate.toString

  /** Write the corpus under `dir` and derive the expected answers. */
  def write(spark: SparkSession, seed: Long, dir: Path): Corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x9e3779b9L)
    val year = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    def cents(max: Int) = rnd.nextInt(max * 100) / 100.0
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, k) => Region(k, n) }
    val nations = (0 until 25).map(k => Nation(k, s"NATION$k", k % 5))
    val customers = (1 to Customers).map(k => Customer(k, s"Customer#$k",
      rnd.nextInt(25), cents(10000), Seq("AUTO", "BUILD", "HOUSE")(rnd.nextInt(3))))
    val orders = (1 to Orders).map(k => Order(k, 1 + rnd.nextInt(Customers),
      Seq("O", "F", "P")(rnd.nextInt(3)), cents(5000),
      Instant.ofEpochSecond(year + rnd.nextInt(366 * 86400)), s"${1 + rnd.nextInt(5)}-PRIO"))
    // January 2024, so the q93 cut-off (the 20th, noon) splits base and delta
    val events = (1 to Events).map(k => Event(k,
      Instant.ofEpochSecond(year + rnd.nextInt(31 * 86400)), rnd.nextInt(500),
      Seq("view", "click", "purchase")(rnd.nextInt(3)), cents(100),
      s"""{"k": ${rnd.nextInt(50)}}"""))
    val root = dir.toAbsolutePath.toString
    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name.parquet")
    save("region", regions.toDF())
    save("nation", nations.toDF())
    save("customer", customers.toDF())
    save("orders", orders.toDF())
    save("events", events.toDF())

    val regionOf = nations.map(n => n.n_nationkey -> regions(n.n_regionkey).r_name).toMap
    val custRegion = customers.map(c => c.c_custkey -> regionOf(c.c_nationkey)).toMap
    def grouped[K: Ordering](keyed: Seq[(K, Double)]): Seq[(K, Double, Long)] =
      keyed.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
        (k, round2(xs.map(_._2).sum), xs.size.toLong)
      }
    val running = orders.groupBy(_.o_custkey).values.flatMap { os =>
      os.sortBy(o => (o.o_orderdate, o.o_orderkey)).scanLeft((0L, 0L, 0.0)) {
        case ((_, _, acc), o) => (o.o_custkey, o.o_orderkey, acc + o.o_totalprice)
      }.tail
    }.toSeq.sortBy(r => (r._1, r._2))
    Corpus(root, Map(
      "q10_daily_sales" -> grouped(orders.map(o => day(o.o_orderdate) -> o.o_totalprice))
        .map { case (d, s, n) => Seq(d, s, n) },
      "q21_join_multi" -> grouped(orders.map(o => custRegion(o.o_custkey) -> o.o_totalprice))
        .map { case (r, s, n) => Seq(r, s, n) },
      "q31_running_total" -> running.map { case (c, o, s) => Seq(c, o, round2(s)) },
      "q93_incremental_mv" -> grouped(events.map(e => (day(e.ts), e.event_type) -> e.value))
        .map { case ((d, t), s, n) => Seq(d, t, n, s) }))
  }

  /** Same rows in the same order; sums may differ by a cent, because
    * the engine adds them in another order before rounding. */
  def same(got: Seq[Row], want: Seq[Seq[Any]]): Boolean = {
    def norm(v: Any): Any = v match {
      case d: java.sql.Date => d.toString
      case d: java.time.LocalDate => d.toString
      case n: java.lang.Number => n.doubleValue
      case x => x
    }
    def eq(a: Any, b: Any): Boolean = (norm(a), norm(b)) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 0.01 + 1e-9 * math.abs(y)
      case (x, y) => x == y
    }
    got.size == want.size && got.zip(want).forall { case (r, w) =>
      r.length == w.size && r.toSeq.zip(w).forall { case (a, b) => eq(a, b) }
    }
  }

  /** One pass: each query is timed, checked and, when traced, counted
    * by the jobs submitted inside its span.
    */
  def pass(ctx: Ctx, corpus: Corpus, k: Int): Unit = {
    import ctx.{report, spark, tracer}
    var total = 0.0
    Names.foreach { q =>
      val span = s"queries.$q#$k"
      val (rows, s) = tracer.span(span)(Try(SparkEntry.queries(q)(spark, corpus.dir).collect()))
      total += s
      report.check(s"query $q pass $k completes", rows.isSuccess)
      rows.foreach(r => report.check(s"query $q pass $k: rows equal the expected answer",
        same(r.toSeq, corpus.expected(q))))
      report.sample(s"queries.$q.s", s)
      if (ctx.tracing) {
        Probe.drain(spark)
        val id = tracer.idOf(span).get.toString
        val t = ctx.probe.totals(_.span == id)
        report.sample(s"queries.$q.jobs", t.jobs)
        report.sample(s"queries.$q.tasks", t.tasks)
        report.sample(s"queries.$q.shuffle_bytes", t.shuffleBytes.toDouble)
        report.sample(s"queries.$q.spill_bytes", t.spillBytes.toDouble)
      }
    }
    report.sample("queries.pass_s", total)
  }
}
