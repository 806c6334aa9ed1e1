package graft

import org.apache.spark.sql.functions._

/** Pins [[Staging.stagedSort]]'s and [[Staging.boundedSort]]'s
  * contract: value- and order-identical to a live `orderBy` over the
  * same frame, with the staged sort's input bounded to the staged file
  * (the expensive plan runs exactly once — the property that removed
  * the range-sampling double execution and the r5/r6 x30 sort-stall
  * class; see the stagedSort scaladoc). Also pins the footer count.
  */
class StagingSpec extends SparkSpec {

  test("stagedSort: rows and order identical to a live orderBy") {
    import spark.implicits._
    val df = Seq((3L, "c", -0.0), (1L, "a", 2.5), (2L, "b", Double.NaN),
      (1L, "z", 1.0)).toDF("k", "s", "x")
      .withColumn("y", col("x") * 2) // a computed column rides along
    val live = df.orderBy(col("k"), col("s")).collect()
    val staged = Staging.stagedSort(df, "spec-sort")(col("k"), col("s"))
      .collect()
    assert(staged.length === live.length)
    staged.zip(live).foreach { case (a, b) =>
      // bit-faithful compare (NaN, signed zero) — the driver gate's
      // standard, not ==
      assert(a.getLong(0) === b.getLong(0))
      assert(a.getString(1) === b.getString(1))
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(2))
        === java.lang.Double.doubleToRawLongBits(b.getDouble(2)))
    }
  }

  test("stagedSort: the sort's plan reads the staged file, not the source plan") {
    import spark.implicits._
    val df = Seq((2L, 1L), (1L, 2L)).toDF("a", "b")
      .groupBy(col("a")).agg(sum(col("b")).as("s"))
    val sorted = Staging.stagedSort(df, "spec-plan")(col("a"))
    val p = sorted.queryExecution.executedPlan.toString
    assert(p.contains("graft-stage-spec-plan"), p)
    assert(!p.contains("HashAggregate"), p) // the expensive plan already ran
  }

  test("boundedSort below and above smallLimit: rows and order identical " +
      "to a live orderBy") {
    // 200 unique keys (7919 is coprime to 200) scattered over 4
    // partitions, a double column with NaN and signed zero riding along
    val df = spark.range(0, 200, 1, 4).select(
      ((col("id") * 7919) % 200).as("k"), (col("id") % 4).cast("string").as("s"),
      when(col("id") % 7 === 0, lit(Double.NaN))
        .when(col("id") % 5 === 0, lit(-0.0))
        .otherwise(col("id") / 3.0).as("x"))
    val live = df.orderBy(col("k"), col("s")).collect()
    // rowBound 200: the single-partition path below the default limit;
    // smallLimit 10 forces the staged path above it
    Seq(Staging.boundedSort(df, 200L, "spec-bounded")(col("k"), col("s")),
        Staging.boundedSort(df, 200L, "spec-bounded", smallLimit = 10L)(
          col("k"), col("s"))).foreach { sorted =>
      val got = sorted.collect()
      assert(got.length === live.length)
      got.zip(live).foreach { case (a, b) =>
        assert(a.getLong(0) === b.getLong(0))
        assert(a.getString(1) === b.getString(1))
        assert(java.lang.Double.doubleToRawLongBits(a.getDouble(2))
          === java.lang.Double.doubleToRawLongBits(b.getDouble(2)))
      }
    }
  }

  test("stagedRowCount: footer count equals count() on empty and " +
      "non-empty staged frames, with no Spark job") {
    val full = Staging.checkpoint(spark.range(0, 1000, 1, 3).toDF("id"),
      "spec-count")
    val empty = Staging.checkpoint(
      spark.range(0, 1000, 1, 3).toDF("id").filter(col("id") < 0), "spec-empty")
    Seq(full -> 1000L, empty -> 0L).foreach { case (staged, n) =>
      var footer = -1L
      assert(jobsRun { footer = Staging.stagedRowCount(staged) } === 0)
      assert(footer === staged.count())
      assert(footer === n)
    }
    // a frame the footers do not describe is counted by count()
    assert(Staging.stagedRowCount(full.filter(col("id") < 10)) === 10L)
  }

}
