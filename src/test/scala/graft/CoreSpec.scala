package graft

import graft.core.{Grain, Model, ModelRegistry}
import graft.operators.DateSpine
import org.apache.spark.sql.functions._
import java.time.LocalDate

class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("periodStart truncates to Monday weeks like PG") {
    // 2022-01-05 is a Wednesday; its ISO week starts Monday 2022-01-03.
    val df = Seq("2022-01-05").toDF("d").select(
      Grain.periodStart(to_date(col("d")), Grain.Week).as("p"))
    assert(df.as[java.sql.Date].head().toString == "2022-01-03")
  }

  test("week truncation corners: Sunday rolls back to Monday; ISO week at year boundary") {
    // 2022-01-09 is a Sunday → its ISO week starts Monday 2022-01-03
    val sunday = Seq("2022-01-09").toDF("d").select(
      Grain.periodStart(to_date(col("d")), Grain.Week).cast("string")).as[String].head()
    assert(sunday == "2022-01-03")
    // 2022-01-01 (Saturday) belongs to ISO week 52 of 2021 — PG extract(week) parity
    val w = Seq("2022-01-01").toDF("d")
      .select(weekofyear(to_date(col("d")))).as[Int].head()
    assert(w == 52)
  }

  test("date spine monthly: bounds inclusive, period_end is month end") {
    val sp = DateSpine.spine(spark, Grain.Month,
      LocalDate.parse("2022-01-01"), LocalDate.parse("2022-04-01"))
    val rows = sp.orderBy("period_start")
      .select(col("period_start").cast("string"), col("period_end").cast("string"),
        col("period_num"))
      .as[(String, String, Int)].collect()
    assert(rows.length == 4)
    assert(rows.head == (("2022-01-01", "2022-01-31", 1)))
    assert(rows.last == (("2022-04-01", "2022-04-30", 4)))
  }

  test("date spine weekly starts Monday with 6-day period_end") {
    val sp = DateSpine.spine(spark, Grain.Week,
      LocalDate.parse("2022-01-03"), LocalDate.parse("2022-01-17"))
    val rows = sp.orderBy("period_start")
      .select(col("period_start").cast("string"), col("period_end").cast("string"))
      .as[(String, String)].collect()
    assert(rows.toSeq == Seq(
      ("2022-01-03", "2022-01-09"),
      ("2022-01-10", "2022-01-16"),
      ("2022-01-17", "2022-01-23")))
  }

  test("ModelRegistry resolves deps topologically and detects cycles") {
    val reg = new ModelRegistry
    reg.register(Model("b", Seq("a")) { (_, in) => in("a").withColumn("b", lit(1)) })
    reg.register(Model("c", Seq("b", "a")) { (_, in) => in("b").join(in("a"), Seq("x")) })
    reg.register(Model("a") { (s, _) => { import s.implicits._; Seq(1, 2).toDF("x") } })
    assert(reg.topoOrder.map(_.name) == Seq("a", "b", "c"))
    val built = reg.runAllParallel(spark, Map.empty)
    assert(built("c").count() == 2)

    val cyc = new ModelRegistry
    cyc.register(Model("x", Seq("y")) { (_, in) => in("y") })
    cyc.register(Model("y", Seq("x")) { (_, in) => in("x") })
    intercept[IllegalStateException](cyc.topoOrder)
  }

  test("rollup invariant: weekly totals equal daily totals") {
    val df = Seq(
      ("2022-01-03", 10.0), ("2022-01-04", 5.0), ("2022-01-10", 7.5))
      .toDF("d", "amt").select(to_date(col("d")).as("d"), col("amt"))
    def total(g: Grain): Double =
      graft.operators.Rollups.measureRollup(df, col("d"), g, Nil,
          Seq(sum(col("amt")).as("t")))
        .agg(sum(col("t"))).as[Double].head()
    assert(total(Grain.Day) == total(Grain.Week))
    assert(total(Grain.Week) == total(Grain.Year))
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
