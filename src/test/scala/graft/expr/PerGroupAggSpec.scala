package graft.expr

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftBridge.{toColumn, toExpr}
import org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PerGroupAggSpec extends SparkSpec {

  import spark.implicits._

  private def rowStats(cs: Column*): RowStatsAgg = RowStatsAgg(cs.map(toExpr))

  /** (rows, mins, maxs) of one RowStatsAgg result. */
  private def parts(r: Row): (Long, Seq[String], Seq[String]) =
    (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2))

  private val data: DataFrame = (0 until 400).map { i =>
    (i % 5L, if (i % 7 == 0) None else Some(i * 3 - 500),
      if (i == 13) Double.NaN else i / 8.0, BigDecimal(i) / 100)
  }.toDF("g", "n", "d", "m").repartition(6)

  test("row stats agree with count, min and max cast to string") {
    val expect = data.agg(count(lit(1)),
      min($"n").cast("string"), min($"d").cast("string"), min($"m").cast("string"),
      max($"n").cast("string"), max($"d").cast("string"), max($"m").cast("string")).head()
    val got = parts(data.agg(toColumn(rowStats($"n", $"d", $"m").toAggregateExpression()))
      .head().getStruct(0))
    assert(got == ((expect.getLong(0), (1 to 3).map(expect.getString), (4 to 6).map(expect.getString))))
    // NaN orders largest, as in Spark's max
    assert(got._3(1) == "NaN")
    val none = parts(data.filter($"g" < 0)
      .agg(toColumn(rowStats($"n").toAggregateExpression())).head().getStruct(0))
    assert(none == ((0L, Seq(null), Seq(null))))
  }

  test("per-group aggregates equal a GROUP BY of the same aggregate") {
    val perGroup = data.agg(
      PerGroupAgg.perGroup($"g", rowStats($"n", $"m")).as("rs"),
      PerGroupAgg.perGroup($"g", new HllSketchAgg(toExpr($"n"), 12)).as("nv"))
      .head()
    val rs = perGroup.getMap[Long, Row](0)
    val nv = perGroup.getMap[Long, Array[Byte]](1)
    val grouped = data.groupBy($"g").agg(
      toColumn(rowStats($"n", $"m").toAggregateExpression()).as("rs"),
      hll_sketch_estimate(hll_sketch_agg($"n", 12)).as("nv")).collect()
    assert(rs.keySet == grouped.map(_.getLong(0)).toSet && rs.size == 5)
    grouped.foreach { r =>
      val g = r.getLong(0)
      assert(parts(rs(g)) == parts(r.getStruct(1)), s"group $g")
      val est = Seq(nv(g)).toDF("s").select(hll_sketch_estimate($"s")).as[Long].head()
      assert(est == r.getLong(2), s"group $g")
    }
  }

  test("an observation keeps a buffer only for groups that had a row") {
    val obs = org.apache.spark.sql.Observation()
    data.filter($"g" === 2L).observe(obs,
      PerGroupAgg.perGroup($"g", rowStats($"n")).as("rs"))
      .write.format("noop").mode("overwrite").save()
    val rs = obs.get("rs").asInstanceOf[scala.collection.Map[Long, Row]]
    assert(rs.keySet == Set(2L) && rs(2L).getLong(0) == 80L)
  }
}
