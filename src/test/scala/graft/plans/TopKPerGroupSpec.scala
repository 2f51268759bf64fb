package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class TopKPerGroupSpec extends SparkTestBase {

  test("custom TopKPerGroupExec matches the window row_number formulation") {
    val orders = Tables.orders(spark, sf)
    val custom = TopK.perGroup(orders, Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 5)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "o_orderkey")
      .collect()
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "o_orderkey")
      .collect()
    assert(custom.sameElements(viaWindow))
  }

  test("the physical plan contains the custom exec and no window sort") {
    val df = TopK.perGroup(Tables.orders(spark, sf),
      Seq("o_orderpriority"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    // SparkPlan.nodeName strips the "Exec" suffix in plan strings
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), p)
    assert(!p.contains("Window"), p)
  }

  test("GraftExtensions plans the operator without the runtime fallback") {
    // Build the logical node directly (bypassing TopK.perGroup) — planning
    // must succeed purely through the SparkSessionExtensions-registered
    // strategy. TopK.perGroup itself must not register a second path: it
    // leaves experimental.extraStrategies empty.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, NullsFirst, NullsLast, SortOrder}
    val saved = spark.experimental.extraStrategies
    try {
      spark.experimental.extraStrategies = Nil
      val node = TopKPerGroup(
        Seq(UnresolvedAttribute.quoted("o_orderpriority")),
        Seq(SortOrder(UnresolvedAttribute.quoted("o_totalprice"),
          Descending, NullsLast, Seq.empty),
          SortOrder(UnresolvedAttribute.quoted("o_orderkey"),
            Ascending, NullsFirst, Seq.empty)),
        3, Tables.orders(spark, sf).queryExecution.logical)
      val df = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, node)
      assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(df.count() > 0)
      val viaApi = TopK.perGroup(Tables.orders(spark, sf),
        Seq("o_orderpriority"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      assert(viaApi.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      assert(spark.experimental.extraStrategies.isEmpty)
    } finally spark.experimental.extraStrategies = saved
  }

  test("probe: k larger than any group returns whole groups; k=1 returns maxima") {
    val orders = Tables.orders(spark, sf)
    val all = TopK.perGroup(orders, Seq("o_orderstatus"),
      Seq(("o_orderkey", true)), Int.MaxValue).count()
    assert(all == orders.count())
    val top1 = TopK.perGroup(orders, Seq("o_orderstatus"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 1)
    val expected = orders.groupBy("o_orderstatus")
      .agg(max(struct(col("o_totalprice"), col("o_orderkey") * -1)).as("m"))
      .count()
    assert(top1.count() == expected)
  }
}
