package graft
/** Flagship smoke: drives SparkEntry.entry through a GraftSession and the
  * SQL surface end-to-end. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(appName = "graft-smoke",
      master = "local[4]", shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(10, false)
    GraftSession.openTables(spark, "/root/testdata/sf0.001")
    println("SQL ROWS=" + spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect().head.getLong(0))
    spark.stop()
  }
}
