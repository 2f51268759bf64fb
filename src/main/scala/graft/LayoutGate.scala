package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measure the LAYOUT tools' effect at 10× data (results in
  * SCALE.md "layout gate"). The specs prove correctness (Compactor
  * row-identity + file-count target in TaxiPipelineSpec; tight disjoint
  * per-file key ranges in ScaleSpec); this gate prices the claims:
  *
  *   1. Compactor — a 10× orders table fragmented into 512 small files
  *      vs the compacted layout, timing a full aggregation scan (the
  *      cost driver is per-file task + footer overhead).
  *   2. ClusteredParquetSink — the same table written as 64 RANDOM
  *      files vs 64 zkey-clustered files, timing a selective ~1/64
  *      key-range scan (the payoff is parquet min/max row-group pruning,
  *      checked alongside by the count of files containing matches).
  *
  * Uses the ScaleGate sf1 synthesis when present (10× sf0.1), else
  * synthesizes the orders copies directly.
  *
  *   sbt "runMain graft.LayoutGate"
  */
object LayoutGate {
  private def timeIt(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime(); val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }
  private def warmMin(f: => Long): (Double, Long) = {
    val a = timeIt(f); val b = timeIt(f); val c = timeIt(f)
    (Seq(a._1, b._1, c._1).min, a._2)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-layout-gate", "local[32]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = "/tmp/graft_layout"

    // Nx orders (default 100x sf0.1 ≈ 15M rows): key-shifted copies, the
    // ScaleGate/ScaleSpot synthesis scheme
    val copies = sys.env.getOrElse("SPARK_GRAFT_LAYOUT_COPIES", "100").toInt
    val orders: DataFrame =
      (0 until copies).map(i => Tables.orders(spark, "/root/testdata/sf0.1")
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ union _)
    println(s"[layout] corpus = ${copies}x sf0.1 orders")

    // ---- 1. Compactor: fragmented vs compacted full-scan aggregate ----
    // the pathology compaction fixes is PER-FILE overhead (task setup,
    // footer read, listing) dominating — so fragment into 4096 tiny
    // files; also measure a parallelism-preserving target (32 files =
    // one per core) next to the default 128 MB target, which at this
    // corpus collapses to ~2 files and UNDER-parallelizes local[32]
    val frag = s"$base/frag"
    val compacted = s"$base/compacted"
    val compacted32 = s"$base/compacted32"
    orders.repartition(4096).write.mode("overwrite").parquet(frag)
    val (nIn, nOut) = graft.sources.Compactor.compact(spark, frag, compacted)
    // Hadoop FS, not java.io.File (round-12 advisor fix — the same
    // local-FS assumption CorpusStreamOps shed): listFiles() sees only
    // top-level local files, so nested or non-local parquet output would
    // yield fragBytes = 0 and a degenerate targetBytes = 1
    val fragPath = new org.apache.hadoop.fs.Path(frag)
    val fragBytes = fragPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new org.apache.hadoop.fs.Path(s"$frag/*.parquet"))
      .map(_.getLen).sum
    val (nIn32, nOut32) = graft.sources.Compactor.compact(spark, frag,
      compacted32, targetBytes = math.max(1L, fragBytes / 32))
    def scanAgg(path: String): Long =
      spark.read.parquet(path)
        .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")))
        .collect().length.toLong
    val (tFrag, _) = warmMin(scanAgg(frag))
    val (tComp, _) = warmMin(scanAgg(compacted))
    val (tComp32, _) = warmMin(scanAgg(compacted32))
    println(f"[layout] compactor files $nIn -> $nOut (128MB target) / " +
      f"$nOut32 (per-core target); full-scan agg fragmented=${tFrag}%.2fs " +
      f"compacted=${tComp}%.2fs (${tFrag / tComp}%.1fx) " +
      f"compacted32=${tComp32}%.2fs (${tFrag / tComp32}%.1fx)")

    // ---- 2. ClusteredParquetSink: random vs clustered selective scan ----
    // cluster key: the ScaleSpec morton key over (price, date) buckets
    val zkeyExpr = (0 until 8).map(i =>
      shiftright(col("bx"), i).bitwiseAND(lit(1)) * lit(1 << (2 * i))
        + shiftright(col("by"), i).bitwiseAND(lit(1)) * lit(1 << (2 * i + 1)))
      .reduce(_ + _)
    val keyed = orders.select(
        least(floor(col("o_totalprice") / 2000), lit(255)).cast("int").as("bx"),
        pmod(datediff(col("o_orderdate"), lit("1992-01-01").cast("date")),
          lit(256)).cast("int").as("by"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("zkey", zkeyExpr)
    val rand = s"$base/rand"
    val clust = s"$base/clustered"
    // 64 files both sides; the random side shuffles on orderkey so zkey
    // values scatter uniformly across every file
    keyed.repartition(64, col("o_orderkey"))
      .write.mode("overwrite").parquet(rand)
    graft.sources.ClusteredParquetSink(clust, "zkey", numFiles = 64)
      .write(keyed)
    // a ~1/64 slice of key space
    val (lo, hi) = (1024, 2047)
    def sliceScan(path: String): Long =
      spark.read.parquet(path)
        .filter(col("zkey").between(lo, hi))
        .agg(count(lit(1)), sum(col("o_totalprice")))
        .collect().head.getLong(0)
    val (tRand, nMatch) = warmMin(sliceScan(rand))
    val (tClust, nMatch2) = warmMin(sliceScan(clust))
    require(nMatch == nMatch2, s"slice mismatch: $nMatch vs $nMatch2")
    def filesWithMatches(path: String): Long =
      spark.read.parquet(path).filter(col("zkey").between(lo, hi))
        .select(input_file_name()).distinct().count()
    println(f"[layout] clustered slice scan ($nMatch rows): " +
      f"random=${tRand}%.3fs (files w/ matches ${filesWithMatches(rand)}) " +
      f"clustered=${tClust}%.3fs (files w/ matches ${filesWithMatches(clust)}) " +
      f"speedup=${tRand / tClust}%.1fx")
    spark.stop()
  }
}
