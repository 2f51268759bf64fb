package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.SessionCache

/** The shipped session factory. Only the scratch locations are added, so
  * spill files and the warehouse stay in the benchmark's work directory.
  *
  * Task threads: one fewer than the processors, at most 4. The driver
  * thread (analysis, planning, codegen compiles) and the JVM's compiler and
  * GC threads need a processor too. In trial runs on a 4-vCPU VM, local[3]
  * ran the query mix faster than local[4] (median 1.11 against 0.95
  * queries/s over four and five seeds) with a third of the run-to-run
  * spread of set-up time. */
object Session {
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

  def create(work: String): SparkSession = {
    val spark = GraftSession.builder("graft-perfbench",
        master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The settings a run used, for the report. */
  def describe(spark: SparkSession): Seq[(String, String)] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone").map(k => k -> spark.conf.get(k, "")) :+
      ("clients" -> "1 (closed loop)")
}

object Fingerprint {
  /** Order-insensitive content fingerprint, as ScaleGate computes it: the
    * decimal sum and count of per-row xxhash64 values. Columns are renamed
    * by position first so duplicate output names cannot make the struct
    * ambiguous; the hash covers values only, so names do not matter. */
  def apply(df: DataFrame): String = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = byPos
      .select(xxhash64(struct(byPos.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .head()
    s"${String.valueOf(r.getDecimal(0))}:${r.getLong(1)}"
  }
}

/** Expected outputs and reference costs, one tab-separated line per query:
  * name, row count, fingerprint, reference seconds. */
final case class Expected(count: Long, fingerprint: String, seconds: Double)

object Expected {
  def load(path: String): Map[String, Expected] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).toArray
      .map(_.toString).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> Expected(f(1).toLong, f(2), f(3).toDouble)
      }.toMap

  def line(name: String, e: Expected): String =
    s"$name\t${e.count}\t${e.fingerprint}\t${"%.4f".format(e.seconds)}"
}

object Stats {
  /** Geometric mean of the completed operations' times, each weighted by
    * the operations it stands for. A relative change counts the same for a
    * cheap and a dear operation, as in TPC-H's power metric, and all
    * samples count, so one operation's jitter moves it far less than it
    * moves the median of a few dozen. */
  def geomean(ops: Seq[Op]): Double = {
    val done = ops.filter(_.ok)
    math.exp(done.map(o => o.weight * math.log(o.seconds)).sum / done.map(_.weight).sum)
  }

  /** Completed operations per second of the timed phase's wall time, which
    * failed operations spend too (one client, closed loop, so the wall time
    * is the sum of the operation times). */
  def throughput(ops: Seq[Op]): Double =
    ops.filter(_.ok).map(_.weight).sum / ops.map(o => o.weight * o.seconds).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: with n
    * sorted samples, the value of rank n-10. Returns (value, percentile);
    * with ten samples or fewer there is no such percentile and the maximum
    * is returned as p100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Driver heap in use after a full collection, in MB. Spark's
    * ContextCleaner frees broadcast and shuffle blocks only after a
    * collection has found their owners unreachable, asynchronously, so
    * collect until the figure settles. */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var i = 0
    while (math.abs(cur - prev) > 1.0 && i < 8) { prev = cur; cur = used(); i += 1 }
    cur
  }

  /** The gated end-to-end metrics of an untraced run, and a note.
    *
    * graft's session caches (`SessionCache`) hold the materialized
    * artifacts of the query families a run happened to draw: 3 to 160 MB
    * over the seeds of the query mix, against 82-91 MB for the rest of the
    * heap. So they are cleared first, as long multi-dataset harnesses do
    * between datasets, and `retained_heap_mb` is what the session keeps
    * beyond them (codegen cache, status store, leaks). What the caches
    * held is printed as `session_cache_heap_mb`; their blocks are measured
    * per layer as `Materialize.block_bytes`. */
  def endToEnd(setup: Double, ops: Seq[Op])
      : (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val all = retainedHeapMb()
    SessionCache.clearAll()
    val heap = retainedHeapMb()
    (Seq(
      ("setup_s", setup, "s"),
      ("op_geomean_s", geomean(ops), "s"),
      ("ops_per_s", throughput(ops), "1/s"),
      ("retained_heap_mb", heap, "MB")),
      Seq("session_cache_heap_mb" -> f"${all - heap}%.1f"))
  }

  /** Operation-time diagnostics printed with every run; p50 and tail are
    * of completed operations, and a failed operation's time is marked `!`. */
  def opNotes(ops: Seq[Op]): Seq[(String, String)] = {
    val done = ops.filter(_.ok).map(_.seconds)
    val (t, p) = if (done.isEmpty) (Double.NaN, Double.NaN) else tail(done)
    Seq("op_p50_s" -> f"${median(done)}%.4f",
      "op_tail_s" -> f"$t%.4f (p$p%.1f of n=${done.size})",
      "op_times_s" -> ops.map(o => f"${o.seconds}%.3f${if (o.ok) "" else "!"}").mkString(","))
  }
}

/** One timed operation: its wall time, whether it completed with a correct
  * output, and how many operations of the workload it stands for (a query
  * drawn from a stratum stands for the stratum's queries). */
final case class Op(seconds: Double, ok: Boolean, weight: Double = 1.0)

/** A run's outcome. `metrics` holds (name, value, unit); `notes` are
  * diagnostics printed before the result and kept in the run record. */
final case class RunResult(attempted: Long, failed: Long, correct: Boolean,
    metrics: Seq[(String, Double, String)], notes: Seq[(String, String)])

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}
