package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{FullExec, SparkEntry, Tables}

/** Declared queries, one client in a closed loop: each query is built
  * (`SparkEntry.queries`), planned (`executedPlan`) and executed
  * (`FullExec.count`), and the next starts when it returns.
  *
  * A run cannot afford all declared queries, so the seed draws a stratified
  * sample of the whole declared set, slow queries included: the queries,
  * ranked by reference cost (timed with the session caches empty, as a
  * drawn query finds them), are cut into [[Strata]] runs of about equal
  * total square-root cost, and one query is drawn from each. Each drawn
  * query stands for its stratum's queries (its weight in the gated
  * figures), so the figures estimate the whole set's. Strata of equal size
  * would give the queries of 3.1-10 s a single draw among ~27 and make the
  * throughput depend mostly on that draw; square-root cost gives the dear
  * end more, smaller strata. The seed also shuffles the sample's order, and
  * the loop runs whole passes over it until the time is spent.
  *
  * Set-up starts the session, loads the table footers and runs the sampled
  * queries once at sf0.001, in the same order, as Bench's warm pass does.
  * It is done once, in the run's fresh JVM: a second set-up in the same
  * JVM would find every plan in the codegen cache and measure a cheaper
  * set-up than the one a user pays. */
final class QueryWorkload(dataDir: String, warmDir: String,
    expected: Map[String, Expected], work: String) {
  val Strata = 14
  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The seed's sample of `names` in timed order: (query, weight). */
  def sample(names: Seq[String], seed: Long): Seq[(String, Double)] = {
    val mid = Stats.median(expected.values.map(_.seconds).toSeq)
    val byCost = names.map(n => n -> expected.get(n).map(_.seconds).getOrElse(mid))
      .sortBy { case (n, c) => (c, n) }
    val total = byCost.map(x => math.sqrt(x._2)).sum
    val strata = Array.fill(Strata)(scala.collection.mutable.ArrayBuffer[String]())
    byCost.foldLeft(0.0) { case (acc, (n, c)) =>
      strata(math.min(Strata - 1, (acc / total * Strata).toInt)) += n
      acc + math.sqrt(c)
    }
    val rnd = new java.util.Random(seed)
    val drawn = new java.util.ArrayList[(String, Double)]()
    strata.filter(_.nonEmpty).foreach(s => drawn.add((s(rnd.nextInt(s.size)), s.size.toDouble)))
    java.util.Collections.shuffle(drawn, rnd)
    (0 until drawn.size).map(drawn.get)
  }

  def run(seed: Long, seconds: Double, traced: Boolean): RunResult = {
    val queries = SparkEntry.queries
    val drawn = sample(queries.keys.toSeq, seed)
    val ord = drawn.map(_._1)
    var warmFailures = 0
    val t0 = System.nanoTime()
    val spark = Session.create(work)
    Tables10.foreach(t => Tables(spark, dataDir, t).count())
    ord.foreach { q =>
      try FullExec.count(queries(q)(spark, warmDir))
      catch { case NonFatal(_) => warmFailures += 1 }
    }
    val setup = (System.nanoTime() - t0) / 1e9

    val tracer = if (traced) new SparkTracer(spark, Seq(dataDir, warmDir)) else NoTrace
    var gcMs = 0L
    var elapsed = 0.0
    val it = Iterator.continually(drawn).flatten.zipWithIndex
    // each operation's (query, weight, seconds, frame, rows), checked after
    // the timed phase
    val done = scala.collection.mutable.ArrayBuffer[(String, Double, Double, DataFrame, Long)]()
    while (elapsed < seconds || done.size % drawn.size != 0) {
      val ((q, weight), i) = it.next()
      var df: DataFrame = null
      var rows = -1L
      val g0 = Tracer.gcMillis
      val t0 = System.nanoTime()
      try {
        df = tracer.span(i, q, "construct")(queries(q)(spark, dataDir))
        tracer.span(i, q, "plan")(df.queryExecution.executedPlan)
        rows = tracer.span(i, q, "exec")(FullExec.count(df))
      } catch { case NonFatal(e) => println(s"[perfbench] $q failed: ${e.toString.take(200)}") }
      val dt = (System.nanoTime() - t0) / 1e9
      gcMs += Tracer.gcMillis - g0
      elapsed += dt
      done += ((q, weight, dt, df, rows))
    }
    // untimed output check; an operation counts as completed only if its
    // output is right
    val ops = done.toSeq.map { case (q, weight, dt, df, rows) =>
      val ok = rows >= 0 && expected.get(q).exists { e =>
        e.count == rows && (try Fingerprint(df) == e.fingerprint catch { case NonFatal(_) => false })
      }
      if (!ok) println(s"[perfbench] check failed: $q rows=$rows expected=${expected.get(q)}")
      Op(dt, ok, weight)
    }
    done.clear()
    val n = ops.size
    val failed = ops.count(!_.ok)
    val (metrics, heapNotes) =
      if (traced) (Layers.metrics(tracer.spans, Layers.Ops(n, n, 0, 0), gcMs / 1e3, Nil, ops), Nil)
      else Stats.endToEnd(setup, ops)
    val notes = heapNotes ++ Seq(
      "queries" -> drawn.map { case (q, w) => f"$q($w%.0f)" }.mkString(","),
      "passes" -> (n / drawn.size).toString,
      "warm_failures" -> warmFailures.toString) ++ Stats.opNotes(ops) ++
      Session.describe(spark) ++
      tracer.cacheBuilds.toSeq.sortBy(-_._2._2).map { case (k, (c, s)) =>
        s"SessionCache[$k]" -> f"$c builds, $s%.3f s" }
    tracer.close()
    val result = RunResult(n, failed, failed == 0, metrics, notes)
    Main.writeSpans(tracer.spans)
    spark.stop()
    result
  }
}
