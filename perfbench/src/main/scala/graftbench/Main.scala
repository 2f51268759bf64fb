package graftbench

import scala.util.control.NonFatal

import graft.{FullExec, SparkEntry}
import graft.operators.SessionCache

/** Entry point of the benchmark JVM; `perfbench/run.py` builds and calls it.
  *
  *   run    --workload W --seed N --seconds S --trace 0|1 --bench DIR --work DIR
  *          --result FILE --spans FILE
  *   record --data DIR --warm DIR --out FILE --work DIR
  *          expected row counts, fingerprints and reference costs of every
  *          declared query; a second, freshly built frame is fingerprinted
  *          too, and a query whose two runs differ is not recorded. Each
  *          query is timed with graft's session caches empty, as a query
  *          drawn into a run finds them: queries that reuse an artifact
  *          of their family timed 0.05-0.3 s after a sibling had built it,
  *          and 3-10 s when they built it themselves.
  */
object Main {
  private var spansPath: Option[String] = None

  def writeSpans(spans: Seq[Span]): Unit = if (spans.nonEmpty) spansPath.foreach { p =>
    Json.write(p, spans.map { s =>
      val c = s.c
      Json.obj(Seq("op" -> s.op.toString, "label" -> Json.str(s.label),
        "kind" -> Json.str(s.kind), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_cpu_ns" -> c.taskCpuNs.toString, "task_wait_ms" -> c.taskWaitMs.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "result_bytes" -> c.resultBytes.toString,
        "input_bytes" -> c.inputBytes.toString, "output_bytes" -> c.outputBytes.toString,
        "blocks" -> c.blocks.toString, "block_bytes" -> c.blockBytes.toString,
        "compiles" -> c.compiles.toString, "compile_ns" -> c.compileNs.toString,
        "cache_builds" -> c.cacheBuilds.toString, "cache_build_s" -> Json.num(c.cacheBuildS),
        "gc_ms" -> c.gcMs.toString))
    }.mkString("", "\n", "\n"))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opt = args.drop(1).sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    mode match {
      case "run" => runWorkload(opt, need)
      case "record" => record(need("data"), need("warm"), need("out"), need("work"))
      case other => sys.error(s"unknown mode '$other'")
    }
  }

  private def runWorkload(opt: Map[String, String], need: String => String): Unit = {
    spansPath = opt.get("spans")
    val bench = need("bench")
    val work = need("work")
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val warm = s"$bench/data/sf0.001"
    val r = need("workload") match {
      case "mix_sf0.1" =>
        new QueryWorkload(s"$bench/data/sf0.1", warm, Expected.load(s"$bench/expected/sf0.1.tsv"), work)
          .run(need("seed").toLong, seconds, traced)
      case "ingest_taxi" => new IngestWorkload(need("taxi"), work).run(seconds, traced)
      case w => sys.error(s"unknown workload '$w'")
    }
    r.notes.foreach { case (k, v) => println(s"[perfbench] $k: $v") }
    r.metrics.foreach { case (k, v, u) => println(f"[perfbench] $k = $v%.6g $u") }
    Json.write(need("result"), Json.obj(Seq(
      "correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> math.min(r.failed, r.attempted).toString,
      "metrics" -> Json.obj(r.metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "notes" -> Json.obj(r.notes.map { case (k, v) => k -> Json.str(v) }))))
  }

  private def record(data: String, warm: String, out: String, work: String): Unit = {
    val spark = Session.create(work)
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq.sorted
    names.foreach(q => try FullExec.count(queries(q)(spark, warm)) catch { case NonFatal(_) => () })
    val lines = names.flatMap { q =>
      try {
        SessionCache.clearAll()
        val t0 = System.nanoTime()
        val df = queries(q)(spark, data)
        df.queryExecution.executedPlan
        val n = FullExec.count(df)
        val sec = (System.nanoTime() - t0) / 1e9
        val fp = Fingerprint(df)
        val stable = Fingerprint(queries(q)(spark, data)) == fp
        System.err.println(f"[record] $q%-28s $sec%8.3f s $n%9d rows ${if (stable) "" else "UNSTABLE"}")
        if (stable) Some(Expected.line(q, Expected(n, fp, sec))) else None
      } catch { case NonFatal(e) =>
        System.err.println(s"[record] $q FAILED ${e.toString.take(200)}"); None
      }
    }
    Json.write(out, lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
