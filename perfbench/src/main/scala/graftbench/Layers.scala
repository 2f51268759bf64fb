package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Each is a mean per operation of the
  * kind that exercises the layer (per query for construct/plan/exec, per
  * CSV file for sources, per streaming ingest for streaming batches), so
  * runs that complete different numbers of operations compare directly.
  * A layer a workload never calls reads 0. */
object Layers {
  final case class Ops(all: Int, queries: Int, files: Int, streams: Int)

  def metrics(spans: Seq[Span], ops: Ops, gcS: Double,
      progress: Seq[StreamingQueryProgress], timed: Seq[Op])
      : Seq[(String, Double, String)] = {
    def per(n: Int)(x: Double): Double = if (n == 0) 0.0 else x / n
    def of(kinds: String*): Seq[Span] = spans.filter(s => kinds.contains(s.kind))
    def sum(ss: Seq[Span])(f: Counters => Double): Double = ss.map(s => f(s.c)).sum
    def secs(ss: Seq[Span]): Double = ss.map(_.seconds).sum
    val construct = of("construct")
    val exec = of("exec")
    val io = of("read", "write")
    val batches = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000).getOrElse(0.0)
    def meanDur(ks: String*): Double =
      if (batches.isEmpty) 0.0 else batches.map(p => ks.map(dur(p, _)).sum).sum / batches.size
    val q = per(ops.queries) _
    val all = per(ops.all) _
    val f = per(ops.files) _
    Seq(
      ("construct.s", q(secs(construct)), "s"),
      ("construct.jobs", q(sum(construct)(_.jobs)), "count"),
      ("construct.result_bytes", q(sum(construct)(_.resultBytes)), "B"),
      ("SessionCache.builds", all(sum(spans)(_.cacheBuilds)), "count"),
      ("SessionCache.build_s", all(sum(spans)(_.cacheBuildS)), "s"),
      ("Materialize.blocks", all(sum(spans)(_.blocks)), "count"),
      ("Materialize.block_bytes", all(sum(spans)(_.blockBytes)), "B"),
      ("plan.s", q(secs(of("plan"))), "s"),
      ("codegen.compiles", all(sum(spans)(_.compiles)), "count"),
      ("codegen.compile_s", all(sum(spans)(_.compileNs) / 1e9), "s"),
      ("exec.s", q(secs(exec)), "s"),
      ("exec.jobs", q(sum(exec)(_.jobs)), "count"),
      ("exec.stages", q(sum(exec)(_.stages)), "count"),
      ("exec.tasks", q(sum(exec)(_.tasks)), "count"),
      ("exec.task_cpu_s", q(sum(exec)(_.taskCpuNs) / 1e9), "s"),
      ("exec.task_wait_s", q(sum(exec)(_.taskWaitMs) / 1e3), "s"),
      ("exec.shuffle_write_bytes", q(sum(exec)(_.shuffleWriteBytes)), "B"),
      ("exec.shuffle_read_bytes", q(sum(exec)(_.shuffleReadBytes)), "B"),
      ("exec.spill_bytes", q(sum(exec)(_.spillBytes)), "B"),
      ("exec.task_gc_s", q(sum(exec)(_.taskGcMs) / 1e3), "s"),
      ("sources.read_s", f(secs(of("read"))), "s"),
      ("sources.write_s", f(secs(of("write"))), "s"),
      ("sources.input_bytes", f(sum(io)(_.inputBytes)), "B"),
      ("sources.output_bytes", f(sum(io)(_.outputBytes)), "B"),
      ("sources.task_cpu_s", f(sum(io)(_.taskCpuNs) / 1e9), "s"),
      ("streaming.batches", per(ops.streams)(batches.size), "count"),
      ("streaming.batch_p50_s",
        if (batches.isEmpty) 0.0 else Stats.median(batches.map(dur(_, "triggerExecution"))), "s"),
      ("streaming.add_batch_s", meanDur("addBatch"), "s"),
      ("streaming.commit_s", meanDur("walCommit", "commitOffsets"), "s"),
      ("streaming.planning_s", meanDur("queryPlanning"), "s"),
      ("jvm.gc_s", all(gcS), "s"),
      ("trace.op_geomean_s", Stats.geomean(timed), "s"),
      ("trace.ops_per_s", Stats.throughput(timed), "1/s"),
    )
  }
}
