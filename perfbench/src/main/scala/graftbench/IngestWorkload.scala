package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.pipeline.TaxiPipeline
import graft.sources.{CsvSource, ParquetSink}
import graft.streaming.StreamingIngest

/** The reference's taxi flow over generated gzip CSVs, one client in a
  * closed loop. Each round ingests every file in batch (CSV scan with
  * schema inference, zero-passenger filter, timestamp cast, gzip Parquet
  * write), one operation per file, then ingests the same files once more
  * as a stream (`StreamingIngest.start` until `processAllAvailable`
  * returns), one operation. Rounds repeat until the time is spent and at
  * least [[MinRounds]] are done.
  *
  * `taxiDir` holds `files/` (the inputs), `warm/` (one file of the same
  * size, for set-up) and `manifest.tsv` (file, rows, planted zeros, planted
  * NULLs). */
final class IngestWorkload(taxiDir: String, work: String) {
  val WarmIngests = 3
  /** With the time limit alone, a run whose rounds were slow stopped after
    * two, and a faster one made a third, faster round, which widened the
    * spread between runs. */
  val MinRounds = 3
  private final case class Input(file: String, rows: Long, zeros: Long)

  private val inputs = Files.readAllLines(Paths.get(s"$taxiDir/manifest.tsv"),
      StandardCharsets.UTF_8).toArray.map(_.toString).filter(_.nonEmpty).map { l =>
    val f = l.split("\t")
    Input(f(0), f(1).toLong, f(2).toLong)
  }.toSeq

  private def batchIngest(spark: SparkSession, tracer: Tracer, op: Int,
      path: String, out: String): StructType = {
    val raw = tracer.span(op, path, "read")(CsvSource(path).read(spark))
    val cleaned = TaxiPipeline.castTimestampsIfPresent(TaxiPipeline.dropZeroPassengers(raw))
    tracer.span(op, path, "write")(ParquetSink(out).write(cleaned))
    raw.schema
  }

  private def streamIngest(spark: SparkSession, tracer: Tracer, op: Int,
      inputDir: String, schema: StructType, out: String): Array[StreamingQueryProgress] =
    tracer.span(op, inputDir, "stream") {
      val q = StreamingIngest.start(spark, inputDir, schema, out, s"$out-checkpoint")
      try { q.processAllAvailable(); q.recentProgress } finally q.stop()
    }

  /** Checks one round's outputs; returns the problems found. */
  private def check(spark: SparkSession, batchOut: Seq[String], streamOut: String): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    val batch = spark.read.parquet(batchOut: _*)
    val stream = spark.read.parquet(streamOut)
    val want = inputs.map(i => i.rows - i.zeros).sum
    val got = batch.count()
    if (got != want) problems += s"batch rows $got, expected $want"
    val zeros = batch.filter(col("passenger_count") === 0).count()
    if (zeros != 0) problems += s"$zeros zero-passenger rows remain"
    Seq("tpep_pickup_datetime", "tpep_dropoff_datetime").foreach { c =>
      if (batch.schema(c).dataType != TimestampType) problems += s"$c is ${batch.schema(c).dataType}"
    }
    val cols = batch.columns.map(col).toIndexedSeq
    if (Fingerprint(stream.select(cols: _*)) != Fingerprint(batch))
      problems += "streaming output differs from batch output"
    problems.toSeq
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally paths.close()
    }
  }

  def run(seconds: Double, traced: Boolean): RunResult = {
    val out = s"$work/ingest-out"
    deleteTree(out)
    // set-up, once in the run's fresh JVM (as for queries): the session,
    // then the warm file through batch ingest WarmIngests times and through
    // streaming ingest once; with a single warm ingest the first timed round
    // still ran about 20 % slower than the second (JIT warm-up)
    val t0 = System.nanoTime()
    val spark = Session.create(work)
    val schema = (1 to WarmIngests).map(i => batchIngest(spark, NoTrace, -1,
      s"$taxiDir/warm/warm.csv.gz", s"$out/warm/batch-$i")).last
    streamIngest(spark, NoTrace, -1, s"$taxiDir/warm", schema, s"$out/warm/stream")
    val setup = (System.nanoTime() - t0) / 1e9
    deleteTree(out)

    val tracer = if (traced) new SparkTracer(spark, Seq(taxiDir, work)) else NoTrace
    val ops = mutable.ArrayBuffer[Op]()
    val batchTimes = mutable.ArrayBuffer[Double]()
    val streamTimes = mutable.ArrayBuffer[Double]()
    val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
    var rounds, files, streams = 0
    var gcMs = 0L
    var elapsed = 0.0
    def timed(body: => Unit): Double = {
      val g0 = Tracer.gcMillis
      val t0 = System.nanoTime()
      val ok = try { body; true } catch {
        case NonFatal(e) => println(s"[perfbench] ingest failed: ${e.toString.take(200)}"); false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      gcMs += Tracer.gcMillis - g0
      elapsed += dt
      ops += Op(dt, ok)
      dt
    }
    while (elapsed < seconds || rounds < MinRounds) {
      val dir = s"$out/round-$rounds"
      val first = ops.size
      val batchOut = inputs.map { in =>
        val target = s"$dir/batch/${in.file}"
        batchTimes += timed(batchIngest(spark, tracer, ops.size, s"$taxiDir/files/${in.file}", target))
        files += 1
        target
      }
      streamTimes += timed(progress ++= streamIngest(spark, tracer, ops.size,
        s"$taxiDir/files", schema, s"$dir/stream"))
      streams += 1
      // untimed output check of the round; a wrong output fails every
      // operation of the round
      val problems = try check(spark, batchOut, s"$dir/stream") catch {
        case NonFatal(e) => Seq(e.toString.take(200))
      }
      if (problems.nonEmpty) {
        (first until ops.size).foreach(i => ops(i) = ops(i).copy(ok = false))
        problems.foreach(p => println(s"[perfbench] check failed, round $rounds: $p"))
      }
      deleteTree(dir)
      rounds += 1
    }
    val failed = ops.count(!_.ok)
    val (metrics, heapNotes) =
      if (traced) (Layers.metrics(tracer.spans, Layers.Ops(ops.size, 0, files, streams),
        gcMs / 1e3, progress.toSeq, ops.toSeq), Nil)
      else Stats.endToEnd(setup, ops.toSeq)
    val rowsPerRound = inputs.map(_.rows).sum.toDouble
    val notes = heapNotes ++ Seq(
      "ingest_rows_per_s" -> f"${rounds * rowsPerRound / batchTimes.sum}%.1f rows/s",
      "stream_rows_per_s" -> f"${rounds * rowsPerRound / streamTimes.sum}%.1f rows/s",
      "rounds" -> s"$rounds ($files file ingests, $streams stream ingests)") ++
      Stats.opNotes(ops.toSeq) ++ Session.describe(spark)
    tracer.close()
    Main.writeSpans(tracer.spans)
    spark.stop()
    deleteTree(out)
    RunResult(ops.size, failed, failed == 0, metrics, notes)
  }
}
