package graftbench

import graft.core.Window
import graft.pipeline.{BatchSink, GraftPipeline, PipelineRunner, StartupDecision, WindowedSource}
import graft.sinks.ExactlyOnceParquetWriter
import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `epoch_ingest`: tamer's core loop. `PipelineRunner.run` over
  * `WindowedSource.tumbling` on the generated, time-ordered parquet events
  * relation, into `ExactlyOnceParquetWriter`. Every round crashes once
  * mid-run (after planting a batch directory with no commit marker),
  * resumes from the commit log, and is then checked against the
  * generator's truth. `input` is the generated events directory (the
  * measured one, or the warm-up one). */
final class EpochIngest(ctx: Ctx, input: Path) extends Workload {
  import EpochIngest._
  def this(ctx: Ctx) = this(ctx, ctx.opts.input)
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val truth = ctx.truthAt(input)
  private val events = input.resolve("events.parquet").toString
  private val from = Instant.ofEpochMilli(truth.get("from_ms").asLong)
  private val lastTs = Instant.ofEpochMilli(truth.get("last_ms").asLong)
  private val step = Duration.ofMillis(truth.get("step_ms").asLong)
  private val crashEpoch = truth.get("crash_epoch").asLong
  // windows never reach "now": the clamp in the fold stays out of play
  private val now = lastTs.plus(Duration.ofDays(1))

  private final class PlannedCrash extends RuntimeException("planned crash")

  private final case class Epoch(startNs: Long, iterNs: Long, nonEmpty: Boolean, var writeNs: Long = 0L)

  private def pipeline(recs: mutable.ArrayBuffer[Epoch]): GraftPipeline[Window] = {
    val base = WindowedSource.tumbling(
      "bench-events", s => s.read.parquet(events), "ts", from, step, now = () => now,
      relationRepr = "bench-events")
    base.copy(iteration = (s: org.apache.spark.sql.SparkSession, w: Window) => {
      val t0 = System.nanoTime()
      val it = tracer.call("pipeline", "iteration")(base.iteration(s, w))
      recs += Epoch(t0, System.nanoTime() - t0, it.batch.isDefined)
      it
    })(base.codec, base.hashable)
  }

  private val stop = (w: Window) => !w.from.isBefore(lastTs)

  val nominalRoundS = 9.0

  /** One whole, verified round (crash and resume included) on the warm-up
    * events, generated from another seed. */
  def warmup(staged: Boolean): Unit = {
    val in = ctx.opts.warmupInput.getOrElse(throw new IllegalArgumentException("--warmup-input is required"))
    new EpochIngest(ctx, in).round(-1, staged)
  }

  def round(i: Int, staged: Boolean): RoundStats = {
    val st = new RoundStats
    val dir = ctx.roundDir("epoch-round")
    val sinkPath = dir.resolve("sink").toString
    val runner = new PipelineRunner(spark, dir.resolve("ckpt").toString)
    val writer = new ExactlyOnceParquetWriter(sinkPath)
    val recs = mutable.ArrayBuffer.empty[Epoch]
    val p = pipeline(recs)
    var crashed = false
    val sink = new BatchSink {
      def write(df: DataFrame, epoch: Long): Unit = {
        if (!crashed && epoch == crashEpoch) {
          // the process "dies" mid-write: part of the batch is on disk, no
          // commit marker, no committed state
          crashed = true
          tracer.call("harness", "plant")(
            df.limit(PlantedRows).write.mode("overwrite").parquet(s"$sinkPath/batch=$epoch"))
          throw new PlannedCrash
        }
        val t0 = System.nanoTime()
        tracer.call("sinks", "write")(writer.write(df, epoch))
        recs.last.writeNs = System.nanoTime() - t0
      }
    }

    // first run: dies at the planted epoch
    val first = try {
      tracer.call("pipeline", "run")(runner.run(p, sink, stopWhen = stop))
      None
    } catch { case _: PlannedCrash => Some(System.nanoTime()) }
    ctx.check("the planned crash happened", first.isDefined)
    val crashedAttempt = recs.length - 1
    val t0 = System.nanoTime()
    val decision = tracer.call("pipeline", "decide")(runner.decide(p))
    st.sample("decide_ms", (System.nanoTime() - t0) / 1e6)
    ctx.check("resume decision replays the crashed epoch", decision match {
      case StartupDecision.Resume(_, next) => next == crashEpoch
      case _                               => false
    }, decision.toString)

    // second run: resumes, replays the crashed epoch, drains the relation
    val result = tracer.call("pipeline", "run")(runner.run(p, sink, stopWhen = stop))
    val endNs = System.nanoTime()

    // epoch wall time: iteration start until the next iteration starts
    // (the runner commits in between) or the run returns
    val committed = recs.indices.filter(_ != crashedAttempt)
    committed.foreach { r =>
      val e = recs(r)
      val end = if (r + 1 < recs.length) recs(r + 1).startNs else endNs
      val wallMs = (end - e.startNs) / 1e6
      st.batchMs += wallMs
      st.sample("iteration_ms", e.iterNs / 1e6)
      st.sample("commit_ms", wallMs - e.iterNs / 1e6 - e.writeNs / 1e6)
      if (e.nonEmpty) st.sample("write_ms", e.writeNs / 1e6) else st.sample("empty_epoch_ms", wallMs)
    }
    st.count("epochs", committed.length.toDouble)
    st.count("empty_epochs", committed.count(r => !recs(r).nonEmpty).toDouble)
    ctx.attempted += committed.length + 1

    val agg = tracer.call("harness", "verify")(spark.read.parquet(sinkPath)
      .agg(count(lit(1)), sum("amount"), countDistinct("event_id")).head())
    val rows = truth.get("rows").asLong
    ctx.check("epoch count equals the window fold over the generated events",
      result.epochsRun == truth.get("epochs").asLong && committed.length == truth.get("epochs").asLong,
      s"${result.epochsRun} / ${committed.length} vs ${truth.get("epochs").asLong}")
    ctx.check("sink row count", agg.getLong(0) == rows, s"${agg.getLong(0)} vs $rows")
    ctx.check("sink decimal sum", agg.getDecimal(1) == new java.math.BigDecimal(truth.get("amount_sum").asText),
      s"${agg.getDecimal(1)} vs ${truth.get("amount_sum").asText}")
    ctx.check("sink distinct event_id", agg.getLong(2) == truth.get("distinct_ids").asLong)

    val (files, bytes, batches) = sinkFiles(Path.of(sinkPath))
    st.count("sink_files", files.toDouble)
    st.count("sink_bytes", bytes.toDouble)
    st.count("sink_batches", batches.toDouble)
    st.rows = rows
    st
  }

  def layerMetrics(p: PhaseResult): Map[String, Double] = {
    val epochs = p.total("epochs")
    val pipe = p.layers.getOrElse("pipeline", new SparkCounters)
    val sinks = p.layers.getOrElse("sinks", new SparkCounters)
    Map(
      "pipeline.iteration_ms_p50" -> p.p50("iteration_ms"),
      "pipeline.commit_ms_p50" -> p.p50("commit_ms"),
      "pipeline.empty_epoch_ms_p50" -> p.p50("empty_epoch_ms"),
      "pipeline.spark_jobs_per_epoch" -> (pipe.jobs + sinks.jobs) / epochs,
      "pipeline.input_mb_per_epoch" -> (pipe.inputBytes + sinks.inputBytes) / 1048576.0 / epochs,
      "pipeline.decide_ms" -> p.p50("decide_ms"),
      "pipeline.epochs" -> p.perRound("epochs"),
      "pipeline.empty_epochs" -> p.perRound("empty_epochs"),
      "sinks.write_ms_p50" -> p.p50("write_ms"),
      "sinks.files_per_batch" -> p.total("sink_files") / p.total("sink_batches"),
      "sinks.bytes_per_row" -> p.total("sink_bytes") / p.rows)
  }
}

object EpochIngest {
  val PlantedRows = 7

  /** (parquet data files, their bytes, batch directories) under a sink. */
  def sinkFiles(sink: Path): (Long, Long, Long) = {
    val batchDirs = Files.list(sink).iterator.asScala.filter(_.getFileName.toString.startsWith("batch=")).toSeq
    val parts = batchDirs.flatMap(d => Files.list(d).iterator.asScala
      .filter(f => f.getFileName.toString.startsWith("part-")).toSeq)
    (parts.size.toLong, parts.map(Files.size).sum, batchDirs.size.toLong)
  }
}
