package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Opts(
    workload: String,
    input: Path,
    work: Path,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    server: String,
    warmupInput: Option[Path],
    ballastMb: Int,
    runId: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(
      workload = need("workload"),
      input = Paths.get(need("input")),
      work = Paths.get(need("work")),
      seconds = need("seconds").toDouble,
      trace = m.get("trace").contains("1"),
      cores = need("cores").toInt,
      server = m.getOrElse("server", ""),
      warmupInput = m.get("warmup-input").filter(_.nonEmpty).map(Paths.get(_)),
      ballastMb = m.get("ballast-mb").map(_.toInt).getOrElse(0),
      runId = m.getOrElse("run-id", "run"))
  }
}

/** What one round of a workload measured. `samples` are per-batch or
  * per-call values (medians are taken over all rounds of a phase);
  * `counts` are summed over the phase's rounds and reported per round. */
final class RoundStats {
  var rows = 0L
  var wallS = 0.0
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.Map.empty[String, Double]
  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def count(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Shared state of one harness run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer, val listener: LayerListener) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** An output check: counted as an attempted operation, and as a failed
    * one (reported loudly on stderr) when it does not hold. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"CHECK FAILED [${opts.workload}] $what${if (detail.isEmpty) "" else ": " + detail}"
      failures += msg
      System.err.println(msg)
    }
  }

  def truth: JsonNode = truthAt(opts.input)
  def truthAt(input: Path): JsonNode = new ObjectMapper().readTree(input.resolve("truth.json").toFile)

  /** A fresh per-round scratch directory (the previous round's is removed
    * first so disk use stays bounded). */
  def roundDir(name: String): Path = {
    val d = opts.work.resolve(name)
    Main.deleteTree(d)
    Files.createDirectories(d)
    d
  }
}

trait Workload {
  /** A round's wall time on a 4-core box, rounded up: a run of `--seconds S`
    * makes max(1, floor(S / nominalRoundS)) rounds. A fixed round count
    * (not "until S seconds have passed") keeps a run from flipping between
    * n and n+1 rounds when a round's time sits near the boundary. */
  def nominalRoundS: Double
  /** One untimed pass: class loading, JIT and Spark's lazy set-up, on the
    * code path the measured rounds take (`staged` as in [[round]]). */
  def warmup(staged: Boolean): Unit
  /** One full, verified pass over the generated input. `staged` rounds
    * (those of a traced invocation) materialize each layer's output inside
    * that layer's call; whether spans and job tags are recorded is up to
    * the tracer alone, so a staged round can run traced or untraced. */
  def round(i: Int, staged: Boolean): RoundStats
  /** This workload's own per-layer metrics from the traced rounds. */
  def layerMetrics(traced: PhaseResult): Map[String, Double]
}

final case class PhaseResult(
    rounds: Seq[RoundStats],
    wallS: Double,
    cpuNs: Long,
    gcMs: Long,
    codegenCompiles: Long,
    executorCpuNs: Long,
    stagesAttempted: Long,
    stagesFailed: Long,
    layers: Map[String, SparkCounters],
    calls: Map[String, SparkCounters]) {
  def n: Double = math.max(rounds.size, 1).toDouble
  def rows: Long = rounds.map(_.rows).sum
  def rowsPerS: Double = rows / wallS
  def perRound(k: String): Double = rounds.map(_.counts.getOrElse(k, 0.0)).sum / n
  def total(k: String): Double = rounds.map(_.counts.getOrElse(k, 0.0)).sum
  def all(k: String): Seq[Double] = rounds.flatMap(_.samples.getOrElse(k, Nil))
  def p50(k: String): Double = Stats.median(all(k))
  def call(k: String): SparkCounters = calls.getOrElse(k, new SparkCounters)

  def ++(o: PhaseResult): PhaseResult = {
    def merge(a: Map[String, SparkCounters], b: Map[String, SparkCounters]) =
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, new SparkCounters) + b.getOrElse(k, new SparkCounters))).toMap
    PhaseResult(rounds ++ o.rounds, wallS + o.wallS, cpuNs + o.cpuNs, gcMs + o.gcMs,
      codegenCompiles + o.codegenCompiles, executorCpuNs + o.executorCpuNs, stagesAttempted + o.stagesAttempted,
      stagesFailed + o.stagesFailed, merge(layers, o.layers), merge(calls, o.calls))
  }
}

object Main {
  val Layers = Seq("pipeline", "sinks", "sources", "serde", "operators")
  @volatile private var ballast: Array[Array[Byte]] = Array.empty

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def session(o: Opts): SparkSession = {
    val s = graft.GraftSession.builder("graft-perfbench", Some(s"local[${o.cores}]"))
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop-tmp").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `n` rounds from round index `firstRound`, all staged or all not, with
    * the tracer on or off throughout. Stops at the first round that throws. */
  private def runPhase(ctx: Ctx, w: Workload, n: Int, staged: Boolean, traced: Boolean,
      firstRound: Int): PhaseResult = {
    val sc = ctx.spark.sparkContext
    GraftBenchBus.drain(sc)
    ctx.listener.reset()
    val rounds = mutable.ArrayBuffer.empty[RoundStats]
    val cpu0 = Proc.cpuNs
    val cg0 = Proc.codegenCompiles
    val gc0 = Proc.gcMs
    val t0 = System.nanoTime()
    var stop = false
    while (!stop && rounds.size < n) {
      val i = firstRound + rounds.size
      val tr = System.nanoTime()
      try {
        // an untraced round still gets its own span, so the workload
        // span's self time does not swallow it
        val r = ctx.tracer.phase(if (traced) "round" else "round_untraced") {
          ctx.tracer.enabled = traced
          try w.round(i, staged) finally ctx.tracer.enabled = ctx.opts.trace
        }
        r.wallS = (System.nanoTime() - tr) / 1e9
        rounds += r
      }
      catch {
        case e: Throwable =>
          ctx.check(s"round $i completes", ok = false, e.toString)
          e.printStackTrace()
          stop = true
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.cpuNs - cpu0
    val gc = Proc.gcMs - gc0
    val cg = Proc.codegenCompiles - cg0
    GraftBenchBus.drain(sc)
    val l = ctx.listener
    l.synchronized {
      PhaseResult(rounds.toSeq, wall, cpu, gc, cg, l.executorCpuNs, l.stagesAttempted, l.stagesFailed,
        l.byLayer.toMap, l.byCall.toMap)
    }
  }

  /** The `<layer>.spark_*`, `driver.*` and `trace.*` metrics; every layer
    * reports, idle ones as zero. Counters are per round. */
  private def sparkLayerMetrics(p: PhaseResult, untracedRowsPerS: Double): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val perLayer = Layers.flatMap { l =>
      val c = p.layers.getOrElse(l, new SparkCounters)
      Seq(
        s"$l.spark_jobs" -> c.jobs / p.n,
        s"$l.spark_tasks" -> c.tasks / p.n,
        s"$l.executor_cpu_s" -> c.executorCpuNs / 1e9 / p.n,
        s"$l.executor_run_s" -> c.executorRunMs / 1e3 / p.n,
        s"$l.shuffle_write_mb" -> c.shuffleWriteBytes / mb / p.n,
        s"$l.spill_mb" -> c.spillBytes / mb / p.n,
        s"$l.input_mb" -> c.inputBytes / mb / p.n)
    }
    perLayer.toMap ++ Map(
      "driver.cpu_s" -> (p.cpuNs - p.executorCpuNs) / 1e9 / p.n,
      "driver.gc_s" -> p.gcMs / 1e3 / p.n,
      "driver.codegen_compiles" -> p.codegenCompiles / p.n,
      "trace.rows_per_s_untraced" -> untracedRowsPerS,
      "trace.rows_per_s_traced" -> p.rowsPerS,
      "trace.overhead_pct" -> 100.0 * (untracedRowsPerS - p.rowsPerS) / untracedRowsPerS)
  }

  def workload(ctx: Ctx): Workload = ctx.opts.workload match {
    case "epoch_ingest"    => new EpochIngest(ctx)
    case "http_avro_drain" => new HttpAvroDrain(ctx)
    case "curate_corpus"   => new CurateCorpus(ctx)
    case other             => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    Proc.watchHeap()
    // --ballast-mb: memory kept live for the whole run, a known change for
    // peak_rss_mb to show
    ballast = Array.fill(o.ballastMb)(Array.fill[Byte](1 << 20)(1))
    val spark = session(o)
    val readyMs = System.currentTimeMillis()
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, o, new Tracer(false, spark.sparkContext), listener)
    val w = workload(ctx)
    val tw = System.nanoTime()
    w.warmup(staged = o.trace)
    val warmupS = (System.nanoTime() - tw) / 1e9

    // Untraced invocation: plain rounds give the end-to-end metrics.
    // Traced invocation: an odd number of staged rounds, at least three,
    // with the tracer on and off in turn (T U T, T U T U T, ...), so that a
    // steady drift over the run favours neither side. The per-layer metrics
    // come from the traced rounds; the tracing overhead compares the two
    // sides, which run the same staged code.
    val n = math.max(1, (o.seconds / w.nominalRoundS).toInt)
    val (untraced, traced) =
      if (!o.trace) (runPhase(ctx, w, n, staged = false, traced = false, firstRound = 0), None)
      else {
        ctx.tracer.enabled = true
        val phases = ctx.tracer.phase(o.workload) {
          (0 until 2 * math.max(1, n / 2) + 1).map { i =>
            (i % 2 == 0) -> runPhase(ctx, w, 1, staged = true, traced = i % 2 == 0, firstRound = i)
          }
        }
        (phases.filterNot(_._1).map(_._2).reduce(_ ++ _), Some(phases.filter(_._1).map(_._2).reduce(_ ++ _)))
      }

    val u = untraced
    val batchMs = u.rounds.flatMap(_.batchMs)
    val cpuMsPerKrow = u.cpuNs / 1e6 / (u.rows / 1000.0)
    val e2e = Map(
      "rows_per_s" -> u.rowsPerS,
      "batch_ms_p50" -> Stats.pct(batchMs, 50),
      "batch_ms_p90" -> Stats.pct(batchMs, 90),
      "cpu_ms_per_krow" -> cpuMsPerKrow,
      "peak_rss_mb" -> Proc.peakRssMb)
    val metrics = traced match {
      case None    => e2e
      case Some(t) => sparkLayerMetrics(t, u.rowsPerS) ++ w.layerMetrics(t) ++
          Map("driver.heap_after_gc_peak_mb" -> Proc.heapAfterGcPeakMb)
    }
    for (p <- Seq(untraced) ++ traced) {
      ctx.attempted += p.stagesAttempted
      ctx.failed += p.stagesFailed
    }
    if (o.trace) ctx.tracer.write(o.work.resolve("spans.jsonl"), o.runId)

    val sc = spark.sparkContext
    val info = Map(
      "session_ready_epoch_ms" -> readyMs,
      "warmup_s" -> warmupS,
      "ballast_mb" -> o.ballastMb,
      "heap_after_gc_peak_mb" -> Proc.heapAfterGcPeakMb,
      "effective_cores" -> sc.defaultParallelism,
      "master" -> sc.master,
      "jvm_version" -> System.getProperty("java.version"),
      "jvm_xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "rounds" -> u.rounds.size,
      "round_s" -> u.rounds.map(_.wallS),
      "codegen_compiles" -> u.codegenCompiles,
      "traced_rounds" -> traced.map(_.rounds.size).getOrElse(0),
      "measured_s" -> u.wallS,
      "rows" -> u.rows,
      "batch_n" -> batchMs.size,
      "batch_n_beyond_p90" -> batchMs.count(_ > Stats.pct(batchMs, 90)),
      "failures" -> ctx.failures.toSeq)
    val line = Json.obj(Seq(
      "correct" -> ctx.failures.isEmpty,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics,
      "info" -> info))
    println("GRAFTBENCH " + line)
    require(ballast.length == o.ballastMb)
    System.out.flush()
    // everything this run keeps is written; the session's scratch lives
    // under --work, which the caller removes, so skip Spark's shutdown
    Runtime.getRuntime.halt(if (ctx.failures.isEmpty) 0 else 1)
  }
}
