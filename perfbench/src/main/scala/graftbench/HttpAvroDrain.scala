package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.serde.ConfluentAvroFrames
import graft.sinks.ExactlyOnceParquetWriter
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `http_avro_drain`: a `Trigger.AvailableNow` drain of the DSv2
  * `PaginatedTableProvider` over loopback HTTP from the separate page
  * server, with bearer auth whose token the server rotates once mid-drain.
  * Each micro-batch is encoded by `ConfluentAvroFrames.serialize` and
  * written by `ExactlyOnceParquetWriter` from `foreachBatch`; the sink is
  * then decoded through `deserializeWithDlq` into the `(doc_id, md5)` set
  * the output check compares with what the server served. */
final class HttpAvroDrain(ctx: Ctx) extends Workload {
  import HttpAvroDrain._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val truth = ctx.truth
  private val pageSize = truth.get("page_size").asInt
  private val pages = truth.get("pages").asInt
  private val pagesPerTrigger = truth.get("pages_per_trigger").asInt
  private val expected: Set[(Long, String)] =
    Files.readAllLines(ctx.opts.input.resolve("docs_md5.tsv")).asScala.map { l =>
      val Array(id, md5) = l.split("\t"); (id.toLong, md5)
    }.toSet
  private val server = ctx.opts.server
  private val client = HttpClient.newHttpClient()

  private def serverGet(path: String): String = {
    val r = client.send(HttpRequest.newBuilder(URI.create(server + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() == 200, s"page server $path: HTTP ${r.statusCode()}")
    r.body()
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def decodeJson(df: DataFrame): DataFrame =
    df.select(from_json(col("value"), docSchema).as("d"), col("page"), col("idx"))
      .select(col("d.doc_id").as("doc_id"), col("page"), col("idx"), col("d.text").as("text"))

  private final class Drain(staged: Boolean, writer: ExactlyOnceParquetWriter) {
    @volatile var firstBatchNs = 0L
    val partitions = mutable.ArrayBuffer.empty[Double]
    def batch(df: DataFrame, id: Long): Unit = {
      if (firstBatchNs == 0L) firstBatchNs = System.nanoTime()
      if (!staged) writer.write(ConfluentAvroFrames.serialize(decodeJson(df), Topic, isKey = false, AvroSchema), id)
      else {
        // each layer's work is materialized inside its own call so its
        // Spark jobs carry that layer's tag
        partitions += df.rdd.getNumPartitions.toDouble
        val src = tracer.call("sources", "read_pages") { val s = df.persist(); s.count(); s }
        val enc = tracer.call("serde", "encode") {
          val e = ConfluentAvroFrames.serialize(decodeJson(src), Topic, isKey = false, AvroSchema).persist()
          e.count()
          e
        }
        tracer.call("sinks", "write")(writer.write(enc, id))
        enc.unpersist()
        src.unpersist()
      }
    }
  }

  /** Drain the server's `path` endpoint into `sink`; returns the finished
    * query's progress and the drain's own timings. */
  private def drain(path: String, user: String, dir: Path, staged: Boolean) = {
    val sinkPath = dir.resolve("sink").toString
    val writer = new ExactlyOnceParquetWriter(sinkPath)
    val d = new Drain(staged, writer)
    val t0 = System.nanoTime()
    val q = spark.readStream
      .format("graft.sources.PaginatedTableProvider")
      .option("url", s"$server$path")
      .option("pageSize", pageSize.toString)
      .option("maxPagesPerTrigger", pagesPerTrigger.toString)
      .option("auth", "bearer")
      .option("tokenUrl", s"$server/auth")
      .option("authUser", user)
      .option("authPass", "bench")
      .load()
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(d.batch _)
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    (q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq, d, t0, writer, sinkPath)
  }

  val nominalRoundS = 15.0

  def warmup(staged: Boolean): Unit = {
    serverGet("/reset")
    val dir = ctx.roundDir("http-warmup")
    val (_, _, _, _, sinkPath) = drain("/warm", "warmup", dir, staged)
    val wire = spark.read.parquet(sinkPath).select("wire")
    ConfluentAvroFrames.deserializeWithDlq(wire, "wire", Topic, isKey = false, AvroSchema)._1
      .select(md5(col("text"))).collect()
  }

  def round(i: Int, staged: Boolean): RoundStats = {
    val st = new RoundStats
    serverGet("/reset")
    val dir = ctx.roundDir("http-round")
    // a fresh client identity per round: its token cache starts empty, so
    // every round acquires once and refreshes once at the planned rotation
    val (progress, d, t0, writer, sinkPath) = drain("/docs", s"round$i", dir, staged)
    val served = new ObjectMapper().readTree(serverGet("/stats"))

    progress.foreach { p =>
      val dm = p.durationMs
      st.batchMs += dm.get("triggerExecution").toDouble
      for ((k, name) <- ProgressKeys) st.sample(name, Option(dm.get(k)).map(_.toDouble).getOrElse(0.0))
    }
    st.count("batches", progress.size.toDouble)
    st.sample("capture_ms", (d.firstBatchNs - t0) / 1e6)
    d.partitions.foreach(st.sample("partitions", _))

    // read path: decode the sink through the DLQ split into the checked set
    val wire = spark.read.parquet(sinkPath).select("wire")
    val (good, dead) = tracer.call("serde", "decode") {
      val (g, dl) = ConfluentAvroFrames.deserializeWithDlq(wire, "wire", Topic, isKey = false, AvroSchema)
      if (staged) { val gp = g.persist(); gp.count(); (gp, dl) } else (g, dl)
    }
    val got = tracer.call("harness", "aggregate")(
      good.select(col("doc_id"), md5(col("text")), length(col("wire"))).collect())
    val deadRows = tracer.call("harness", "dead_rows")(dead.count())
    good.unpersist()
    val gotSet = got.map(r => (r.getLong(0), r.getString(1))).toSet
    val wireBytes = got.map(_.getInt(2).toLong).sum

    // re-sending a committed batch id must write nothing
    val before = listing(Path.of(sinkPath))
    writer.write(spark.read.parquet(s"$sinkPath/batch=0"), 0L)
    val resendWroteNothing = listing(Path.of(sinkPath)) == before

    val authCalls = served.get("auth_calls").asLong
    val otherErrors = served.get("other_errors").asLong
    ctx.check("decoded (doc_id, md5) set equals the served documents", gotSet == expected,
      s"${(expected -- gotSet).size} missing, ${(gotSet -- expected).size} unexpected")
    ctx.check("each served document decoded exactly once", got.length == expected.size,
      s"${got.length} rows for ${expected.size} documents")
    ctx.check("micro-batch input rows equal the served documents",
      progress.map(_.numInputRows).sum == expected.size)
    ctx.check("token refreshed at the planned rotation (>= 2 auth calls)", authCalls >= 2, s"$authCalls")
    ctx.check("no dead-letter rows", deadRows == 0, s"$deadRows")
    ctx.check("re-sending a committed batch id writes nothing", resendWroteNothing)
    ctx.check("no HTTP errors other than the planned 403", otherErrors == 0, s"$otherErrors")
    ctx.attempted += progress.size + served.get("requests").asLong
    ctx.failed += otherErrors

    val (files, bytes, batches) = EpochIngest.sinkFiles(Path.of(sinkPath))
    st.count("sink_files", files.toDouble)
    st.count("sink_bytes", bytes.toDouble)
    st.count("sink_batches", batches.toDouble)
    st.count("wire_bytes", wireBytes.toDouble)
    st.count("page_ok", served.get("page_ok").asDouble)
    st.count("server_ms", served.get("server_ms").asDouble)
    st.count("auth_calls", authCalls.toDouble)
    st.count("rejected_403", served.get("rejected_403").asDouble)
    st.count("dead_rows", deadRows.toDouble)
    st.rows = expected.size
    st
  }

  def layerMetrics(p: PhaseResult): Map[String, Double] = {
    val krows = p.rows / 1000.0
    val spanMs = (name: String) => ctx.tracer.totalMs(name)
    Map(
      "sinks.write_ms_p50" -> Stats.median(ctx.tracer.durationsMs("sinks.write")),
      "sinks.files_per_batch" -> p.total("sink_files") / p.total("sink_batches"),
      "sinks.bytes_per_row" -> p.total("sink_bytes") / p.rows,
      "sources.capture_ms" -> p.p50("capture_ms"),
      "sources.fetches_per_page" -> p.total("page_ok") / (pages * p.n),
      "sources.partitions_per_batch" -> Stats.median(p.all("partitions")),
      "sources.server_ms_per_page" -> p.total("server_ms") / p.total("page_ok"),
      "sources.auth_calls" -> p.perRound("auth_calls"),
      "sources.rejected_403" -> p.perRound("rejected_403"),
      "serde.encode_ms_per_krow" -> spanMs("serde.encode") / krows,
      "serde.decode_ms_per_krow" -> spanMs("serde.decode") / krows,
      "serde.wire_bytes_per_row" -> p.total("wire_bytes") / p.rows,
      "serde.dead_rows" -> p.perRound("dead_rows")) ++
      ProgressKeys.map { case (_, name) => s"spark.microbatch.${name}_p50" -> p.p50(name) }
  }
}

object HttpAvroDrain {
  val Topic = "docs"
  val AvroSchema: String =
    """{"type":"record","name":"Doc","fields":[
      |{"name":"doc_id","type":"long"},{"name":"page","type":"int"},
      |{"name":"idx","type":"int"},{"name":"text","type":"string"}]}""".stripMargin

  /** `StreamingQueryProgress.durationMs` keys and their metric names. */
  val ProgressKeys: Seq[(String, String)] = Seq(
    "triggerExecution" -> "trigger_ms",
    "addBatch" -> "add_batch_ms",
    "walCommit" -> "wal_commit_ms",
    "queryPlanning" -> "planning_ms",
    "latestOffset" -> "latest_offset_ms")

  /** Every file under `dir` with its size and modification time. */
  def listing(dir: Path): Set[(String, Long, Long)] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => (dir.relativize(f).toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)).toSet
    finally s.close()
  }
}
