package graftbench

import graft.examples.TrainingDataPipeline
import graft.operators.{Chunking, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `curate_corpus`: `TrainingDataPipeline.curate` over the generated corpus
  * with planted exact, near-duplicate and chain-shaped families, written as
  * the curated split; then the survivors are indexed with
  * `Dedup.buildLshIndex` and newcomer batches are admitted one at a time
  * through `Dedup.nearDupAgainstIndex`. Plain rounds call `curate` as one
  * lazy transform; staged rounds run its stages one at a time, each
  * materialized inside its own call. `input` is the generated corpus
  * directory (the measured one, or the warm-up one). */
final class CurateCorpus(ctx: Ctx, input: java.nio.file.Path) extends Workload {
  import CurateCorpus._
  def this(ctx: Ctx) = this(ctx, ctx.opts.input)
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val truth = ctx.truthAt(input)
  private val survivorsTruth = truth.get("survivors").elements.asScala.map(_.asLong).toSet
  private val matchesTruth = truth.get("newcomer_matches").elements.asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private val newcomerBatches = truth.get("newcomer_batches").asInt
  private val rowsPerRound = truth.get("corpus_docs").asLong + truth.get("newcomer_docs").asLong

  private def docs(name: String): DataFrame = spark.read.parquet(input.resolve(name).toString)

  /** `curate`'s chain, one materialized stage per call (same operators,
    * same parameters, same order as `TrainingDataPipeline.curate`). Every
    * persisted stage is added to `kept`; the caller unpersists them when the
    * round ends, so that the next round over the same corpus finds none of
    * them in Spark's cache. */
  private def curateStaged(corpus: DataFrame, st: RoundStats, kept: mutable.ArrayBuffer[DataFrame]): DataFrame = {
    def done(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); kept += p; p }
    val gated = tracer.call("operators", "gates")(done(TrainingDataPipeline.gates(corpus)))
    val exact = tracer.call("operators", "exact_dedup")(done(Dedup.exactKeepFirst(gated, "text", "doc_id")))
    val pairs = tracer.call("operators", "near_dup_pairs")(
      done(Dedup.nearDupPairs(exact, "doc_id", "text", numHashes = NumHashes, bands = Bands)))
    st.count("verified_pairs", pairs.count().toDouble)
    // the candidate count behind those pairs: the same signatures and bands
    // nearDupPairs uses, counted outside any layer's tag
    st.count("lsh_candidates", tracer.call("harness", "lsh_candidates") {
      val sh = exact.select(col("doc_id"), Dedup.shingles(col("text")).as("__sh"))
      Dedup.lshCandidatePairs(Dedup.minHashSignatures(sh, "doc_id", col("__sh"), NumHashes),
        "doc_id", Bands, NumHashes / Bands).count().toDouble
    })
    val clusters = tracer.call("operators", "cc")(done(
      Dedup.connectedComponents(exact.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")))
    st.count("clusters", clusters.groupBy("cluster_id").count().filter(col("count") > 1).count().toDouble)
    val keepers = clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id")
    val afterDedup = exact.join(keepers, Seq("doc_id"), "left_semi")
    val clean = tracer.call("operators", "redact")(done(
      TextAnalysis.redactPii(afterDedup, "doc_id", "text").select(col("doc_id"), col("redacted").as("text"))))
    tracer.call("operators", "chunk_pack") {
      val chunked = Chunking.chunkByTokens(clean, "doc_id", "text", chunkTokens = 64, overlap = 8)
      val split = Sampling.hashSplit(chunked, "doc_id", Seq("train" -> 0.95, "val" -> 0.05), "curate-v1")
      done(Seq("train", "val")
        .map(s => Chunking.packSequences(split.filter(col("split") === s),
          "doc_id", "chunk_idx", "chunk_tokens", capacity = 512))
        .reduce(_ unionByName _))
    }
  }

  private def admit(corpusDf: DataFrame, survivors: DataFrame, dir: java.nio.file.Path, st: RoundStats,
      batches: Int): Seq[(Long, Long)] = {
    val oldPath = dir.resolve("old").toString
    val indexPath = dir.resolve("index").toString
    tracer.call("operators", "index_build") {
      corpusDf.join(survivors, Seq("doc_id"), "left_semi").write.parquet(oldPath)
      Dedup.buildLshIndex(spark.read.parquet(oldPath), "doc_id", "text", numHashes = NumHashes, bands = Bands)
        .write.parquet(indexPath)
    }
    val oldDocs = spark.read.parquet(oldPath)
    val index = spark.read.parquet(indexPath)
    (0 until batches).flatMap { b =>
      val batch = docs(s"newcomers/batch-$b")
      val t0 = System.nanoTime()
      val m = tracer.call("operators", "index_probe")(
        Dedup.nearDupAgainstIndex(batch, "doc_id", "text", index, oldDocs, numHashes = NumHashes, bands = Bands)
          .select("id_a", "id_b").collect())
      st.batchMs += (System.nanoTime() - t0) / 1e6
      m.map(r => (r.getLong(0), r.getLong(1)))
    }
  }

  val nominalRoundS = 30.0

  /** One whole, verified round on the warm-up corpus, generated from
    * another seed: the measured rounds then find the JIT, the generated-code
    * cache and Spark's lazy set-up warm, but no cached data of theirs. */
  def warmup(staged: Boolean): Unit = {
    val in = ctx.opts.warmupInput.getOrElse(throw new IllegalArgumentException("--warmup-input is required"))
    new CurateCorpus(ctx, in).round(-1, staged)
  }

  def round(i: Int, staged: Boolean): RoundStats = {
    val st = new RoundStats
    val dir = ctx.roundDir("curate-round")
    val out = dir.resolve("out").toString
    val corpus = docs("corpus.parquet")
    val kept = mutable.ArrayBuffer.empty[DataFrame]
    if (staged) tracer.call("harness", "write_output")(
      curateStaged(corpus, st, kept).write.partitionBy("split").parquet(out))
    else tracer.call("operators", "curate")(
      TrainingDataPipeline.curate(corpus).write.partitionBy("split").parquet(out))
    val survivorIds = spark.read.parquet(out).select("doc_id").distinct()
    val got = survivorIds.collect().map(_.getLong(0)).toSet
    st.count("survivors", got.size.toDouble)
    ctx.check("survivors are the unique documents plus one per planted family", got == survivorsTruth,
      s"${(survivorsTruth -- got).size} missing, ${(got -- survivorsTruth).size} unexpected")

    val found = admit(corpus, survivorIds, dir, st, newcomerBatches)
    ctx.check("newcomer matches equal the planted newcomer duplicates", found.toSet == matchesTruth,
      s"${(matchesTruth -- found).size} missing, ${(found.toSet -- matchesTruth).size} unexpected")
    ctx.attempted += newcomerBatches
    kept.foreach(_.unpersist(blocking = true))
    st.rows = rowsPerRound
    st
  }

  def layerMetrics(p: PhaseResult): Map[String, Double] = {
    val s = (name: String) => ctx.tracer.totalMs(s"operators.$name") / 1e3 / p.n
    val cands = p.perRound("lsh_candidates")
    Map(
      "operators.gates_s" -> s("gates"),
      "operators.exact_dedup_s" -> s("exact_dedup"),
      "operators.near_dup_pairs_s" -> s("near_dup_pairs"),
      "operators.connected_components_s" -> s("cc"),
      "operators.redact_s" -> s("redact"),
      "operators.chunk_pack_s" -> s("chunk_pack"),
      "operators.index_build_s" -> s("index_build"),
      "operators.index_probe_s" -> s("index_probe"),
      "operators.lsh_candidates" -> cands,
      "operators.verified_pairs" -> p.perRound("verified_pairs"),
      "operators.verify_yield" -> (if (cands > 0) p.perRound("verified_pairs") / cands else 0.0),
      "operators.cc_spark_jobs" -> p.call("cc").jobs / p.n,
      "operators.clusters" -> p.perRound("clusters"),
      "operators.survivors" -> p.perRound("survivors"))
  }
}

object CurateCorpus {
  // curate's near-dup parameters, reused for the index and its probes
  val NumHashes = 64
  val Bands = 16
}
