package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.functions.TextFunctions.words
import graft.operators.{CorpusQueries, DedupQueries}
import graft.pipeline._
import graft.streaming.DocStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `CorpusPipeline` with near-dup dedup over a seeded corpus
  * (`perfbench/gen.py`): `<data>/docs` is the corpus and
  * `<data>/delta` the batch of new documents that arrives for the
  * incremental run. */
final class CorpusLlm(data: Path, rec: Record) extends Pipeline {
  private val tasks = Seq("quality_gate", "dedup", "pack", "rebalance", "skew_report",
    "chunk_index", "tokenize", "bpe_train", "freq_profile")

  private def config(base: Path) = CorpusConfig(
    docsDir = base.resolve("docs").toString,
    workDir = base.resolve("work").toString,
    signalsDir = base.resolve("signals"),
    nearDup = true)

  private def exec(spark: SparkSession, cfg: CorpusConfig, store: SignalStore): DagReport =
    CorpusPipeline.build(spark, cfg).execute(store)

  /** The new batch lands as one more parquet file in the corpus dir. */
  private def arrive(base: Path): Unit =
    Files.copy(data.resolve("delta/part-delta.parquet"), base.resolve("docs/part-delta.parquet"))

  def prepare(spark: SparkSession, r: Record): Unit = {
    r.num("corpus_bytes", Files2.bytes(data.resolve("docs")).toDouble)
    r.num("corpus_delta_bytes", Files2.bytes(data.resolve("delta")).toDouble)
  }

  /** Output checks: deduped ⊆ gated with no two survivors sharing a text,
    * the exact duplicates the generator planted are gone, every deduped
    * document is packed once, and the rebalance conserves tokens. */
  private def outputsOk(spark: SparkSession, cfg: CorpusConfig): Boolean = {
    def read(name: String) = spark.read.parquet(s"${cfg.workDir}/$name")
    val gated = read("gated")
    val deduped = read("deduped")
    val packed = read("packed")
    val balanced = read("balanced")
    val nDeduped = deduped.count()
    val tokens = (df: DataFrame) => df.agg(sum("n_tokens")).head.getLong(0)
    val checks = Seq(
      "deduped ⊆ gated" -> deduped.select("doc_id").except(gated.select("doc_id")).isEmpty,
      "survivor texts distinct" -> (deduped.select("text").distinct().count() == nDeduped),
      "dedup removed documents" -> (nDeduped < gated.count()),
      "packed rows = deduped rows" -> (packed.count() == nDeduped &&
        packed.select("doc_id").except(deduped.select("doc_id")).isEmpty),
      "rebalance conserves tokens" -> (balanced.count() == packed.count() &&
        tokens(balanced) == tokens(packed)))
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] corpus_llm: ${c._1} failed"))
    checks.forall(_._2)
  }

  def open(spark: SparkSession, base: Path): PipelineRun = {
    Files2.copyTree(data.resolve("docs"), base.resolve("docs"))
    val cfg = config(base)
    PipelineRun("corpus_llm", tasks, leaf = "skew_report",
      // new documents change the gated set, so every task downstream re-runs
      expectIncremental = tasks,
      signalsDir = cfg.signalsDir,
      newStore = () => new FileSignalStore(cfg.signalsDir),
      execute = store => exec(spark, cfg, store),
      edit = () => arrive(base),
      checkCold = () => outputsOk(spark, cfg),
      checkIncremental = () => outputsOk(spark, cfg),
      diskBytes = () => Files2.bytes(base) - Files2.bytes(base.resolve("docs")))
  }

  /** Replay one cold run layer by layer, each layer's output written where
    * the task writes it, so later layers read it like the task does. */
  def replay(spark: SparkSession, base: Path, fullSpans: collection.Map[String, Double]): Unit = {
    implicit val s: SparkSession = spark
    Files2.copyTree(data.resolve("docs"), base.resolve("docs"))
    val cfg = config(base)
    val spent = mutable.LinkedHashMap.empty[String, Double]
    def span[T](task: String, metric: String)(body: => T): T = {
      val (r, secs) = Clock.time(body)
      rec.add(metric, secs)
      spent(task) = spent.getOrElse(task, 0.0) + secs
      r
    }
    def out(name: String) = s"${cfg.workDir}/$name"
    def read(name: String) = spark.read.parquet(out(name))
    def write(df: DataFrame, name: String): Unit = df.write.mode("overwrite").parquet(out(name))
    def hash(task: String, name: String): Unit =
      span(task, "signal.hash_s")(GraftPipeline.doneSignal(spark, out(name)))
    rec.op("corpus_llm replay") {
      val docs = spark.read.parquet(cfg.docsDir)
      span("quality_gate", "gate.score_s") {
        val keep = DocStreams.scoredWith(docs, CorpusPolicy()).where(col("keep")).select(col("doc_id"))
        write(docs.join(keep, Seq("doc_id"), "left_semi"), "gated")
      }
      hash("quality_gate", "gated")

      val gated = read("gated")
      val pairs = span("dedup", "lsh.pairs_s") {
        val p = DedupQueries.lshPairsOf(gated, CorpusPolicy().shingleSize).persist()
        p.count()
        p
      }
      val nPairs = pairs.count()
      rec.add("lsh.candidate_pairs", nPairs)
      span("dedup", "dedup.cluster_s") {
        val keep = DedupQueries.clustersOf(gated.select(col("doc_id")), pairs)
          .where(col("doc_id") === col("cluster_rep")).select("doc_id")
        write(gated.join(keep, Seq("doc_id"), "left_semi"), "deduped")
      }
      pairs.unpersist()
      hash("dedup", "deduped")
      val removed = gated.count() - read("deduped").count()
      rec.add("dedup.docs_removed", removed)
      rec.set("dedup.useful_ratio", removed.toDouble / math.max(nPairs, 1L))

      val deduped = read("deduped")
      span("pack", "corpus.pack_s")(write(CorpusQueries.packAll(deduped), "packed"))
      hash("pack", "packed")
      span("rebalance", "shards.rebalance_s")(write(Shards.rebalance(read("packed")), "balanced"))
      hash("rebalance", "balanced")
      span("chunk_index", "corpus.chunk_s")(write(CorpusQueries.cdcChunksOf(deduped), "chunks"))
      hash("chunk_index", "chunks")
      span("tokenize", "corpus.vocab_s")(write(CorpusQueries.vocabOf(deduped, 64).coalesce(1), "vocab"))
      span("tokenize", "corpus.token_ids_s")(write(CorpusQueries.tokenIdsOf(deduped, read("vocab")), "tokens"))
      hash("tokenize", "vocab")
      hash("tokenize", "tokens")
      span("bpe_train", "corpus.bpe_s")(write(CorpusQueries.bpeMergesOf(deduped).coalesce(1), "bpe_merges"))
      hash("bpe_train", "bpe_merges")
      span("freq_profile", "topfreq.build_s") {
        val toks = deduped.select(col("source"), explode(words(col("text"))).as("tok"))
        write(TopFreq.build(toks, col("tok"), col("source"), 32).coalesce(1), "freq")
      }
      hash("freq_profile", "freq")
    }
    tasks.foreach { t =>
      fullSpans.get(t).foreach(s => rec.set(s"task.$t.unattributed_s", s - spent.getOrElse(t, 0.0)))
    }
  }
}
