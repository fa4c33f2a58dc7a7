package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{CorpusPrep, Dedup, Tokenize}

/** Training-data plane: a seeded corpus with injected exact and near
  * duplicates, benchmark-contaminated and too-short documents goes
  * through quality filter + exact dedup + decontamination + mixture
  * sampling (`CorpusPrep.prepare`), near-duplicate removal
  * (`Dedup.dedupCorpus`), and tokenization (`Tokenize.fitVocab` and
  * `tokenize`). Each stage writes its output, as a pipeline would.
  *
  * Part of the `batch` workload, where it sets `rate_per_s`, input
  * documents per second; `op2_p50_ms`, prepare + near-dup removal; and
  * `aux2_p50_ms`, the median of three tokenization passes. */
final class Corpus(ctx: Ctx) {
  private val spark: SparkSession = ctx.spark
  private var input: String = _
  private var docs: Array[Gen.Doc] = _
  private val rates = Map("code" -> 0.5)
  // Corpus shape: 5,000 documents, as many as sf0.1's `documents`, of
  // 60–120 words drawn from a 5,000-word Zipf(0.8) vocabulary, plus 10
  // benchmark-contaminated copies of 20 benchmark documents and 10
  // too-short ones. Near duplicates differ from their original by one word.
  private val Docs = 5000
  private val Shards = 16
  // minhash settings of `Dedup.dedupCorpus`'s defaults
  private val MinhashN = 8
  private val MinhashMinMatches = 6
  private val VocabSize = 8000
  /** Share of injected near duplicates the dedup must remove. */
  private val DupRecallFloor = 0.9

  private var survivors = 0

  def setup(rep: Int): Unit = {
    import spark.implicits._
    val (corpus, bench) = Gen.corpus(Gen.CorpusSpec(
      docs = Docs, vocab = 5000, zipfS = 0.8, minWords = 60, maxWords = 120,
      exactDupShare = ctx.param("corpus", "exact_dup_share").asDouble,
      nearDupShare = ctx.param("corpus", "near_dup_share").asDouble,
      nearDupEdits = 1, contaminated = 10, benchmarkDocs = 20, shortDocs = 10, seed = ctx.seed))
    docs = corpus
    input = ctx.dir(s"setup$rep")
    corpus.map(d => (d.id, d.source, d.text)).toSeq.toDF("doc_id", "source", "text")
      .write.parquet(s"$input/corpus")
    bench.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text").write.parquet(s"$input/bench")
  }

  private def prepare(corpus: DataFrame): DataFrame = {
    val kept = CorpusPrep.prepare(corpus, spark.read.parquet(s"$input/bench"),
      "doc_id", "text", "source", rates, nShards = Shards)
    corpus.join(kept.select(col("doc_id"), col("shard")), Seq("doc_id"), "left_semi")
  }

  /** Tokenizing passes over the deduplicated corpus; the cheapest stage,
    * so its median over several passes is reported. */
  private val TokenizePasses = 3

  /** Prepare and near-dup removal, then the tokenizing passes, each stage
    * writing its output; returns the seconds of prepare + dedup and of
    * each tokenizing pass. */
  private def pass(corpus: DataFrame, dir: String): (Double, Seq[Double]) = {
    val (_, dedupS) = Stats.time {
      ctx.span("llm.prepare")(prepare(corpus).write.parquet(s"$dir/prepared"))
      ctx.span("llm.dedup")(Dedup.dedupCorpus(spark.read.parquet(s"$dir/prepared"),
        "doc_id", "text", n = MinhashN, minMatches = MinhashMinMatches)
        .write.parquet(s"$dir/deduped"))
    }
    val deduped = spark.read.parquet(s"$dir/deduped")
    val tokenizeS = (0 until TokenizePasses).map { i =>
      Stats.time(ctx.span("llm.tokenize") {
        val vocab = Tokenize.fitVocab(deduped, "text", VocabSize)
        Tokenize.tokenize(deduped, "text", vocab)
          .select(col("doc_id"), col("token_ids"), col("n_tokens"), col("n_unk"))
          .write.parquet(s"$dir/tokens$i")
      })._2
    }
    (dedupS, tokenizeS)
  }

  /** One pass: each stage writes its output, as a pipeline would. */
  def measure(out: Outcome): Unit = {
    val dir = ctx.dir("stages")
    val corpus = spark.read.parquet(s"$input/corpus")
    val (dedupS, tokenizeS) = ctx.phase("corpus", out)(pass(corpus, dir))
    val tokS = Stats.median(tokenizeS)
    out.e2e("rate_per_s") = docs.length / (dedupS + tokS)
    out.e2e("op2_p50_ms") = dedupS * 1e3
    out.e2e("aux2_p50_ms") = tokS * 1e3
    out.layer("llm.prepare_s") = ctx.tracer.seconds("llm.prepare")
    out.layer("llm.tokenize_s") = tokS
    verify(dir, out)
  }

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select(col("doc_id")).collect().map(_.getLong(0)).toSet

  private def verify(dir: String, out: Outcome): Unit = {
    val byId = docs.iterator.map(d => d.id -> d).toMap
    val prepared = ids(s"$dir/prepared")
    val kinds = prepared.toSeq.map(byId(_).kind)
    out.check("quality filter drops short docs", !kinds.contains("short"))
    out.check("decontamination drops benchmark copies", !kinds.contains("contam"))
    out.check("exact duplicates removed",
      prepared.toSeq.map(byId(_).text).distinct.size == prepared.size)
    val deduped = ids(s"$dir/deduped")
    out.check("dedup keeps a subset", deduped.subsetOf(prepared))
    survivors = deduped.size
    val near = docs.filter(d => d.kind == "near" && prepared(d.id) && prepared(d.origin))
    val recall = near.count(d => !deduped(d.id)).toDouble / math.max(1, near.length)
    out.layer("llm.dup_recall") = recall
    out.check("near-dup recall floor", recall >= DupRecallFloor, s"recall $recall")
    val tokens = spark.read.parquet(s"$dir/tokens0")
      .agg(count(lit(1)), sum(col("n_unk")), min(col("n_tokens"))).head()
    out.check("every survivor tokenized, no unknown tokens",
      tokens.getLong(0) == deduped.size && tokens.getLong(1) == 0L && tokens.getInt(2) > 0,
      s"$tokens")
  }

  def probe(out: Outcome): Unit = {
    // the two halves of near-dup removal, each materialized on its own
    val prepared = spark.read.parquet(s"$input/corpus").transform(prepare).localCheckpoint()
    val (pairs, pairsS) = Stats.time(Dedup.minhashCandidatePairs(prepared, "doc_id", "text",
      MinhashN, MinhashMinMatches).localCheckpoint())
    out.layer("llm.minhash_pairs_s") = pairsS
    val (groups, groupsS) = Stats.time(Dedup.connectedGroups(pairs).localCheckpoint())
    out.layer("llm.groups_s") = groupsS
    // the same input, recomputed in parts, keeps the same survivors
    val dropped = groups.filter(col("doc_id") =!= col("group_id")).count()
    out.check("survivor count is deterministic", prepared.count() - dropped == survivors,
      s"${prepared.count() - dropped} vs $survivors")
    val byId = docs.iterator.map(d => d.id -> d).toMap
    val candidates = pairs.select(col("doc_a"), col("doc_b")).collect()
    out.layer("llm.candidate_pairs") = candidates.length.toDouble
    val truePairs = candidates.count(r =>
      byId(r.getLong(0)).origin == byId(r.getLong(1)).origin)
    out.layer("llm.pair_precision") = truePairs.toDouble / math.max(1, candidates.length)
  }
}
