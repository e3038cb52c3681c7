package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity scoring — the CCNet/Gopher-class
  * quality filter a pretraining pipeline runs over every document: score
  * each doc by how surprising its text is under a language model trained
  * on a trusted reference corpus, then keep/bucket by perplexity band
  * (CCNet's head/middle/tail split). The production version uses a KenLM
  * 5-gram model; this is the same statistic over an add-one-smoothed
  * word BIGRAM model, with the model itself trained as a Spark
  * aggregation — no external artifacts, any corpus can be the reference.
  *
  * Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), where c(w1) is w1's
  * count as a bigram PREFIX (so Σ_w2 P = 1 exactly) and V the reference's
  * distinct-token vocabulary size. Per doc: cross-entropy
  * H = −Σ ln P / n_bigrams (rounded 4 dp — the q61 ln-sum discipline,
  * engine-identical), perplexity = exp(H) of the rounded H. Unseen
  * bigrams and unseen prefixes degrade smoothly to the 1/(c1+V) floor —
  * OOV text scores high-perplexity, exactly the filtering signal.
  *
  * Scale: training is two linear aggregations over the reference; scoring
  * joins each doc bigram against the count tables — Zipf keeps the model
  * ≪ corpus (broadcast when under the threshold, hash join otherwise),
  * and the corpus side never shuffles anything wider than (id, w1, w2).
  * Docs with < 2 tokens carry no bigram evidence and are excluded, the
  * explode-first convention (q61/q42).
  */
object Perplexity {

  /** A trained bigram LM: prefix-keyed count tables + the one-row vocab
    * size. All three are plain DataFrames — persist them like any other
    * index (the q52/q65 pattern) and score any number of later corpora.
    */
  final case class BigramLm(bigrams: DataFrame, unigrams: DataFrame, vocab: DataFrame)

  /** (id, w1, w2) bigram OCCURRENCES (duplicates kept — counts, not the
    * distinct shingle sets of the Jaccard family).
    */
  private def bigramsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    // zip_with over a BOUND token attribute (r20): the old positional
    // element_at(toks, i) lambda captured the raw tokens() expression, and
    // a HOF lambda re-evaluates any non-attribute operand per element —
    // the tokenize ran twice per bigram, O(n²) splits per document (the
    // q114 featurize lesson). The zip of the two shifted slices touches
    // only its own elements; identical (id, w1, w2) stream.
    // The tokenize/explode runs in the scan stage — spread a narrow input
    // first (guide §2.5; no-op on multi-file production scans).
    Spread.ifNarrow(docs.select(col(idCol), col(textCol)))
      .filter(size(toks) >= 2)
      .select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"),
        explode(zip_with(
          slice(col("__toks"), lit(1), size(col("__toks")) - 1),
          slice(col("__toks"), lit(2), size(col("__toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Train the model: bigram counts, prefix counts, vocabulary size. The
    * model frames are MATERIALIZED here (localCheckpoint) — they are the
    * persistable artifact, and every downstream score join would
    * otherwise re-aggregate the reference corpus per consumer (the
    * recomputation trap: r5 q68 hit 10 source scans before this;
    * graft.Profile's fileScans re-measures it).
    *
    * `minCount` is the KenLM-style count-threshold pruning knob: bigrams
    * seen fewer than `minCount` times are DROPPED from the model (default
    * 1 = keep all). On an open-domain reference corpus the bigram table
    * is Zipf-tailed — hapax bigrams are typically half the distinct rows
    * while carrying the least signal — so `minCount = 2` roughly halves
    * the model for a small scoring shift. Degradation is smooth by
    * construction: a pruned bigram scores through the SAME unseen-bigram
    * floor 1/(c1+V) the smoothing already defines (scoring has no pruned
    * /unpruned branch), and prefix counts / vocabulary keep the full
    * corpus mass, so probabilities only move at the pruned entries.
    * Pruned-vs-unpruned band agreement is measured in PerplexitySpec.
    */
  private val lmCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), BigramLm]()

  /** Train-ONCE memo over [[train]]: at 100 TB the reference LM is trained
    * one time and persisted, then every consumer (scoring, banding, cut
    * gates — q67/q68/q70) reads the same artifact; re-training per
    * consumer triples the reference-corpus passes for bit-identical
    * models. The memo key is (session, caller-chosen key) — the session
    * scoping means a new session retrains (localCheckpoints die with the
    * session), and the string key is the caller's contract that the same
    * key always names the same reference slice (the persisted-artifact
    * path it stands in for).
    */
  def trainOnce(
      key: String, ref: DataFrame, idCol: String, textCol: String,
      minCount: Int = 1): BigramLm = {
    // evict entries whose session has stopped — a long-lived JVM cycling
    // sessions (test suites, notebook servers) must not pin dead sessions
    // and their checkpointed frames forever; a live JVM holds at most the
    // active sessions' models
    lmCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    lmCache.computeIfAbsent((ref.sparkSession, key),
      _ => train(ref, idCol, textCol, minCount))
  }

  def train(ref: DataFrame, idCol: String, textCol: String, minCount: Int = 1): BigramLm = {
    require(minCount >= 1, "minCount >= 1 (1 = no pruning)")
    val bg = bigramsOf(ref, idCol, textCol).localCheckpoint()
    BigramLm(
      bigrams = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= minCount)
        .localCheckpoint(),
      unigrams = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
        .localCheckpoint(),
      vocab = ref
        .select(explode(TextFunctions.tokens(col(textCol))).as("u"))
        .agg(countDistinct(col("u")).cast("double").as("v"))
        .localCheckpoint())
  }

  /** CCNet's actual filter decision: split each source's documents into
    * head / middle / tail perplexity bands at the source's own `lo`/`hi`
    * exact quantiles (head = most fluent). Per-source cuts, not global —
    * CCNet banded per language for the same reason: sources differ in
    * baseline perplexity and a global cut would empty some and pass all
    * of others. Cuts are EXACT interpolated percentiles rounded 6 dp
    * before the comparison (the winsorize discipline — the last float
    * bits are where engines disagree) and broadcast; the scored corpus
    * never re-shuffles for the banding.
    * Returns (id, srcCol, ppl, band).
    *
    * Cut computation follows the winsorize two-path design: exact
    * `percentile` (the interpolated-percentile twin — its buffer holds
    * each source's distinct ppl values; 2-dp rounding bounds cardinality
    * but the bound is data-range-dependent), `approxCuts = true` for the
    * mergeable `approx_percentile` sketch whose state is O(accuracy) per
    * source regardless of corpus size — the 100 TB path, gated by
    * [[Outliers.cutGate]] on the scored frame (q37's discipline). The
    * sketch path is what q68 REGISTERS, and it is still oracle-exact at
    * verification scales: for group sizes n ≤ accuracy the Greenwald–
    * Khanna merge threshold floor(2n/accuracy) ≤ 2 never permits a
    * compaction, so the summary retains the whole multiset and the query
    * deterministically returns the element at 1-indexed rank
    * ceil(p·n) — a pure function of the multiset any engine can recompute
    * (the DuckDB twin selects that exact rank; measured identical
    * including the float subtlety that 2.0/3 rounds UP in IEEE double, so
    * ceil((2.0/3)·12) = 9, not 8). Beyond the lossless regime the cuts
    * are approximate by contract and q70's cut gate is the check.
    */
  def bands(
      docs: DataFrame, idCol: String, textCol: String, srcCol: String,
      lm: BigramLm, lo: Double = 1.0 / 3, hi: Double = 2.0 / 3,
      approxCuts: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(0 < lo && lo < hi && hi < 1, "need 0 < lo < hi < 1")
    // scored feeds both the cut aggregation and the final join: pin it
    val scored = score(docs, idCol, textCol, lm)
      .join(docs.select(col(idCol), col(srcCol)), Seq(idCol))
      .localCheckpoint()
    def cut(p: Double) =
      if (approxCuts) approx_percentile(col("ppl"), lit(p), lit(accuracy)).cast("double")
      else percentile(col("ppl"), lit(p))
    val cuts = scored.groupBy(col(srcCol)).agg(
      round(cut(lo), 6).as("__lo"),
      round(cut(hi), 6).as("__hi"))
    scored.join(broadcast(cuts), srcCol)
      .select(col(idCol), col(srcCol), col("ppl"),
        when(col("ppl") <= col("__lo"), "head")
          .when(col("ppl") <= col("__hi"), "middle")
          .otherwise("tail").as("band"))
  }

  /** In-query gate for the `approxCuts` scale path of [[bands]]: score
    * the corpus, then per source assert the sketch cuts land inside the
    * exact cuts' quantile window ([[Outliers.cutGate]] — the oracle
    * recomputes the exact spine and asserts the booleans TRUE). ppl's
    * 2-dp rounding means heavy ties; the sketch and exact agree on tied
    * plateaus, so the rank window is the only slack needed.
    */
  def bandCutGate(
      docs: DataFrame, idCol: String, textCol: String, srcCol: String,
      lm: BigramLm, lo: Double = 1.0 / 3, hi: Double = 2.0 / 3,
      window: Double = 0.08, accuracy: Int = 10000): DataFrame = {
    val scored = score(docs, idCol, textCol, lm)
      .join(docs.select(col(idCol), col(srcCol)), Seq(idCol))
    Outliers.cutGate(scored.select(col(srcCol), col("ppl")), srcCol, "ppl",
      lo, hi, window, accuracy)
  }

  /** Score a corpus under a trained model:
    * (id, n_bigrams, cross_entropy, ppl).
    */
  def score(docs: DataFrame, idCol: String, textCol: String, lm: BigramLm): DataFrame =
    bigramsOf(docs, idCol, textCol)
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.unigrams, Seq("w1"), "left")
      .crossJoin(broadcast(lm.vocab))
      .select(col("id"),
        log((coalesce(col("c12"), lit(0)) + 1).cast("double")
          / (coalesce(col("c1"), lit(0)) + col("v"))).as("lnp"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(-sum(col("lnp")) / count(lit(1)), 4).as("cross_entropy"))
      .select(col("id").as(idCol), col("n_bigrams"), col("cross_entropy"),
        round(exp(col("cross_entropy")), 2).as("ppl"))
}
