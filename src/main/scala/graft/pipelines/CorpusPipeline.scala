package graft.pipelines

import graft.functions.TextFunctions
import graft.operators.{Dedup, Repetition, Sampling, Spread}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data cleaning pipeline, composed from the
  * library's own operators — what a user actually runs over a raw 100 TB
  * crawl before tokenization:
  *
  *   1. language filter (langId == keep)
  *   2. quality floor (token count ≥ minTokens)
  *   3. repetition cut (top_word_frac ≤ maxTopWordFrac — Gopher rule)
  *   4. exact dedup (normalized-text survivors, min-id canonical)
  *   5. near-dup collapse (MinHash pairs → connected components →
  *      min-id survivor per cluster)
  *   6. deterministic stratified cap per source
  *
  * Order matters and is deliberate: cheap per-row filters (1–3) shrink
  * the corpus before the shuffling stages (4–5); the sample cap (6) runs
  * last so it caps CLEAN documents, not duplicates.
  */
object CorpusPipeline {

  /** `dropPplTail` enables the CCNet perplexity stage between the
    * repetition cut and dedup: train the q67 bigram LM on the survivors
    * so far (CCNet trains on trusted text; self-training is the
    * no-external-corpus variant — boilerplate/gibberish still scores
    * tail because it is unlike the corpus MAJORITY), band per source at
    * `pplTailQuantile`, drop the tail. Off by default: the q47 oracle
    * pins the 6-stage chain.
    */
  final case class Config(
      keepLang: String = "en",
      minTokens: Long = 25,
      maxTopWordFrac: Double = 0.125,
      jaccardThreshold: Double = 0.7,
      samplePerSource: Int = 15,
      dropPplTail: Boolean = false,
      pplTailQuantile: Double = 2.0 / 3,
      // v3 knobs: the trained classifier gate and the interleave weights
      clsBuckets: Int = 1024,
      clsIters: Int = 10,
      interleaveBp: Seq[(String, Int)] =
        (0 until 20).map(i => ("src" + i, if (i < 4) 1000 else 375)),
      // cross-modal dedup (r10 verdict #7): when on, the near-dup
      // clustering stage unions the three media fingerprint pair tables
      // (q117/q119/q120) with the text minhash pairs, so canonical picks
      // AND the leak-safe split key see ONE component per document across
      // every modality — a doc whose text was rewritten but whose media
      // is a near-copy clusters (and drops) where text-only dedup keeps it
      crossModalDedup: Boolean = false,
      mediaMaxHamming: Int = 4,
      // hot-bucket guard for the three media pair joins (r11 verdict #1):
      // lossless by construction (chunking only re-keys the same candidate
      // set), so it defaults ON at the documented production sizing — a
      // placeholder logo re-encoded across millions of pages must not
      // become one O(class²) task. 0 disarms.
      mediaBucketCap: Int = graft.operators.Multimodal.ProductionBucketCap)

  /** Stage DataFrames, each the survivors of the previous stage. `docs`
    * must carry (doc_id, text, source). Heavier stages are
    * localCheckpoint'd so [[auditCounts]]' six aggregations don't re-run
    * the minhash pipeline once per count (an audit-path tradeoff: the
    * checkpoint materializes survivor rows; [[clean]] at production scale
    * computes one chain with no extra materialization).
    */
  /** Audit-path materialization (r20): the stage frames only feed COUNT
    * rows and the slim downstream keys, so the checkpoint stores the
    * narrow projection the consumers actually read instead of every
    * input column (guide §2.3 — shuffle/materialize fewer bytes), and
    * spreads a one-task frame first so the checkpoint write and every
    * consumer read run at full parallelism (§2.5). Counts are unchanged
    * by a projection; the clean/cleanV2/cleanV3 surfaces use
    * checkpoint = false and keep full rows.
    */
  private def ckpt(df: DataFrame, cols: String*): DataFrame =
    // narrow-only, deliberately NOT spread: the audit chain is ~60 small
    // sequential jobs, and a pinned wide repartition here gives every one
    // of them a 32-task train (AQE never coalesces REPARTITION_BY_NUM) —
    // measured +3 s on q47d. The heavy kernels that consume these stages
    // (minhash, media decode, classifier featurize) carry their own
    // Spread guards at their operator heads.
    df.select(cols.map(col): _*).localCheckpoint()

  private def stages(docs: DataFrame, cfg: Config, checkpoint: Boolean): Seq[(String, DataFrame)] = {
    val s1 = docs.filter(TextFunctions.langId(col("text")) === cfg.keepLang)
    val s2 = s1.filter(TextFunctions.tokenCount(col("text")) >= cfg.minTokens)
    val passRep = Repetition.signals(s2, "doc_id", "text")
      .filter(col("top_word_frac") <= cfg.maxTopWordFrac)
      .select("doc_id")
    val s3raw = s2.join(passRep, Seq("doc_id"), "left_semi")
    // checkpoint the last cheap-filter stage too: without it the audit's
    // stage-4..6 counts each recompute the repetition aggregation
    val s3 = if (checkpoint) ckpt(s3raw, "doc_id", "text", "source") else s3raw
    val ppl: Seq[(String, DataFrame)] =
      if (!cfg.dropPplTail) Seq.empty
      else {
        // only the hi cut decides tail-or-not; pass a lo strictly below
        // it so any pplTailQuantile in (0, 1) is valid
        val keepPpl = graft.operators.Perplexity.bands(
          s3, "doc_id", "text", "source",
          graft.operators.Perplexity.train(s3, "doc_id", "text"),
          lo = cfg.pplTailQuantile / 2, hi = cfg.pplTailQuantile)
          .filter(col("band") =!= "tail").select("doc_id")
        Seq("ppl" -> s3.join(keepPpl, Seq("doc_id"), "left_semi"))
      }
    val pplIn = ppl.lastOption.map(_._2).getOrElse(s3)
    val s4raw = Dedup.exactSurvivors(pplIn, "doc_id", "text")
    val s4 = if (checkpoint) ckpt(s4raw, "doc_id", "text", "source") else s4raw
    val pairs = Dedup.minHashPairs(s4, "doc_id", "text", threshold = cfg.jaccardThreshold)
    val s5raw = Dedup.nearDupSurvivors(s4, "doc_id", pairs)
    // the audit tail reads only (doc_id, source) from the near-dup stage
    val s5 = if (checkpoint) ckpt(s5raw, "doc_id", "source") else s5raw
    val keep = Sampling.stratifiedN(
      s5.select(col("doc_id"), col("source")), "source", "doc_id", cfg.samplePerSource)
      .select("doc_id")
    val s6 = s5.join(keep, Seq("doc_id"), "left_semi")
    Seq("lang" -> s1, "quality" -> s2, "repetition" -> s3) ++ ppl ++
      Seq("exact_dedup" -> s4, "near_dedup" -> s5, "sample" -> s6)
  }

  /** The cleaned corpus: full rows of every surviving document. */
  def clean(docs: DataFrame, cfg: Config = Config()): DataFrame =
    stages(docs, cfg, checkpoint = false).last._2

  /** Per-stage survivor counts — the audit a pipeline operator watches
    * for stage-level drift. Returns (stage_idx, stage, n_docs).
    */
  def auditCounts(docs: DataFrame, cfg: Config = Config()): DataFrame =
    audit(docs, stages(docs, cfg, checkpoint = true))

  private def audit(docs: DataFrame, st: Seq[(String, DataFrame)]): DataFrame = {
    val all = ("input" -> docs) +: st
    all.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(
          lit(i).cast("int").as("stage_idx"),
          lit(name).as("stage"),
          col("n_docs"))
    }.reduce(_ unionAll _)
  }

  /** The r9 DECISION-STAGE chain (SURVEY §2 q47b) — [[stages]] extended
    * with the library's newer curation operators, in the order a
    * production pass runs them:
    *
    *   1. NFC normalization + control strip FIRST (q109), dropping docs
    *      that clean to whitespace — normalization must precede every
    *      digest or a decomposed-accent twin silently defeats exact dedup
    *   2.–4. the v1 per-row filters (lang, quality floor, repetition)
    *   5. exact dedup over the NORMALIZED text
    *   6. near-dup collapse via canonical picks (q104): keep each
    *      cluster's best member by token count, not blindly the min id
    *   7. deterministic stratified cap per source
    *   8. leakage-safe split (q106): capped survivors split by their
    *      near-dup COMPONENT key, so a near-duplicate of a test doc can
    *      never land in train; audited as three per-split count rows
    *
    * One minhash → connected-components pass feeds stages 6 AND 8 (the
    * `...From` variants) — pairs are mined once, however many consumers.
    */
  /** The shared per-row front of the v2/v3 chains: normalize → lang →
    * quality → repetition. One definition — a fix here reaches BOTH
    * registered queries (their oracles share the same CTE block).
    */
  private def prelude(
      docs: DataFrame, cfg: Config,
      checkpointRepetition: Boolean): Seq[(String, DataFrame)] = {
    val normed = docs.withColumn(
      "text", graft.plans.StringFunctions.nfcClean(col("text")))
    // "has any non-whitespace char" — equivalent to the old
    // length(trim(text, " \t\n\r")) > 0, without the two-param TRIM
    // signature Spark 4 deprecation-warns on every plan (bench-tail noise)
    val s0 = normed.filter(col("text").rlike("[^ \t\n\r]"))
    val s1 = s0.filter(TextFunctions.langId(col("text")) === cfg.keepLang)
    val s2 = s1.filter(TextFunctions.tokenCount(col("text")) >= cfg.minTokens)
    val passRep = Repetition.signals(s2, "doc_id", "text")
      .filter(col("top_word_frac") <= cfg.maxTopWordFrac)
      .select("doc_id")
    val s3raw = s2.join(passRep, Seq("doc_id"), "left_semi")
    val s3 =
      if (checkpointRepetition) ckpt(s3raw, "doc_id", "text", "source")
      else s3raw
    Seq("normalize" -> s0, "lang" -> s1, "quality" -> s2, "repetition" -> s3)
  }

  /** The shared back of the v2/v3 chains over an input corpus: exact
    * dedup → ONE minhash/components pass → canonical picks → stratified
    * cap → leak-safe splits. Also hands back the sample and split frames
    * for consumers beyond the audit (v3's interleave).
    */
  private final case class DedupSplitTail(
      stages: Seq[(String, DataFrame)], sample: DataFrame, splits: DataFrame)

  private def dedupSplitTail(
      input: DataFrame, cfg: Config, checkpoint: Boolean): DedupSplitTail = {
    val s4raw = Dedup.exactSurvivors(input, "doc_id", "text")
    val s4 = if (checkpoint) ckpt(s4raw, "doc_id", "text", "source") else s4raw
    val textPairs = Dedup.minHashPairs(
      s4, "doc_id", "text", threshold = cfg.jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    // q121 in the chain: the edge list is the UNION of the modalities'
    // verified pairs, so one components pass makes one keep decision per
    // doc across all of them (each pair table is near-dup-output-sized)
    val pairs =
      if (!cfg.crossModalDedup) textPairs
      else {
        import graft.operators.Multimodal
        // one decode pass for all three media hashes (Multimodal
        // .mediaFingerprints — the r11 shared scan), checkpointed, then
        // ONE tagged band/count/join pass over all three modalities
        // (hammingPairs56Tagged, r19) instead of three pipelines
        val fp = Multimodal.mediaFingerprints(s4).localCheckpoint()
        textPairs
          .unionByName(Multimodal.hammingPairs56Tagged(fp,
              Seq("ph_image" -> "image", "ph_audio" -> "audio",
                "ph_video" -> "video"),
              cfg.mediaMaxHamming, cfg.mediaBucketCap)
            .select(col("id_a"), col("id_b")))
      }
    // one clustering pass, three consumers (canonical, split key, audit)
    val compRaw = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val comp = if (checkpoint) compRaw.localCheckpoint() else compRaw
    val keepIds = Dedup.canonicalPicksFrom(s4, "doc_id", "text", comp)
      .filter(col("keep")).select(col("doc_id"))
    val unclustered = s4.select(col("doc_id").cast("long").as("doc_id"))
      .join(comp.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val s5raw = s4.join(
      unclustered.union(keepIds).withColumnRenamed("doc_id", "__keep"),
      s4("doc_id").cast("long") === col("__keep"), "left_semi")
    // the audit tail reads only (doc_id, source) from these two stages
    val s5 = if (checkpoint) ckpt(s5raw, "doc_id", "source") else s5raw
    val keep = Sampling.stratifiedN(
      s5.select(col("doc_id"), col("source")), "source", "doc_id", cfg.samplePerSource)
      .select("doc_id")
    val s6raw = s5.join(keep, Seq("doc_id"), "left_semi")
    val s6 = if (checkpoint) ckpt(s6raw, "doc_id", "source") else s6raw
    val splits = Dedup.leakageSafeSplitsFrom(s6, "doc_id", comp)
    val sp = if (checkpoint) splits.localCheckpoint() else splits
    DedupSplitTail(
      Seq("exact_dedup" -> s4, "canonical" -> s5, "sample" -> s6) ++
        Seq("train", "val", "test").map(l =>
          s"split_$l" -> sp.filter(col("split") === l)),
      sample = s6, splits = sp)
  }

  private def stagesV2(docs: DataFrame, cfg: Config, checkpoint: Boolean): Seq[(String, DataFrame)] = {
    val front = prelude(docs, cfg, checkpointRepetition = checkpoint)
    front ++ dedupSplitTail(front.last._2, cfg, checkpoint).stages
  }

  /** The v2 cleaned corpus: every capped survivor with its leak-safe
    * `split` and audited `split_key`.
    */
  def cleanV2(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val st = stagesV2(docs, cfg, checkpoint = false).toMap
    val assigned = Seq("train", "val", "test")
      .map(l => st(s"split_$l")).reduce(_ unionAll _)
      .select(col("doc_id").cast("long").as("__sid"),
        col("split_key"), col("split"))
    st("sample").join(
      assigned, st("sample")("doc_id").cast("long") === col("__sid"))
      .drop("__sid")
  }

  /** Per-stage audit for the v2 chain. The three split rows sum to the
    * sample stage's count — the invariant a pipeline monitor alerts on.
    */
  def auditCountsV2(docs: DataFrame, cfg: Config = Config()): DataFrame =
    audit(docs, stagesV2(docs, cfg, checkpoint = true))

  /** The FULL production chain (SURVEY §2 q47c) — [[stagesV2]] plus the
    * library's two learned/ordering stages, closing the recipe:
    *
    *   5. TRAINED classifier gate (q114): rule weak-labels on the
    *      rule-stage survivors, pocket perceptron trained on the even-id
    *      half IN the pipeline, every survivor scored, pred-true kept —
    *      the FineWeb-Edu shape with the annotation rule inlined
    *   9.–11. leak-safe splits (as v2)
    *   12. mixture-INTERLEAVE the train split (q115) and emit its exact
    *       (doc, ordinal) assignment as ONE bit_xor checksum row — the
    *       training ORDER is part of the recipe, so the audit pins it,
    *       not just the membership counts
    *
    * The checksum row's `n_docs` holds bit_xor(idHash(doc)·(ordinal+1))
    * over the train split (0 when empty) — order-insensitive to compute,
    * yet any single mis-ordered doc flips it; the DuckDB twin recomputes
    * it from the same stride formula.
    */
  private def stagesV3(
      docs: DataFrame, cfg: Config,
      checkpoint: Boolean): (Seq[(String, DataFrame)], DataFrame) = {
    import graft.operators.QualityClassifier
    // prelude repetition stage is ALWAYS materialized: the classifier
    // iterates over its survivors
    val front = prelude(docs, cfg, checkpointRepetition = true)
    val s3 = front.last._2
    val feats = QualityClassifier.featurize(
      s3, QualityClassifier.ruleWeakLabel(col("text")),
      pmod(col("doc_id").cast("long"), lit(2)) === 0,
      buckets = cfg.clsBuckets).localCheckpoint()
    val w = QualityClassifier.train(feats, cfg.clsBuckets, cfg.clsIters)
    val keepCls = QualityClassifier.scoreWith(feats, w)
      .filter(col("pred")).select("doc_id")
    val s4raw = s3.join(keepCls, Seq("doc_id"), "left_semi")
    val s4 = if (checkpoint) ckpt(s4raw, "doc_id", "text", "source") else s4raw
    val tail = dedupSplitTail(s4, cfg, checkpoint)
    val trainDocs = tail.sample.join(
      tail.splits.filter(col("split") === "train")
        .select(col("doc_id").cast("long").as("__tid")),
      tail.sample("doc_id").cast("long") === col("__tid"), "left_semi")
      .select(col("doc_id"), col("source"))
    val ord = Sampling.mixtureInterleave(
      trainDocs, "source", "doc_id", cfg.interleaveBp)
    (front ++ (("classifier" -> s4) +: tail.stages), ord)
  }

  /** The v3 cleaned corpus: every capped survivor with its leak-safe
    * `split`/`split_key`, plus the mixture-interleave training `ordinal`
    * for train-split docs (null for val/test) — the frame a training job
    * actually consumes (filter split, order by ordinal, feed the shard
    * exporter).
    *
    * Output columns are `(doc_id, text, source)` plus `split`,
    * `split_key` and `ordinal`; any other input column is dropped,
    * because the v3 repetition stage is always materialized and its
    * checkpoint keeps only those three input columns.
    */
  def cleanV3(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val (st, ord) = stagesV3(docs, cfg, checkpoint = false)
    val m = st.toMap
    val assigned = Seq("train", "val", "test")
      .map(l => m(s"split_$l")).reduce(_ unionAll _)
      .select(col("doc_id").cast("long").as("__sid"),
        col("split_key"), col("split"))
    m("sample")
      .join(assigned, m("sample")("doc_id").cast("long") === col("__sid"))
      .drop("__sid")
      .join(
        ord.select(col("doc_id").cast("long").as("__oid"), col("ordinal")),
        col("doc_id").cast("long") === col("__oid"), "left")
      .drop("__oid")
  }

  /** Per-stage audit for the full v3 chain: the v2 rows plus ONE
    * interleave-checksum row pinning the train split's exact training
    * order (see [[stagesV3]]).
    */
  def auditCountsV3(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val (st, ord) = stagesV3(docs, cfg, checkpoint = true)
    val checksum = ord.select(
      (Sampling.idHash(col("doc_id")) * (col("ordinal") + 1)).as("x"))
      .agg(coalesce(expr("bit_xor(x)"), lit(0L)).as("n_docs"))
      .select(
        lit(st.size + 1).cast("int").as("stage_idx"),
        lit("interleave_train_xor").as("stage"),
        col("n_docs"))
    audit(docs, st).unionAll(checksum)
  }
}
