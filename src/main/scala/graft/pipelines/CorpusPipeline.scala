package graft.pipelines

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Perplexity, QualityClassifier, Repetition, Sampling}
import graft.plans.StringFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data cleaning pipeline, composed from the
  * library's own operators — what a user actually runs over a raw 100 TB
  * crawl before tokenization. ONE stage list, written once; the three
  * registered chains differ only in which stages they include:
  *
  *   - normalize: NFC + control strip, dropping docs that clean to
  *     whitespace (v2, v3) — it must precede every digest or a
  *     decomposed-accent twin silently defeats exact dedup
  *   - lang (langId == keep), quality (token count ≥ minTokens),
  *     repetition (top_word_frac ≤ maxTopWordFrac — Gopher rule)
  *   - the perplexity gate (v1, when `dropPplTail`) or the trained
  *     classifier gate (v3)
  *   - exact dedup (normalized-text survivors, min-id canonical)
  *   - near-dup collapse over ONE minhash pair list (plus the media pairs
  *     when `crossModalDedup`, v2/v3): min-id survivors (`near_dedup`,
  *     v1) or the best member by token count (`canonical`, v2/v3)
  *   - deterministic stratified cap per source
  *   - leak-safe splits keyed by the near-dup component (v2, v3), and the
  *     train split's mixture interleave (v3)
  *
  * Order matters and is deliberate: cheap per-row filters shrink the
  * corpus before the shuffling stages; the sample cap runs after dedup so
  * it caps CLEAN documents, not duplicates. One connected-components pass
  * feeds the canonical picks AND the split key — pairs are mined once,
  * however many consumers.
  */
object CorpusPipeline {

  /** Knobs of the three chains — v1 ([[clean]], [[auditCounts]]: q47),
    * v2 ([[cleanV2]], [[auditCountsV2]]: q47b, q47d) and v3 ([[cleanV3]],
    * [[auditCountsV3]]: q47c). A chain ignores the fields it does not read.
    *
    *   - `keepLang`, `minTokens`, `maxTopWordFrac`, `jaccardThreshold`,
    *     `samplePerSource`: every chain.
    *   - `dropPplTail`, `pplTailQuantile`: v1 only. `dropPplTail` enables
    *     the CCNet perplexity stage between the repetition cut and dedup:
    *     train the q67 bigram LM on the survivors so far (CCNet trains on
    *     trusted text; self-training is the no-external-corpus variant —
    *     boilerplate/gibberish still scores tail because it is unlike the
    *     corpus MAJORITY), band per source at `pplTailQuantile`, drop the
    *     tail. Off by default: the q47 oracle pins the 6-stage chain.
    *   - `clsBuckets`, `clsIters`, `interleaveBp`: v3 only — the trained
    *     classifier gate and the interleave weights.
    *   - `crossModalDedup`, `mediaMaxHamming`, `mediaBucketCap`: v2 and v3.
    */
  final case class Config(
      keepLang: String = "en",
      minTokens: Long = 25,
      maxTopWordFrac: Double = 0.125,
      jaccardThreshold: Double = 0.7,
      samplePerSource: Int = 15,
      dropPplTail: Boolean = false,
      pplTailQuantile: Double = 2.0 / 3,
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
      mediaBucketCap: Int = Multimodal.ProductionBucketCap)

  /** The cleaned corpus: full rows of every surviving document. Stages:
    * lang, quality, repetition, [ppl], exact_dedup, near_dedup, sample.
    */
  def clean(docs: DataFrame, cfg: Config = Config()): DataFrame =
    cleaned(docs, cfg, V1)

  /** Per-stage survivor counts — the audit a pipeline operator watches
    * for stage-level drift. Returns (stage_idx, stage, n_docs) for input,
    * lang, quality, repetition, [ppl], exact_dedup, near_dedup, sample.
    */
  def auditCounts(docs: DataFrame, cfg: Config = Config()): DataFrame =
    audit(docs, cfg, V1)

  /** The v2 cleaned corpus (SURVEY §2 q47b, the r9 decision-stage chain):
    * every capped survivor with its leak-safe `split` and audited
    * `split_key`. Stages: normalize, lang, quality, repetition,
    * exact_dedup, canonical, sample, then the split assignment.
    */
  def cleanV2(docs: DataFrame, cfg: Config = Config()): DataFrame =
    cleaned(docs, cfg, V2)

  /** Per-stage audit for the v2 chain: input, normalize, lang, quality,
    * repetition, exact_dedup, canonical, sample, split_train, split_val,
    * split_test. The three split rows sum to the sample stage's count —
    * the invariant a pipeline monitor alerts on.
    */
  def auditCountsV2(docs: DataFrame, cfg: Config = Config()): DataFrame =
    audit(docs, cfg, V2)

  /** The v3 cleaned corpus (SURVEY §2 q47c, the FULL production chain):
    * every capped survivor with its leak-safe `split`/`split_key`, plus
    * the mixture-interleave training `ordinal` for train-split docs (null
    * for val/test) — the frame a training job actually consumes (filter
    * split, order by ordinal, feed the shard exporter). Stages: normalize,
    * lang, quality, repetition, classifier, exact_dedup, canonical,
    * sample, then the split assignment and the interleave.
    *
    * Output columns are `(doc_id, text, source)` plus `split`,
    * `split_key` and `ordinal`; any other input column is dropped,
    * because the v3 repetition stage is always materialized and its
    * checkpoint keeps only those three input columns.
    */
  def cleanV3(docs: DataFrame, cfg: Config = Config()): DataFrame =
    cleaned(docs, cfg, V3)

  /** Per-stage audit for the full v3 chain: input, normalize, lang,
    * quality, repetition, classifier, exact_dedup, canonical, sample,
    * split_train, split_val, split_test, interleave_train_xor.
    *
    * The classifier gate (q114): rule weak-labels on the rule-stage
    * survivors, pocket perceptron trained on the even-id half IN the
    * pipeline, every survivor scored, pred-true kept — the FineWeb-Edu
    * shape with the annotation rule inlined. The last row pins the train
    * split's exact training ORDER (q115), not just its membership: its
    * `n_docs` holds bit_xor(idHash(doc)·(ordinal+1)) over the train split
    * (0 when empty) — order-insensitive to compute, yet any single
    * mis-ordered doc flips it; the DuckDB twin recomputes it from the same
    * stride formula.
    */
  def auditCountsV3(docs: DataFrame, cfg: Config = Config()): DataFrame =
    audit(docs, cfg, V3)

  /** Which stages a chain includes (see the object doc). */
  private sealed trait Version
  private case object V1 extends Version
  private case object V2 extends Version
  private case object V3 extends Version

  /** One built chain: the named stage frames, each the survivors of the
    * previous stage; the sample stage; the split assignment (v2/v3) and
    * the train split's interleave order (v3).
    */
  private final case class Chain(
      stages: Seq[(String, DataFrame)], sample: DataFrame,
      splits: Option[DataFrame], order: Option[DataFrame])

  /** Audit-path materialization. Heavier stages are localCheckpoint'd so
    * the audit's per-stage counts don't re-run the minhash pipeline once
    * per count; the clean surfaces build the chain with checkpoint =
    * false and compute one chain with no extra materialization, full
    * rows. The stage frames only feed COUNT rows and the slim downstream
    * keys, so the checkpoint stores the narrow projection the consumers
    * actually read instead of every input column (r20, guide §2.3) —
    * counts are unchanged by a projection.
    *
    * Narrow-only, deliberately NOT spread: the audit chain is ~60 small
    * sequential jobs, and a pinned wide repartition here gives every one
    * of them a 32-task train (AQE never coalesces REPARTITION_BY_NUM) —
    * measured +3 s on q47d. The heavy kernels that consume these stages
    * (minhash, media decode, classifier featurize) carry their own Spread
    * guards at their operator heads.
    */
  private def ckpt(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*).localCheckpoint()

  private def chain(docs: DataFrame, cfg: Config, v: Version, checkpoint: Boolean): Chain = {
    def ck(df: DataFrame, cols: String*) = if (checkpoint) ckpt(df, cols: _*) else df
    // normalize keeps docs with "any non-whitespace char" — equivalent to
    // the old length(trim(text, " \t\n\r")) > 0, without the two-param
    // TRIM signature Spark 4 deprecation-warns on every plan (bench-tail noise)
    val normalize =
      if (v == V1) Nil
      else Seq("normalize" -> docs.withColumn("text", StringFunctions.nfcClean(col("text")))
        .filter(col("text").rlike("[^ \t\n\r]")))
    val s1 = normalize.lastOption.fold(docs)(_._2)
      .filter(TextFunctions.langId(col("text")) === cfg.keepLang)
    val s2 = s1.filter(TextFunctions.tokenCount(col("text")) >= cfg.minTokens)
    val passRep = Repetition.signals(s2, "doc_id", "text")
      .filter(col("top_word_frac") <= cfg.maxTopWordFrac)
      .select("doc_id")
    val s3raw = s2.join(passRep, Seq("doc_id"), "left_semi")
    // checkpoint the last cheap-filter stage too: without it the audit's
    // later counts each recompute the repetition aggregation. v3 ALWAYS
    // materializes it: the classifier iterates over its survivors
    val s3 = if (checkpoint || v == V3) ckpt(s3raw, "doc_id", "text", "source") else s3raw
    val gate: Seq[(String, DataFrame)] =
      if (v == V1 && cfg.dropPplTail) {
        // only the hi cut decides tail-or-not; pass a lo strictly below
        // it so any pplTailQuantile in (0, 1) is valid
        val keepPpl = Perplexity.bands(
          s3, "doc_id", "text", "source", Perplexity.train(s3, "doc_id", "text"),
          lo = cfg.pplTailQuantile / 2, hi = cfg.pplTailQuantile)
          .filter(col("band") =!= "tail").select("doc_id")
        Seq("ppl" -> s3.join(keepPpl, Seq("doc_id"), "left_semi"))
      } else if (v == V3) {
        val feats = QualityClassifier.featurize(
          s3, QualityClassifier.ruleWeakLabel(col("text")),
          pmod(col("doc_id").cast("long"), lit(2)) === 0,
          buckets = cfg.clsBuckets).localCheckpoint()
        val w = QualityClassifier.train(feats, cfg.clsBuckets, cfg.clsIters)
        val keepCls = QualityClassifier.scoreWith(feats, w)
          .filter(col("pred")).select("doc_id")
        Seq("classifier" ->
          ck(s3.join(keepCls, Seq("doc_id"), "left_semi"), "doc_id", "text", "source"))
      } else Nil
    val s4 = ck(Dedup.exactSurvivors(gate.lastOption.fold(s3)(_._2), "doc_id", "text"),
      "doc_id", "text", "source")
    val textPairs = Dedup.minHashPairs(s4, "doc_id", "text", threshold = cfg.jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    // q121 in the chain: the edge list is the UNION of the modalities'
    // verified pairs, so one components pass makes one keep decision per
    // doc across all of them (each pair table is near-dup-output-sized).
    // One decode pass for all three media hashes (the r11 shared scan),
    // checkpointed, then ONE tagged band/count/join pass over all three
    // modalities (hammingPairs56Tagged, r19) instead of three pipelines
    val pairs =
      if (v == V1 || !cfg.crossModalDedup) textPairs
      else textPairs.unionByName(Multimodal.hammingPairs56Tagged(
          Multimodal.mediaFingerprints(s4).localCheckpoint(),
          Seq("ph_image" -> "image", "ph_audio" -> "audio", "ph_video" -> "video"),
          cfg.mediaMaxHamming, cfg.mediaBucketCap)
        .select(col("id_a"), col("id_b")))
    val (s5raw, comp) =
      if (v == V1) (Dedup.nearDupSurvivors(s4, "doc_id", pairs), None)
      else {
        // one clustering pass, three consumers (canonical, split key, audit)
        val compRaw = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val comp = if (checkpoint) compRaw.localCheckpoint() else compRaw
        val keepIds = Dedup.canonicalPicksFrom(s4, "doc_id", "text", comp)
          .filter(col("keep")).select(col("doc_id"))
        val unclustered = s4.select(col("doc_id").cast("long").as("doc_id"))
          .join(comp.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        (s4.join(unclustered.union(keepIds).withColumnRenamed("doc_id", "__keep"),
          s4("doc_id").cast("long") === col("__keep"), "left_semi"), Some(comp))
      }
    // the audit tail reads only (doc_id, source) from the near-dup stage,
    // and from the sample stage where the splits re-read it
    val s5 = ck(s5raw, "doc_id", "source")
    val keep = Sampling.stratifiedN(
      s5.select(col("doc_id"), col("source")), "source", "doc_id", cfg.samplePerSource)
      .select("doc_id")
    val s6raw = s5.join(keep, Seq("doc_id"), "left_semi")
    val s6 = if (v == V1) s6raw else ck(s6raw, "doc_id", "source")
    val splits = comp.map { c =>
      val sp = Dedup.leakageSafeSplitsFrom(s6, "doc_id", c)
      if (checkpoint) sp.localCheckpoint() else sp
    }
    val order = if (v != V3) None else splits.map { sp =>
      val trainDocs = s6.join(
        sp.filter(col("split") === "train").select(col("doc_id").cast("long").as("__tid")),
        s6("doc_id").cast("long") === col("__tid"), "left_semi")
        .select(col("doc_id"), col("source"))
      Sampling.mixtureInterleave(trainDocs, "source", "doc_id", cfg.interleaveBp)
    }
    val nearDup = if (v == V1) "near_dedup" else "canonical"
    Chain(
      normalize ++ Seq("lang" -> s1, "quality" -> s2, "repetition" -> s3) ++ gate ++
        Seq("exact_dedup" -> s4, nearDup -> s5, "sample" -> s6) ++
        splits.toSeq.flatMap(sp =>
          Seq("train", "val", "test").map(l => s"split_$l" -> sp.filter(col("split") === l))),
      s6, splits, order)
  }

  /** The sample stage's full rows, joined (v2/v3) to their split
    * assignment and (v3) left-joined to the train split's ordinal.
    */
  private def cleaned(docs: DataFrame, cfg: Config, v: Version): DataFrame = {
    val c = chain(docs, cfg, v, checkpoint = false)
    c.splits.fold(c.sample) { sp =>
      val split = c.sample.join(
        sp.select(col("doc_id").cast("long").as("__sid"), col("split_key"), col("split")),
        c.sample("doc_id").cast("long") === col("__sid")).drop("__sid")
      c.order.fold(split)(ord => split.join(
        ord.select(col("doc_id").cast("long").as("__oid"), col("ordinal")),
        col("doc_id").cast("long") === col("__oid"), "left").drop("__oid"))
    }
  }

  /** One (stage_idx, stage, n_docs) row per stage, input first, and the
    * v3 interleave-checksum row last.
    */
  private def audit(docs: DataFrame, cfg: Config, v: Version): DataFrame = {
    val c = chain(docs, cfg, v, checkpoint = true)
    val counts = (("input" -> docs) +: c.stages).map { case (name, df) =>
      name -> df.agg(count(lit(1)).as("n_docs"))
    }
    val checksum = c.order.toSeq.map(ord => "interleave_train_xor" ->
      ord.select((Sampling.idHash(col("doc_id")) * (col("ordinal") + 1)).as("x"))
        .agg(coalesce(expr("bit_xor(x)"), lit(0L)).as("n_docs")))
    (counts ++ checksum).zipWithIndex.map { case ((name, n), i) =>
      n.select(lit(i).cast("int").as("stage_idx"), lit(name).as("stage"), col("n_docs"))
    }.reduce(_ unionAll _)
  }
}
