package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-SPAN statistics — exact-substring dedup's measurement side
  * (the Lee et al. 2021 / RefinedWeb discipline, re-expressed
  * relationally): a token position is *duplicated* when at least one
  * corpus-wide repeated `minLen`-gram covers it. Unlike document-level
  * dedup (q20–q24), this catches boilerplate REGIONS inside otherwise
  * unique documents — headers, navigation chrome, license blocks — the
  * spans a suffix-array pipeline would excise before training.
  *
  * Per document: token count, number of positions covered by a repeated
  * gram, and the covered fraction (the filter variable: drop or trim docs
  * above a threshold).
  *
  * Shape, built for 100 TB:
  *   1. each doc explodes to (doc_id, pos, xxhash64(gram)) — 24-byte rows;
  *      gram TEXT never leaves the scan projection;
  *   2. repeated grams come from one count-only aggregation on the hash
  *      (16-byte shuffle rows, map-side partial);
  *   3. coverage explodes ONLY matched gram starts ×minLen positions —
  *      on a mostly-unique corpus the match set is a sliver of the gram
  *      stream — then distinct-counts per doc (id+int rows);
  *   4. per-doc sizes come from the scan, joined at the end.
  * Occurrences are counted globally (a gram repeated twice WITHIN one doc
  * is duplication too — self-repetition is exactly what boilerplate is).
  * No array ever rides a shuffle; cost is linear in corpus size plus the
  * duplicated-gram volume.
  */
object SpanDedup {

  def spanStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8): DataFrame = {
    // null text has no tokens to cover — drop, like the other explode
    // operators (q40 wrap, q73 chunking), instead of emitting a null-size row.
    // The gram explode/hash runs in the scan stage; spread a narrow input
    // first (opt guide §2.5 — no-op on multi-file production scans)
    val toks = Spread.ifNarrow(
      docs.filter(col(textCol).isNotNull).select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    // long, not int: the oracle's len() is BIGINT and the driver compares
    // schemas after sorting columns by name
    val sizes = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))

    // (doc_id, p, gramhash) for every gram start p; docs shorter than
    // minLen contribute nothing (sequence upper bound < 0 → filtered).
    // gramStream localCheckpoints: the stream feeds BOTH the repeated-gram
    // count and the coverage join — without materialization each consumer
    // re-reads and re-hashes the corpus (r7: 3 source scans, re-measure
    // with graft.Profile's fileScans; the q63/q65 shared-subplan
    // discipline). A windowed count over gh would
    // be one pass but skew-fragile: boilerplate grams — the operator's
    // whole point — would pile one window partition, where groupBy gets
    // map-side partials and the join gets AQE skew splitting.
    val grams = gramStream(toks, minLen)

    val repeated = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gh")

    val covered = grams.join(repeated, Seq("gh"))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (minLen - 1))).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_positions"))

    sizes.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        round(coalesce(col("dup_positions"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("dup_fraction"))
  }

  /** Variable-length MAXIMAL duplicated spans (q111) — the step from
    * fixed-gram coverage (q71) to Lee et al. 2021's actual ExactSubstr
    * contract: what gets removed is a maximal duplicated REGION above a
    * minimum token length (~50 in the paper), not each 8-gram
    * independently. A position is covered when a corpus-wide repeated
    * `minLen`-gram covers it (q71's definition — overlapping repeated
    * grams chain, so a duplicated region of any length ≥ minLen is
    * covered end to end); adjacent covered positions then COALESCE into
    * maximal spans by the gaps-and-islands rule (`pos − row_number()`
    * constant within a run), and only spans of at least `minSpanTokens`
    * survive. Returns one row per kept span: (doc_id, span_start,
    * span_len) — the doc/offset table a trimming pass consumes, and the
    * audit table that distinguishes a 40-token license block from
    * scattered 8-gram noise.
    *
    * Scale shape: everything up to the covered set is q71 (24-byte gram
    * rows, count-only repeated-gram agg, match-only coverage explode);
    * the islands window partitions PER DOC, so its task size is bounded
    * by document length, never corpus size, and the span aggregation
    * reuses the same doc-keyed partitioning. minLen is the detector
    * resolution (a duplicated region shorter than minLen is invisible —
    * by design), minSpanTokens the keep threshold.
    */
  def maximalSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8, minSpanTokens: Int = 16): DataFrame = {
    require(minSpanTokens >= minLen,
      "a span shorter than minLen cannot be observed — raise minSpanTokens")
    val toks = Spread.ifNarrow(
      docs.filter(col(textCol).isNotNull).select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    val grams = gramStream(toks, minLen)
    val repeated = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gh")
    val cov = grams.join(repeated, Seq("gh"))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (minLen - 1))).as("pos"))
      .distinct()
    islanded(cov)
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        count(lit(1)).as("span_len"))
      .filter(col("span_len") >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** Gaps-and-islands labeling of a (doc_id, pos) set: `pos − row_number`
    * is constant exactly along a run of adjacent positions. Per-doc
    * window — task size bounded by document length.
    */
  private def islanded(cov: DataFrame): DataFrame =
    cov.withColumn("__isl",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))

  /** The shared (doc_id, p, xxhash64(gram)) stream of q71/q78/q111,
    * materialized once per operator call (multiple consumers would
    * otherwise each re-read and re-hash the corpus — the recomputation
    * trap graft.Profile's fileScans count exposes).
    */
  private def gramStream(toks: DataFrame, minLen: Int): DataFrame =
    toks
      .filter(size(col("toks")) >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - minLen)).as("p"),
        col("toks"))
      .select(col("doc_id"), col("p"),
        xxhash64(array_join(slice(col("toks"), col("p") + 1, lit(minLen)), " ")).as("gh"))
      .localCheckpoint()

  /** The TRANSFORM [[spanStats]] measures (q78): drop every token position
    * covered only by NON-canonical occurrences of repeated grams, keeping
    * the gram's first occurrence (min (doc_id, position)) as the one
    * surviving copy — Lee et al.'s "keep one copy of each duplicated
    * span", token-granular and relational. An exact duplicate pair keeps
    * doc A intact and empties doc B; boilerplate shared across docs
    * survives only where it first appears.
    *
    * Shape: the q71 gram stream plus (1) ONE aggregation per gram hash
    * yielding both the repeat count AND the canonical occurrence
    * (`min(struct(doc, pos))` — an aggregate with map-side partials, NOT a
    * `row_number` window: a boilerplate gram with 10M occurrences piles a
    * window's whole partition into one task, while the agg reduces it to
    * one partial per input partition); (2) drop = repeated-coverage ANTI
    * JOIN canonical-coverage on (doc, pos) int pairs; (3) per doc, the
    * drop POSITIONS collect to an int list and the text filters IN PLACE
    * (`zip_with` over the token array by index) — document text never
    * rides any shuffle; only hashes, ids, and positions move. Returns
    * (doc_id, n_tokens, n_dropped, text_clean).
    *
    * `minSpanTokens` (q112; 0 = off, q78's behavior) drives the removal
    * off MAXIMAL spans instead of raw positions — the actual ExactSubstr
    * contract: the candidate drop positions coalesce into maximal runs
    * per doc ([[maximalSpans]]'s islands rule) and only runs of at least
    * `minSpanTokens` are dropped. A long boilerplate region's
    * non-canonical occurrences get trimmed; a short incidental 8-gram
    * repeat stays — trimming scattered single grams mid-sentence mangles
    * text a training pipeline wanted readable, which is exactly why the
    * paper thresholds at ~50 tokens.
    */
  def removeSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 8, minSpanTokens: Int = 0): DataFrame = {
    val toks = Spread.ifNarrow(
      docs.filter(col(textCol).isNotNull).select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"),
        split(col(textCol), " ").as("toks"))

    // same shared-subplan materialization as spanStats (three consumers
    // here: repeated-count, canonical window, coverage)
    val grams = gramStream(toks, minLen)

    // One aggregation: repeat count + canonical (min (doc, pos)) per gram.
    // The lexicographic min is over doc_id·2^24 + p packed into ONE long —
    // `min(struct(...))` would be the obvious spelling, but struct
    // aggregation buffers force a SortAggregate fallback (r7 plan sweep;
    // graft.Profile's sortAggs re-checks it); a long min stays in
    // codegen'd HashAggregate. Contract:
    // p < 2^24 tokens per doc and doc_id < 2^39 (5·10^11 — row-count ids,
    // not hash ids; hash-keyed corpora should dense-rank first).
    val packShift = 1L << 24
    val cano = grams.groupBy("gh")
      .agg(count(lit(1)).as("c"),
        min(col("doc_id") * packShift + col("p")).as("ck"))
      .filter(col("c") >= 2)

    def coverage(df: DataFrame) = df
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (minLen - 1))).as("pos"))
      .distinct()
    val keepCov = coverage(
      cano.select(expr(s"ck div ${packShift}L").as("doc_id"),
        pmod(col("ck"), lit(packShift)).as("p")))
    val allCov = coverage(grams.join(cano.select("gh"), Seq("gh"), "left_semi"))
    val rawDrop = allCov.join(keepCov, Seq("doc_id", "pos"), "left_anti")

    // q112: coalesce candidate drops into maximal per-doc runs and keep
    // only runs >= minSpanTokens. The island count window shares the
    // islands window's doc-keyed partitioning (one Exchange for both).
    val dropPos =
      if (minSpanTokens <= 0) rawDrop
      else islanded(rawDrop)
        .withColumn("__len",
          count(lit(1)).over(Window.partitionBy("doc_id", "__isl")))
        .filter(col("__len") >= minSpanTokens)
        .select("doc_id", "pos")

    val drops = dropPos.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos").cast("int"))).as("__drops"))

    toks.join(drops, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__drops")), lit(0)).cast("long").as("n_dropped"),
        when(col("__drops").isNull, col("__text")).otherwise(
          array_join(
            zip_with(col("toks"), sequence(lit(0), size(col("toks")) - 1),
              (t, i) => when(array_contains(col("__drops"), i.cast("int")), lit(null))
                .otherwise(t)),
            " "))
          .as("text_clean"))
  }
}
