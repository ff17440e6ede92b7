package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operator family — X5 (training-data pipeline surface; the
  * reference stores text blobs but never inspects them).
  *
  * Everything here is built-in codegen'd expressions — no UDFs — so filters
  * and projections push into the parquet scan and the only shuffles are the
  * final aggregations:
  *  - corpus stats: one groupBy(lang, source) — partial aggregation map-side;
  *  - token counts: explode + groupBy(token) — classic word-count shape,
  *    map-side combine keeps the shuffle at vocabulary size, not token count;
  *  - per-document quality/language/fingerprint: narrow (no shuffle at all).
  */
object TextAnalysis {

  private val EnStop = Seq("the", "a", "of", "and", "to", "is")
  private val EsStop = Seq("el", "la", "de", "que", "y", "en")
  private val DeStop = Seq("der", "die", "das", "und", "ist", "ein")
  private val AllStop = EnStop ++ EsStop ++ DeStop

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** Non-empty whitespace tokens — the canonical tokenizer every
    * token-counting surface (stats, counts, split audit) shares. */
  private[graft] val toks: Column = expr("filter(split(text, ' '), x -> x != '')")

  /** Fused tokenize-and-count pass over `text`:
    * `[n_tokens, en_hits, es_hits, de_hits]`
    * ([[graft.functions.TokenListHits]]; value contract = `size(toks)`
    * and `size(filter(split(text,' '), x -> x IN (list)))`). */
  private def tokenHits(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.TokenListHits(
      Bridge.expression(text), Seq(EnStop, EsStop, DeStop)))
  }

  /** Fused per-row word-n-gram statistics straight from the text bytes
    * ([[graft.functions.WordGramStatsText]]). */
  private def gramStatsText(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.WordGramStatsText(Bridge.expression(text), n))
  }

  /** The `repetitive` verdict of [[repetition]] as one per-row expression
    * over raw text — the r19 reuse surface for the fused gate projections
    * ([[CorpusFilter.decisionsWithMeasures]], [[SourceCurate.sourceStats]]).
    * Same rounded-ratio construction as [[repetition]]'s columns. */
  private[graft] def repetitiveOver(text: Column, topTh: Double = 0.05,
                                    dupTh: Double = 0.05): Column = {
    val s2 = gramStatsText(text, 2)
    val s3 = gramStatsText(text, 3)
    val n2 = coalesce(s2.getField("n_grams"), lit(0L))
    val n3 = coalesce(s3.getField("n_grams"), lit(0L))
    val top2 = round(when(n2 > 0,
      coalesce(s2.getField("top_c"), lit(0L)).cast("double") / n2)
      .otherwise(lit(0.0)), 6)
    val dup3 = round(when(n3 > 0,
      (n3 - s3.getField("n_distinct")).cast("double") / n3).otherwise(lit(0.0)), 6)
    top2 > topTh || dup3 > dupTh
  }

  /** Per-row gate measures over raw `text` in one projection —
    * `struct(n_tokens, quality, repetitive)`: [[quality]]'s score and
    * [[repetition]]'s flag from the SAME expression constructions, so the
    * fused gate pass is value-identical to the per-operator arms by
    * shared code, not by parallel re-derivation. */
  private[graft] def gateMeasures(text: Column): Column = {
    val th = tokenHits(text)
    val nTok = th.getItem(0)
    val hitsSum = (th.getItem(1) + th.getItem(2) + th.getItem(3)).cast("double")
    val nChars = length(text).cast("double")
    val punct = length(regexp_replace(text, "[^.,!?;:]", "")).cast("double")
    val punctRatioRaw = when(nChars > 0, punct / nChars).otherwise(lit(0.0))
    val q = round(
      least(lit(1.0), nTok.cast("double") / 100.0) *
        (lit(1.0) - punctRatioRaw) *
        (lit(0.5) + lit(0.5) *
          when(nTok > 0, hitsSum / nTok).otherwise(lit(0.0))), 6)
    struct(nTok.as("n_tokens"), q.as("quality"),
      repetitiveOver(text).as("repetitive"))
  }

  /** Corpus statistics per (lang, source). */
  def stats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"), size(toks).cast("bigint").as("n_tok"),
        length(col("text")).cast("bigint").as("len"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("len")), 4).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  /** Top-k tokens by frequency (lowercased), deterministic tie-break on the
    * token itself.
    *
    * Scale shape: the k-selection is `orderBy + limit` ⇒
    * `TakeOrderedAndProject` — a per-partition bounded heap over the
    * aggregated vocabulary plus a driver merge of k·P rows. An unpartitioned
    * ranking window here would instead sort the ENTIRE vocabulary on a
    * single partition (at web scale the vocabulary is billions of distinct
    * tokens); only the k survivors are ranked, inside one k-row partition. */
  def tokenTopK(docs: DataFrame, k: Int = 20): DataFrame = {
    val topk = docs
      .select(explode_outer(toks).as("token"))
      .where(col("token").isNotNull)
      .select(lower(col("token")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(k)
    // pmod(cnt, 1) is identically 0 but not constant-foldable, so the window
    // has a defined (single-valued) partition over the ≤ k surviving rows —
    // bounded by construction, and no unpartitioned-window warning.
    val byCount = Window.partitionBy(pmod(col("cnt"), lit(1)))
      .orderBy(desc("cnt"), asc("token"))
    topk
      .withColumn("rnk", row_number().over(byCount).cast("bigint"))
      .orderBy(col("rnk"))
  }

  /** BPE-style pre-tokenizer regex (GPT-2 shaped, restricted to RE2-safe
    * constructs — no lookahead — so any engine with RE2/Java regexes splits
    * identically): optional leading space + letter run | digit run |
    * punctuation run. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Marker-token profiles for [[langId]]: per language, its highest-
    * frequency function words (the degenerate-but-deterministic core of the
    * n-gram-profile language detectors — CLD/fastText reduce to exactly
    * this signal for short formal text). Alphabetical language order is the
    * tie-break contract. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "a"),
    "es" -> Seq("el", "los", "las", "que", "y", "un", "una", "por", "con", "para"),
    "fr" -> Seq("le", "les", "et", "est", "une", "du", "dans", "pour", "sur", "pas"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "人"))

  /** Language-ID per document: count lowercase whitespace-token occurrences
    * against each [[LangMarkers]] profile, predict the argmax —
    * alphabetically FIRST language on ties, `und` (undetermined) when no
    * marker hits at all. `lang_score` = best hits / tokens; `matches_label`
    * audits the prediction against the table's `lang` column.
    *
    * Scale: pure narrow per-row array expressions — one scan, no shuffle,
    * no joins; the marker sets are folded literals (a few hundred bytes),
    * never a broadcast table. Occurrences (not distinct markers) are
    * counted, so a long document's signal does not saturate. */
  def langId(docs: DataFrame): DataFrame = {
    def hitsExpr(markers: Seq[String]): String = {
      val arr = markers.map(m => s"'$m'").mkString("array(", ",", ")")
      s"cast(size(filter(tl, x -> array_contains($arr, x))) as bigint)"
    }
    val withHits = docs
      .select(col("doc_id"), col("lang"),
        expr("transform(filter(split(text, ' '), x -> x != ''), x -> lower(x))").as("tl"))
      .select(Seq(col("doc_id"), col("lang"), size(col("tl")).cast("bigint").as("n_tok")) ++
        LangMarkers.map { case (l, ms) => expr(hitsExpr(ms)).as(s"hits_$l") }: _*)
    val best = greatest(LangMarkers.map { case (l, _) => col(s"hits_$l") }: _*)
    val pred = LangMarkers.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (l, _)) => acc.when(col(s"hits_$l") === best, lit(l))
    }
    withHits
      .withColumn("best_hits", best)
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("pred_lang"), col("best_hits"), col("n_tok"),
        when(col("n_tok") === 0, lit(0.0))
          .otherwise(round(col("best_hits").cast("double") / col("n_tok"), 6))
          .as("lang_score"),
        (col("pred_lang") === col("lang")).as("matches_label"))
      .orderBy(col("doc_id"))
  }

  /** Token accounting per document: whitespace tokens vs BPE-ish
    * pre-tokenizer pieces — the sizing signal an LLM-data pipeline uses for
    * budget estimates. Narrow, single scan. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(text, '${BpePattern.replace("'", "\\'")}', 0)"))
          .cast("bigint").as("n_bpe_tokens"),
        length(col("text")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Canonical text normalization — the cleaning stage upstream of
    * tokenization and dedup: lowercase, non-alphanumerics to spaces,
    * whitespace collapsed, trimmed. Pure codegen'd regex/string
    * expressions (simple character classes only, so Java and RE2 regex
    * engines agree), narrow single scan. Emits the normalized text plus
    * its exact-dedup fingerprint — normalizing FIRST is what lets exact
    * dedup catch formatting-only duplicates. */
  def normalize(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("clean"))
      .select(col("doc_id"),
        length(col("clean")).cast("bigint").as("clean_len"),
        md5(col("clean")).as("clean_fp"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (Schleimer et al., the MOSS algorithm): hash
    * every character k-gram, slide a w-position window over the hash
    * sequence, keep each window's minimum — a guaranteed-coverage,
    * position-robust fingerprint subset (any shared substring of length
    * ≥ k + w − 1 produces a shared fingerprint). The classic rolling-hash
    * incremental computation is an optimization for sequential scanners;
    * in a columnar engine each k-gram hashes independently inside codegen
    * (same selected fingerprints, embarrassingly parallel).
    *
    * Output is one row per document with the fingerprint-set summary
    * (count, min, max, and a sum-mod-1000003 checksum — a raw sum of
    * 56-bit values can exceed 2^63), which pins the full set for
    * cross-engine checks without exploding rows. Narrow single scan, no
    * shuffle. */
  /** The winnowed fingerprint SET per document — shared by the per-doc
    * summary ([[winnowFingerprints]]) and the pairwise detector
    * ([[winnowPairs]]). */
  private def winnowFps(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import graft.functions.LshFunctions.hash56
    docs
      // one md5 per character position is pure compute with no reduction —
      // pin the parallelism off the source's split count (single small
      // file = one-core stage otherwise; same rationale as Dedup.ngramNear)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .where(length(col("text")) >= k + w - 1)
      // k-gram hashes materialize ONCE per row here; inlining the array
      // into the window transform would re-hash the whole document per
      // window position (O(len²) digests)
      .select(col("doc_id"),
        transform(sequence(lit(0), length(col("text")) - k), i =>
          hash56(col("text").substr(i + 1, lit(k)))).as("gh"))
      // Sliding-window min as a fold of w SHIFTED slices zipped with
      // `least` — NOT `transform(sequence, wi -> array_min(slice(gh, …)))`.
      // The slice form puts `gh` inside the lambda body, and any optimizer
      // substitution of gh's definition (InferFiltersFromGenerate +
      // predicate pushdown inlines the whole projection into a scan-level
      // Filter) then re-evaluates the O(len) hash transform once PER
      // WINDOW POSITION — O(len²) digests in a single pre-repartition
      // task (measured 648 s at sf0.1). In the zip_with form gh appears
      // only as an argument, evaluated once per row wherever the
      // expression lands.
      .select(col("doc_id"), array_distinct(
        (1 to w).map(s => slice(col("gh"), lit(s), size(col("gh")) - lit(w - 1)))
          .reduce((a, b) => zip_with(a, b, (x, y) => least(x, y)))).as("fps"))
  }

  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    winnowFps(docs, k, w)
      .select(col("doc_id"),
        size(col("fps")).cast("bigint").as("n_fps"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        // checksum over a small modulus: a raw sum of 56-bit values can
        // exceed 2^63 (silent wrap here, overflow error in other engines)
        aggregate(col("fps"), lit(0L), (acc, x) => acc + pmod(x, lit(1000003L)))
          .as("fp_sum"))
      .orderBy(col("doc_id"))
  }

  /** Winnow-fingerprint pair detection — the MOSS report (Schleimer et
    * al. 2003): document pairs sharing at least `minShared` winnowed
    * fingerprints whose corpus document frequency is ≤ `maxDf`. The df
    * cap is BOTH the semantic filter and the scale discipline: a
    * fingerprint in hundreds of documents is corpus boilerplate — a
    * dedup-family signal, not pairwise-copy evidence (MOSS ignores such
    * positions for the same reason) — and excluding it bounds the
    * per-fingerprint pair fan-out at `maxDf²`, so the candidate volume is
    * `rare-fps × maxDf²` regardless of how hot the hottest k-gram is.
    * Same equi-join-never-all-pairs skeleton as the banded MinHash
    * families; the guarantee differs — winnowing detects COVERAGE of
    * matching spans (any shared run ≥ k+w−1 chars yields a shared
    * fingerprint), not estimated whole-document similarity. */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                  maxDf: Int = 8, minShared: Int = 2): DataFrame = {
    // explode_outer + null-filter, not explode: InferFiltersFromGenerate
    // turns a plain explode of an expensive aliased array into a pushed-
    // down scan Filter carrying the whole fps expression (an extra full
    // evaluation in the pre-repartition single task); the rule does not
    // fire on outer generates, and fps elements are never null.
    val ex = winnowFps(docs, k, w)
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .where(col("fp").isNotNull)
    val rare = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val r = ex.join(rare, Seq("fp"))
    r.as("a").join(r.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Word n-grams over the canonical tokens, empty when the document has
    * fewer than `n` tokens (Spark's `sequence` counts DOWN for a negative
    * span, so the guard is required, not defensive). */
  /** Word n-grams from the aliased token array `t` as a fold of n SHIFTED
    * slices zipped with space-concat — the same linearization as the
    * winnowing window min: `t` appears only in argument position, so an
    * optimizer that substitutes t's definition (split+filter) into this
    * expression evaluates it n times per ROW, never once per gram
    * position (the `slice(t, i+1, n)`-inside-a-lambda form degrades to
    * O(tokens²) re-splits when inlined). */
  private def wordGrams(n: Int): Column = {
    val m = size(col("t")) - lit(n - 1)
    val grams = (1 to n).map(s => slice(col("t"), lit(s), m))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(size(col("t")) >= n, grams)
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition scoring (the Gopher/C4 family of quality signals): the
    * fraction of word 2-/3-grams that are repeats of an earlier n-gram in
    * the same document, plus the share of the single most frequent 2-gram.
    * Machine-generated and boilerplate text scores high; these ratios are
    * standard cut features upstream of training.
    *
    * Scale shape: the duplicate ratios are pure array expressions (narrow,
    * codegen'd, no shuffle). The top-2-gram share needs a per-(doc, gram)
    * count — explode + two-level groupBy keyed by doc_id, map-side
    * combined, so the shuffle carries one row per distinct in-document
    * 2-gram, never a cross product. The `repetitive` flag is computed on
    * the ROUNDED ratios so the cut is reproducible cross-engine. */
  def repetition(docs: DataFrame, topTh: Double = 0.05, dupTh: Double = 0.05): DataFrame = {
    // ONE fused in-row pass per gram size ([[graft.functions.WordGramStats]],
    // r19 rewrite): total/distinct/top counted over token SPANS with an
    // open-addressed probe table — no gram string, no explode, no
    // (doc, gram)-keyed shuffle, no restore join. The prior exploded
    // two-level aggregation shipped the entire gram stream as strings;
    // its allocation rate was what collapsed under 32-way concurrency
    // (same stages, 5-10x the cpu vs 8 threads — r19 forensics). Values
    // are term-for-term the oracle's: n_grams = len(grams), distinct by
    // exact gram-string equality (token-wise — the space-join is
    // injective because tokens contain no spaces), top_c = dominant
    // gram's count. The projection parallelism pin (single small file =
    // one-core stage otherwise) stays.
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("text"))
    // materialize both structs in their own projection so each map pass
    // runs once per row; the ratio expressions below only read fields
    val withStats = base.select(col("doc_id"),
      gramStatsText(col("text"), 2).as("s2"),
      gramStatsText(col("text"), 3).as("s3"))
    val n2 = coalesce(col("s2.n_grams"), lit(0L))
    val n3 = coalesce(col("s3.n_grams"), lit(0L))
    val dup2 = round(when(n2 > 0,
      (n2 - col("s2.n_distinct")).cast("double") / n2).otherwise(lit(0.0)), 6)
    val dup3 = round(when(n3 > 0,
      (n3 - col("s3.n_distinct")).cast("double") / n3).otherwise(lit(0.0)), 6)
    val top2 = round(when(n2 > 0,
      coalesce(col("s2.top_c"), lit(0L)).cast("double") / n2).otherwise(lit(0.0)), 6)
    withStats
      .select(col("doc_id"), n2.cast("bigint").as("n_2grams"),
        dup2.as("dup_2gram_ratio"),
        top2.as("top_2gram_ratio"),
        dup3.as("dup_3gram_ratio"))
      .withColumn("repetitive",
        col("top_2gram_ratio") > topTh || col("dup_3gram_ratio") > dupTh)
      .orderBy(col("doc_id"))
  }

  /** Corpus-level rare-bigram novelty — the "unigram/bigram LM" arm of the
    * CCNet-style quality family: documents whose word bigrams are mostly
    * unseen elsewhere in the corpus are disproportionately OCR noise,
    * gibberish, or random-token spam, while boilerplate scores near zero.
    * For each document: its distinct-bigram count, how many of those occur
    * in fewer than `minDf` documents corpus-wide, and the rare fraction
    * (`novelty`). A rational count-ratio stands in for a smoothed log-prob
    * deliberately: integer counts and one division are bit-identical
    * across engines, where `ln()` is not correctly-rounded and drifts.
    *
    * Scale shape: the document-frequency table is one gram-keyed
    * aggregation (vocabulary-sized shuffle, map-side combined — the
    * word-count shape). The per-doc roll-up deliberately does NOT re-join
    * the exploded gram stream to the full df table on the gram key: head
    * grams ("of the") appear in essentially every document, so that join
    * key is a mega-hot probe-side row group at corpus scale. Instead the
    * df aggregate is filtered to the RARE grams (`df < minDf`) — only
    * those can contribute to `n_rare` — and that set is broadcast, so the
    * exploded stream joins map-side with no gram-keyed shuffle and no hot
    * key (a rare gram matches < minDf docs by construction). `n_bigrams`
    * comes from a separate doc-keyed aggregate that never touches the df
    * table. The broadcast holds while the rare vocabulary fits an
    * executor (minDf small); past that, shard the rare set by gram hash
    * and union the per-shard joins — the hot-key hazard never returns
    * because head grams are excluded before any join. Sub-2-token
    * documents are restored by a left join and report novelty 0.0 —
    * vacuously familiar, never NULL. */
  def bigramNovelty(docs: DataFrame, minDf: Int = 3): DataFrame = {
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("t"))
    val dg = base.select(col("doc_id"),
        explode_outer(array_distinct(wordGrams(2))).as("g"))
      .where(col("g").isNotNull)
    val dfTable = dg.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Scale shape, exact at every size: the BROADCAST side is the bounded
    // top-64k HEAD set (df >= minDf, highest df first) — never the rare
    // tail, whose TYPE count under Zipf is the majority of the vocabulary
    // and unbroadcastable at web scale. The head anti-join strips the
    // Zipf mass ("of the" etc.) from the probe before any shuffle; the
    // remaining tail rows shuffle-join the rare set with per-key
    // multiplicity capped by the rank-64k df (no unbounded hot key — the
    // round-7 hazard), and AQE skew-split covers the residue. Exactness
    // does not depend on which non-rare grams make the head cut: excluded
    // probe rows have df >= minDf by construction and can never count as
    // rare.
    val head = dfTable.where(col("df") >= minDf)
      .orderBy(desc("df"), asc("g")).limit(65536).select(col("g"))
    val rare = dfTable.where(col("df") < minDf).select(col("g"))
    val perDoc = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bigrams"))
    val nRare = dg.join(broadcast(head), Seq("g"), "left_anti")
      .join(rare, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_rare"))
    val per = perDoc.join(nRare, Seq("doc_id"), "left")
    val nb = coalesce(col("n_bigrams"), lit(0L))
    val nr = coalesce(col("n_rare"), lit(0L))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), nb.cast("bigint").as("n_bigrams"),
        nr.cast("bigint").as("n_rare"),
        round(when(nb > 0, nr.cast("double") / nb).otherwise(lit(0.0)), 6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-shape LM quality scoring: train a unigram language model on the
    * deterministic reference slice (`hashBucket(doc_id) < trainBucketMax`,
    * add-one smoothing over the lowercased whitespace vocabulary), then
    * score EVERY document by per-token cross-entropy in bits —
    * `-(1/n)·Σ log2 P(w)`, with out-of-vocabulary tokens taking the
    * smoothed unseen mass `1/(N+V+1)`. Low-likelihood documents (high
    * xent) are gibberish/boilerplate candidates; suspiciously-low xent is
    * the repetition arm. The LM is deliberately the simplest member of the
    * family (CCNet uses a 5-gram KenLM): the model IS an aggregate table,
    * so the Spark shape — train = one vocabulary-keyed aggregation, score
    * = token-stream join against the model — is exactly what a larger
    * n-gram model would use, with only the key widening.
    *
    * Scale shape, same discipline as [[bigramNovelty]]: the model's HEAD
    * (top-`headSize` tokens by count — under Zipf, ~all token MASS) is
    * broadcast, so the probe stream joins the hot keys ("the", "of")
    * map-side and never shuffles on a raw token key; only head-miss rows
    * (tail vocabulary + OOV, each with bounded multiplicity by the rank-
    * `headSize` count cutoff) reach the shuffled left join against the
    * tail counts. One final doc-keyed aggregation; the 1-row totals
    * cross-join is a broadcast. Tokenless documents are restored by a
    * left join with xent 0.0. */
  def lmCrossEntropy(docs: DataFrame, trainBucketMax: Int = 50,
                     headSize: Int = 65536): DataFrame = {
    // ROUND-ROBIN repartition, deliberately: this pins parallelism off the
    // source's split count (same rationale as winnowFingerprints) without
    // claiming a doc_id HashPartitioning. A doc_id claim here propagates
    // into headTailLeftJoin's hit ∪ miss union, and Spark 4's UnionExec
    // zips "co-partitioned" children only when their partitioning
    // expressions match EXACTLY — under subtree reuse (two lmCrossEntropy
    // copies in one plan, ReusedExchange ids) the match silently fails,
    // the union concatenates 2N physical partitions while EnsureRequirements
    // still trusts the claimed N, and the parent SortMergeJoin dies with
    // "Can't zip RDDs with unequal numbers of partitions". The cost is one
    // extra exchange of PARTIAL-aggregated per-doc rows — a few rows per
    // doc per partition, not the token stream.
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), toks.as("t"))
    val tok = base.select(col("doc_id"), explode_outer(col("t")).as("w0"))
      .where(col("w0").isNotNull)
      .select(col("doc_id"), lower(col("w0")).as("w"))
    val counts = tok.where(Sampling.hashBucket(col("doc_id")) < trainBucketMax)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("n_train"), count(lit(1)).as("v"))
    val per = headTailLeftJoin(tok, counts, Seq("w"), "c", headSize)
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (-log2((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
          (col("n_train").cast("double") + col("v").cast("double") + 1.0))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).cast("bigint").as("n_tokens"),
        round(coalesce(col("sum_bits") / col("n_tokens"), lit(0.0)), 6).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weight — data selection via importance resampling
    * (Xie et al. 2023, arXiv:2302.03169): per-document log-likelihood ratio
    * `log2 p_target(x) − log2 p_raw(x)` under two bag-of-hashed-token
    * models, where the target model is estimated on the deterministic
    * reference slice (`hashBucket(doc_id) < targetBucketMax` — the same
    * slice contract as [[lmCrossEntropy]]) and the raw model on the
    * disjoint tail slice (`>= rawBucketMin`). Docs that look more like the
    * target than the raw pool score positive; feeding `exp`-scaled scores
    * to [[Sampling.weightedSample]] IS the DSIR resampling step.
    *
    * The deliberate difference from [[lmCrossEntropy]]: tokens are hashed
    * into a FIXED feature space of `buckets` ids (`hash56 mod buckets` —
    * the paper's hashed n-gram features). That bounds BOTH model tables at
    * `buckets` rows by construction, independent of corpus vocabulary — so
    * at 100 TB each model is one word-count-shaped aggregation over its
    * slice followed by a guaranteed-broadcastable table, scoring is two
    * map-side broadcast joins (no Zipf head/tail machinery needed: the hot
    * "the" feature is one row of a 4096-row broadcast), and the only
    * doc-sized shuffle is the final per-doc aggregation. Add-one smoothing
    * over the fixed space keeps unseen features finite in both models.
    * Every hash is the cross-engine [[graft.functions.LshFunctions.hash56]],
    * so the oracle reproduces feature ids bit-for-bit. */
  /** The lowercased token stream `(doc_id, w)` — ONE definition shared by
    * every token-level surface so the cross-engine tokenizer contract
    * cannot drift per call site. */
  private[graft] def lowerTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode_outer(toks).as("w0"))
      .where(col("w0").isNotNull)
      .select(col("doc_id"), lower(col("w0")).as("w"))

  /** The shared hashed bag-of-token feature stream `(doc_id, feat)` —
    * [[dsirWeights]] and [[qualityClassifier]] both promise "the same
    * fixed feature space"; this helper IS that promise. */
  private def hashedFeatures(docs: DataFrame, buckets: Int): DataFrame =
    lowerTok(docs).select(col("doc_id"),
      pmod(graft.functions.LshFunctions.hash56(col("w")),
        lit(buckets.toLong)).as("feat"))

  def dsirWeights(docs: DataFrame, targetBucketMax: Int = 20,
                  rawBucketMin: Int = 50, buckets: Int = 4096): DataFrame = {
    val tok = hashedFeatures(docs, buckets)
    val slice = Sampling.hashBucket(col("doc_id"))
    val tgt = tok.where(slice < targetBucketMax)
      .groupBy(col("feat")).agg(count(lit(1)).as("ct"))
    val raw = tok.where(slice >= rawBucketMin)
      .groupBy(col("feat")).agg(count(lit(1)).as("cr"))
    val tot = tgt.agg(sum(col("ct")).as("nt")).crossJoin(raw.agg(sum(col("cr")).as("nr")))
    val b = lit(buckets.toDouble)
    val bits =
      log2((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) / (col("nt").cast("double") + b)) -
      log2((coalesce(col("cr"), lit(0L)).cast("double") + 1.0) / (col("nr").cast("double") + b))
    val per = tok
      .join(broadcast(tgt), Seq("feat"), "left")
      .join(broadcast(raw), Seq("feat"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), bits.as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("s"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).cast("bigint").as("n_tokens"),
        round(coalesce(col("s"), lit(0.0)), 6).as("lr_bits"),
        round(coalesce(col("s") / col("n_tokens"), lit(0.0)), 6).as("lr_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Trained quality classifier — the GPT-3/CCNet-style learned filter:
    * logistic regression over hashed bag-of-token features, trained to
    * separate the deterministic target slice (`hashBucket(doc_id) <
    * targetBucketMax`, label 1) from the raw slice (`>= rawBucketMin`,
    * label 0), then scoring EVERY document with σ(w·x). The same fixed
    * 4096-feature space as [[dsirWeights]] (term frequencies normalized by
    * doc length, plus an explicit bias feature), so the model is always
    * `buckets + 1` doubles of driver state.
    *
    * Training follows the [[graft.operators.Ann.trainCentroids]] contract
    * that makes iterative fitting oracle-able: a FIXED number of full-batch
    * gradient steps (no early exit, no RNG — `w0 = 0`, so the first step is
    * closed-form), each step one doc-keyed scoring aggregation plus one
    * feature-keyed gradient aggregation (both with map-side partials), the
    * model folded back in as a single array literal (`typedlit` — one
    * Literal object, codegen-safe). Driver state and per-iteration driver
    * traffic are `buckets + 1` doubles — independent of corpus size; at
    * 100 TB the per-step cost is two bounded-key shuffles over the train
    * slices only, and final scoring is one corpus pass.
    *
    * Output: per-doc `score` = σ(w·x) in (0,1) and the threshold verdict
    * `pass`. Compose with [[Sampling.qualitySample]] /
    * [[Sampling.weightedSample]] for Pareto-style stochastic keeps. */
  def qualityClassifier(docs: DataFrame, targetBucketMax: Int = 20,
                        rawBucketMin: Int = 50, buckets: Int = 4096,
                        iters: Int = 3, learnRate: Double = 1.0): DataFrame = {
    val bias = buckets.toLong
    val tok = hashedFeatures(docs, buckets)
    // boundary (r18): `counts` feeds its own row-count normalizer (ntok),
    // the persisted train-slice table AND the final whole-corpus scoring —
    // four re-evaluations of the explode + hash56 token pass without it
    val counts = tok.groupBy(col("doc_id"), col("feat"))
      .agg(count(lit(1)).cast("double").as("c"))
      .localCheckpoint(false)
    val ntok = counts.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val x = counts.join(ntok, "doc_id")
      .select(col("doc_id"), col("feat"), (col("c") / col("n")).as("xf"))
      .unionByName(docs.select(col("doc_id"), lit(bias).as("feat"), lit(1.0).as("xf")))
    val slice = Sampling.hashBucket(col("doc_id"))
    val labels = docs.select(col("doc_id"),
        when(slice < targetBucketMax, lit(1.0))
          .when(slice >= rawBucketMin, lit(0.0)).as("y"))
      .where(col("y").isNotNull)
    // The train-slice feature table feeds every gradient step twice —
    // persist it for the loop (the slices are bounded a-priori samples by
    // contract, the same dial as every eval surface here), then release.
    // Repartition by doc_id BEFORE the persist (r18): the bias-row union
    // inside `x` erases any partitioning claim, so without this every
    // gradient step re-shuffled the cached table twice (err's
    // (doc_id, y) aggregation + the err⨝xtr join); hash(doc_id) satisfies
    // both requirements, leaving one bounded feat-keyed exchange per step.
    val xtr = x.join(labels, "doc_id")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTrain = labels.count().toDouble // scalar driver state, like Lloyd's convergence check
    val w = Array.fill(buckets + 1)(0.0)
    try {
      for (_ <- 1 to iters) {
        val wl = typedlit(w.toSeq)
        val err = xtr.groupBy(col("doc_id"), col("y"))
          .agg(sum(element_at(wl, (col("feat") + 1).cast("int")) * col("xf")).as("s"))
          .select(col("doc_id"),
            (lit(1.0) / (lit(1.0) + exp(-col("s"))) - col("y")).as("err"))
        val grad = xtr.join(err, "doc_id")
          .groupBy(col("feat"))
          .agg((sum(col("err") * col("xf")) / lit(nTrain)).as("g"))
          .collect() // bounded: <= buckets + 1 rows, the model-sized driver transfer
        grad.foreach { r =>
          val f = r.getLong(0).toInt
          w(f) = w(f) - learnRate * r.getDouble(1)
        }
      }
    } finally xtr.unpersist(false)
    val wl = typedlit(w.toSeq)
    val scored = x.groupBy(col("doc_id"))
      .agg(sum(element_at(wl, (col("feat") + 1).cast("int")) * col("xf")).as("s"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6).as("score"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("score"), lit(0.5)).as("score"))
      .withColumn("pass", col("score") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** DoReMi-style mixture reweighting, reduced to its dataflow (Xie et
    * al. 2023, arXiv:2305.10429 — there the excess loss comes from a
    * trained proxy/reference model pair; here the reference-slice unigram
    * LM of [[lmCrossEntropy]] stands in): per source, excess loss =
    * `max(mean xent − corpus mean xent, 0)`, and the updated mixture
    * weight is the token-share baseline scaled by `exp(η · excess)`,
    * renormalized. Sources the reference model finds hard gain weight —
    * the paper's multiplicative-weights update, one step.
    *
    * Scale shape: everything after the (already Zipf-safe) per-doc
    * scoring is source-keyed aggregation over ≤|sources| rows; the corpus
    * mean and the normalizer are 1-row broadcasts. Feeding the weights to
    * [[Sampling.sourceMixture]] closes the loop into sampling epochs. */
  def doremiWeights(docs: DataFrame, eta: Double = 1.0,
                    trainBucketMax: Int = 50): DataFrame = {
    val per = docs.select(col("doc_id"), col("source"))
      .join(lmCrossEntropy(docs, trainBucketMax)
        .select(col("doc_id"), col("n_tokens"), col("xent")), Seq("doc_id"))
    // integer micro-units, not avg(double): xent is 6-dp-rounded per doc,
    // and a float sum of rounded values is summation-order-dependent in
    // its last ulp — on a 5e-7 boundary the mean's own 6-dp round flips
    // between engines (the corpus_report avg_quality flake, r10). Exact
    // integer sums are order-free; the divisions run on identical inputs.
    def microMean(c: Column): Column =
      round(sum(round(c * lit(1000000.0)).cast("bigint")).cast("double")
        / lit(1000000.0) / count(lit(1)), 6)
    val bySrc = per.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      microMean(col("xent")).as("mean_xent"))
    val global = per.agg(microMean(col("xent")).as("global_xent"),
      sum(col("n_tokens")).as("total_tokens"))
    val raw = bySrc.crossJoin(broadcast(global))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("mean_xent"),
        round(greatest(col("mean_xent") - col("global_xent"), lit(0.0)), 6)
          .as("excess"),
        ((col("n_tokens").cast("double") / col("total_tokens")) *
          exp(lit(eta) *
            round(greatest(col("mean_xent") - col("global_xent"), lit(0.0)), 6)))
          .as("raw_w"))
    raw.crossJoin(broadcast(raw.agg(sum(col("raw_w")).as("z"))))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("mean_xent"),
        col("excess"), round(col("raw_w") / col("z"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** CCNet-style perplexity bucketing: split each language's corpus into
    * `head` / `middle` / `tail` terciles of LM cross-entropy (CCNet §4.3 —
    * Wikipedia-trained KenLM perplexity terciles per language; `head` =
    * lowest xent = most reference-like). Thresholds come from a
    * DETERMINISTIC hash sample (`hashBucket(doc_id) < sampleBucketMax`),
    * not the full corpus: at 100 TB the sample fraction is the dial (the
    * same bounded a-priori eval-surface contract as
    * [[graft.operators.EmbeddingStats.retrievalEval]]'s anchors), the
    * threshold table is `langs × 2` doubles — always broadcast — and
    * bucketing every document is a pure map-side projection over the
    * already-Zipf-safe [[lmCrossEntropy]] scores. Threshold = value at
    * rank `ceil(j·n/3)` of the sample's (xent, doc_id) order — the lower-
    * quantile definition both engines compute identically on the 6-dp
    * rounded scores, no interpolation. A language absent from the sample
    * (possible only when the sample is far too small) buckets `tail` —
    * the conservative verdict for an uncalibrated language. */
  def perplexityBuckets(docs: DataFrame, sampleBucketMax: Int = 30,
                        trainBucketMax: Int = 50,
                        headSize: Int = 65536): DataFrame = {
    val lx = docs.select(col("doc_id"), col("lang"))
      .join(lmCrossEntropy(docs, trainBucketMax, headSize)
        .select(col("doc_id"), col("xent")), Seq("doc_id"))
    val byLang = Window.partitionBy(col("lang"))
    val ranked = lx.where(Sampling.hashBucket(col("doc_id")) < sampleBucketMax)
      .select(col("lang"), col("xent"),
        row_number().over(byLang.orderBy(asc("xent"), asc("doc_id"))).as("r"),
        count(lit(1)).over(byLang).as("n"))
    val thr = ranked.groupBy(col("lang")).agg(
      min(when(col("r") === ceil(col("n") / lit(3.0)).cast("long"),
        col("xent"))).as("t1"),
      min(when(col("r") === ceil(lit(2.0) * col("n") / lit(3.0)).cast("long"),
        col("xent"))).as("t2"))
    lx.join(broadcast(thr), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("xent"),
        when(col("t1").isNull, lit("tail"))
          .when(col("xent") <= col("t1"), lit("head"))
          .when(col("xent") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Count-Min sketch token-frequency audit (Cormode & Muthukrishnan
    * 2005): build a `depth × width` CMS over the lowercased token stream
    * — cell `(d, b)` counts tokens with `hash56(d || '|' || w) mod width
    * = b` — then report, for the exact top-`k` tokens, the sketch
    * estimate `min_d cell(d, h_d(w))` next to the true count and the
    * (always ≥ 0) overestimate. The audit answers the operational
    * question "how wide must the sketch be before heavy-hitter counts
    * are trustworthy" on the corpus's own Zipf shape.
    *
    * Scale shape: the sketch is ONE (d, bucket)-keyed aggregation with
    * map-side partials — the shuffle carries at most `depth × width` rows
    * per map partition regardless of corpus size, and the sketch table
    * (≤ depth × width longs) always broadcasts to the probe join. CMS
    * cells are sums, so sketches merge across shards/streams by addition
    * — the same mergeability contract as [[Dedup.sourceOverlap]]'s
    * MinHash sketches. Hashes are the cross-engine
    * [[graft.functions.LshFunctions.hash56]], so the oracle reproduces
    * every cell exactly. */
  def tokenCms(docs: DataFrame, depth: Int = 4, width: Int = 1024,
               k: Int = 20): DataFrame = {
    import graft.functions.LshFunctions.hash56
    require(depth >= 1 && width >= 1, s"bad CMS dims: $depth x $width")
    val rows = array((0 until depth).map(lit): _*)
    def bucket(w: Column, d: Column): Column =
      pmod(hash56(concat(d.cast("string"), lit("|"), w)), lit(width.toLong))
    val tok = lowerTok(docs).select(col("w"))
    val sketch = tok.select(col("w"), explode(rows).as("d"))
      .select(col("d"), bucket(col("w"), col("d")).as("bucket"))
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
    val topk = tok.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("w")).limit(k)
      .withColumnRenamed("w", "token")
    val est = topk.select(col("token"), explode(rows).as("pd"))
      .join(broadcast(sketch),
        sketch("d") === col("pd") &&
          sketch("bucket") === bucket(col("token"), col("pd")))
      .groupBy(col("token")).agg(min(col("c")).as("est_cnt"))
    topk.join(est, Seq("token"))
      .select(col("token"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overestimate"))
      .orderBy(desc("exact_cnt"), asc("token"))
  }

  /** HyperLogLog distinct-token audit (Flajolet et al. 2007) — the
    * cardinality member of the sketch family ([[Dedup.sourceOverlap]]'s
    * MinHash estimates similarity, [[tokenCms]] counts frequencies, this
    * counts DISTINCTS in `p`-bits-of-registers space): bucket =
    * `hash56 mod m`, rho = leading-zero rank of the remaining `56 − p`
    * bits computed with INTEGER arithmetic (`bits + 1 − length(bin(r))`
    * — a float `log2` differs across engines in the last ulp at power-of-
    * two boundaries, a binary-digit count cannot), registers = one
    * bucket-keyed `max` aggregation. Standard small-range correction
    * (linear counting when `E ≤ 2.5m` with empty registers); the 2^56
    * large-range regime is out of reach by construction. Output is ONE
    * row: exact distinct count, estimate, relative error — the audit that
    * tells an operator how much to trust `approx_count_distinct`-style
    * numbers on this corpus's own vocabulary.
    *
    * Scale shape: registers are a `bucket`-keyed max with map-side
    * partials — the shuffle carries ≤ m rows per map partition, corpus
    * never reaches it; registers merge across shards/streams by `max`,
    * the same mergeability as [[tokenCms]] cells. The exact arm is the
    * expensive one (a true distinct) — it exists because this IS an
    * audit; drop it in production and the sketch is one bounded pass. */
  def tokenHll(docs: DataFrame, p: Int = 10): DataFrame = {
    val tok = lowerTok(docs).select(col("w"))
    val est = hllEstimate(hllRegisters(tok, p), p)
    val exact = tok.agg(countDistinct(col("w")).as("exact_distinct"))
    exact.crossJoin(est)
      .select(col("exact_distinct"), round(col("e"), 6).as("est"),
        // token-free corpus: exact = est = 0 — report 0 error, not the
        // engine-dependent 0/0 (NaN in Spark, NULL in DuckDB)
        when(col("exact_distinct") === 0, lit(0.0))
          .otherwise(round((col("e") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double"), 6)).as("rel_err"))
  }

  /** HLL register table `(bucket, reg)` for a token stream (column `w`) —
    * the mergeable state: registers combine across shards, batches, or
    * snapshots by bucket-keyed `max` (idempotent, so at-least-once replay
    * is harmless — the property [[graft.streaming.Streaming
    * .streamDistinctMonitor]] is built on). */
  private[graft] def hllRegisters(tok: DataFrame, p: Int): DataFrame = {
    import graft.functions.LshFunctions.hash56
    require(p >= 4 && p <= 20, s"p out of range: $p")
    val m = 1L << p
    val bits = 56 - p
    tok.select(hash56(col("w")).as("h"))
      .select(pmod(col("h"), lit(m)).as("bucket"),
        expr(s"h div $m").as("r"))
      .select(col("bucket"),
        when(col("r") > 0, lit(bits + 1) - length(bin(col("r"))))
          .otherwise(lit(bits + 1)).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("reg"))
  }

  /** One-row `(e)` unrounded HLL estimate from a register table, with the
    * linear-counting small-range correction. */
  private[graft] def hllEstimate(regs: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs.sparkSession.range(m).toDF("bucket")
      .join(regs, Seq("bucket"), "left")
      .select(coalesce(col("reg"), lit(0L)).as("reg"))
      .agg(
        sum(pow(lit(2.0), -col("reg"))).as("z"),
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("v"))
      .select(
        when((lit(alpha * m * m) / col("z")) <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(lit(alpha * m * m) / col("z")).as("e"))
  }

  /** LEFT join of a key-hot probe stream against a count table: the
    * bounded head (top-`headSize` rows by count) broadcasts so hot keys
    * resolve map-side. In the union form (`linear = false`) only head-miss
    * rows (tail + unseen, per-key multiplicity capped by the
    * rank-`headSize` count) reach the shuffled tail join, so that form is
    * Zipf-safe; the linear form trades that away (below). Exactness is
    * independent of where the cut falls in either form. Null
    * probe keys never match (standard left-join semantics) and keep their
    * row with a null count.
    *
    * Two physical shapes, both exact, chosen by the CALLER's chain depth
    * (r18 optimization, both A/B-measured at sf0.1/32 cpus):
    *
    *  - `linear = false` (single-level callers): hit ∪ miss union. The
    *    probe subtree is evaluated twice (once per branch), but head-HIT
    *    rows never cross an exchange — for one level the zero-shuffle hit
    *    path beats the duplication (corpus_filter: 33.9 vs 55.4 cpu-s per
    *    window when forced linear).
    *  - `linear = true` (chained callers): one pipeline — the tail join
    *    keys on the columns AND `head-missed` (a head-hit row satisfies no
    *    tail condition, keeps a null tail count, and the coalesce picks its
    *    broadcast-resolved head count). Hit rows do cross the tail exchange
    *    as already-resolved passengers, and the exchange hashes on the
    *    join keys, so every occurrence of one hot key lands in ONE
    *    partition: this form is NOT Zipf-safe — it brings back the key
    *    skew the head/tail split exists to avoid, and its measured win at
    *    sf0.1 may not hold at corpus scale. What it buys is that the
    *    subtree is evaluated ONCE:
    *    under the union form each chained level DOUBLES the upstream, so
    *    the bigram LM's three levels re-ran the tokenize/explode base
    *    2³ = 8 times (214 Exchanges in the lm_score_bigram plan, 67 cpu-s
    *    per window; 59 with the linear form, 23 Exchanges).
    *
    * Row-identity of the linear form: counts are unique per key, so at
    * most one tail match; null probe keys match nothing and keep their
    * row — exactly the union form's left-join semantics. The tail join
    * keys with PLAIN equality (`===`, null matches nothing), not `<=>`:
    * null-safe equality would let a null probe key find a null-key counts
    * row, silently diverging from the union form's using-columns
    * semantics (r18 advice; HeadTailJoinSpec pins both forms identical on
    * a null-key probe against a null-key counts table). */
  private[graft] def headTailLeftJoin(stream: DataFrame, counts: DataFrame,
                               keys: Seq[String], cName: String,
                               headSize: Int,
                               linear: Boolean = false): DataFrame = {
    val head = counts
      .orderBy(desc(cName) +: keys.map(asc): _*).limit(headSize)
    val tail = counts.join(broadcast(head.select(keys.map(col): _*)),
      keys, "left_anti")
    val h = s"__${cName}_h"
    val probed = stream.join(
      broadcast(head.withColumnRenamed(cName, h)), keys, "left")
    if (linear) {
      val t = s"__${cName}_t"
      val tailR = tail.withColumnRenamed(cName, t)
        .select((keys.map(k => col(k).as(s"__${k}_t")) :+ col(t)): _*)
      probed.join(tailR,
          keys.map(k => probed(k) === tailR(s"__${k}_t")).reduce(_ && _) &&
            col(h).isNull,
          "left")
        .withColumn(cName, coalesce(col(h), col(t)))
        .drop((h +: t +: keys.map(k => s"__${k}_t")): _*)
    } else {
      val hit = probed.where(col(h).isNotNull)
        .withColumn(cName, col(h)).drop(h)
      val miss = probed.where(col(h).isNull)
        .drop(h).join(tail, keys, "left")
      // coalesce the hit ∪ miss concat back to the session parallelism:
      // UnionExec CONCATENATES child partitions (hit's N + miss's N) —
      // without this the per-task overhead of near-empty tasks dominates
      // (round-10 stage audit: 38-50 executor-seconds at ~0.15 s/task).
      // Coalesce merges within-stage (no shuffle) and claims no output
      // partitioning, so the Spark 4 union zip-vs-concat hazard documented
      // at the call sites is untouched.
      hit.unionByName(miss)
        .coalesce(stream.sparkSession.sparkContext.defaultParallelism)
    }
  }

  /** Interpolated BIGRAM LM cross-entropy — [[lmCrossEntropy]] with the
    * key widened one step, exactly as its scaladoc promises: per-token
    * `P(w_i | w_{i-1}) = λ·c(w_{i-1},w_i)/c_ctx(w_{i-1}) +
    * (1−λ)·P_uni(w_i)`, falling back to the smoothed unigram alone at
    * position 0 or when the context never appeared in the reference slice
    * (Jelinek–Mercer interpolation, the standard backbone before
    * Kneser–Ney). The context normalizer `c_ctx` is the exact row sum of
    * the bigram table, so every conditional distribution sums to 1.
    *
    * Scale shape: the (prev, cur) pairing is built NARROWLY per document
    * (zip of the token array with its shift — never a positional
    * self-join), and all three model joins (unigram on cur, context on
    * prev, bigram on (prev, cur)) go through [[headTailLeftJoin]]: the
    * Zipf head of each table broadcasts, so "of the" never shuffles on a
    * raw token key. Model tables are aggregates — the bigram table is the
    * big one (vocab², Zipf-truncated in practice); a 5-gram KenLM-style
    * model is this same plan with a wider key. */
  def lmCrossEntropyBigram(docs: DataFrame, trainBucketMax: Int = 50,
                           headSize: Int = 65536,
                           lambda: Double = 0.7): DataFrame = {
    // round-robin, not hash-by-doc_id: see lmCrossEntropy — a doc_id
    // partitioning claim through headTailLeftJoin's union breaks under
    // subtree reuse (Spark 4 UnionExec zip-vs-concat mismatch)
    val base = docs
      // tokenless docs dropped via the cheap PRECONDITION (only spaces in
      // text), not size(t) > 0: the alias filter gets pushed to the scan
      // with the whole tokenize expression inlined — one duplicate
      // tokenize pass per subtree copy in the single-task scan stage
      .where(trim(col("text")) =!= "")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        expr("transform(filter(split(text, ' '), x -> x != ''), x -> lower(x))").as("t"))
    val paired = base
      .select(col("doc_id"),
        explode_outer(expr(
          """zip_with(concat(array(CAST(NULL AS STRING)), slice(t, 1, size(t) - 1)), t,
            |  (p, c) -> struct(p AS prev, c AS cur))""".stripMargin)).as("pc"))
      .where(col("pc").isNotNull)
      .select(col("doc_id"), col("pc.prev").as("prev"), col("pc.cur").as("cur"))
    val train = paired.where(Sampling.hashBucket(col("doc_id")) < trainBucketMax)
    val uni = train.groupBy(col("cur")).agg(count(lit(1)).as("c"))
    val big = train.where(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy(col("prev")).agg(sum(col("cb")).as("cctx"))
    val tot = uni.agg(sum(col("c")).as("n_train"), count(lit(1)).as("v"))

    // linear form: three chained levels — the union form doubles the
    // upstream subtree per level (2³ = 8 evaluations of the pairing base)
    val s1 = headTailLeftJoin(paired, uni, Seq("cur"), "c", headSize, linear = true)
    val s2 = headTailLeftJoin(s1, ctx, Seq("prev"), "cctx", headSize, linear = true)
    val s3 = headTailLeftJoin(s2, big, Seq("prev", "cur"), "cb", headSize, linear = true)

    val denom = col("n_train").cast("double") + col("v").cast("double") + 1.0
    val pUni = (coalesce(col("c"), lit(0L)).cast("double") + 1.0) / denom
    val pInterp = lit(lambda) * (coalesce(col("cb"), lit(0L)).cast("double") / col("cctx").cast("double")) +
      (lit(1.0) - lit(lambda)) * pUni
    val per = s3.crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (-log2(when(col("prev").isNotNull && col("cctx") > 0, pInterp)
          .otherwise(pUni))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).cast("bigint").as("n_tokens"),
        round(coalesce(col("sum_bits") / col("n_tokens"), lit(0.0)), 6).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Token-distribution drift between the deterministic train split and
    * the holdout: the top-k tokens by absolute rate difference — the
    * monitor a pipeline runs on every new crawl snapshot (a token whose
    * rate moved is a changed source, new boilerplate, or a scraper bug).
    * The split is [[Sampling.hashBucket]], so the comparison is stable
    * across runs and engines.
    *
    * Scale shape: explode → one (token)-keyed aggregation with
    * conditional partial sums (vocabulary-sized shuffle, map-side
    * combined), one-row totals broadcast, bounded-heap top-k. Rates are
    * ratios of exact integer counts, so both engines rank identical
    * doubles. */
  def tokenDrift(docs: DataFrame, k: Int = 20, trainPct: Int = 80): DataFrame = {
    val isTrain = Sampling.hashBucket(col("doc_id")) < trainPct
    val tok = docs
      .select(isTrain.as("train"), explode_outer(toks).as("t"))
      .where(col("t").isNotNull)
      .select(col("train"), lower(col("t")).as("token"))
    val counts = tok.groupBy(col("token"))
      .agg(
        sum(when(col("train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("train"), 1L).otherwise(0L)).as("n_test"))
    val totals = counts.agg(
      sum(col("n_train")).as("tot_train"),
      sum(col("n_test")).as("tot_test"))
    counts.crossJoin(broadcast(totals))
      .select(col("token"), col("n_train"), col("n_test"),
        round(col("n_train") / col("tot_train"), 6).as("rate_train"),
        round(col("n_test") / col("tot_test"), 6).as("rate_test"),
        round(abs(col("n_train") / col("tot_train") - col("n_test") / col("tot_test")), 6)
          .as("rate_diff"))
      .orderBy(desc("rate_diff"), asc("token"))
      .limit(k)
  }

  /** Per-document quality scoring, language-ID heuristic, and content
    * fingerprint — all narrow expressions over one scan.
    *
    * quality = min(1, tokens/100) * (1 - punct_ratio) * (0.5 + 0.5 * stop_ratio):
    * a deterministic composite of the classic length/punctuation/stopword
    * signals (each also emitted for inspection). Language ID is a stopword-
    * vote argmax with 'und' (undetermined) on ties. Fingerprint is
    * md5(lower(text)) — the exact-dedup key, exposed per document. */
  def quality(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("double")
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
    // ONE fused tokenization pass for the token count and all three
    // stop-list hit counts ([[graft.functions.TokenListHits]], r19): the
    // composed form ran one split + one interpreted filter lambda per
    // list — four full tokenizations per row — whose allocation rate is
    // the 32-thread collapse mechanism (r19 forensics).
    val th = tokenHits(col("text"))

    docs
      .select(col("doc_id"), col("lang"), col("text"),
        th.getItem(0).as("n_tokens"),
        th.getItem(1).as("en_hits"), th.getItem(2).as("es_hits"),
        th.getItem(3).as("de_hits"),
        when(nChars > 0, punct / nChars).otherwise(lit(0.0)).as("punct_ratio_raw"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("punct_ratio_raw"), 6).as("punct_ratio"),
        round(when(col("n_tokens") > 0,
          (col("en_hits") + col("es_hits") + col("de_hits")).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("stop_ratio"),
        round(
          least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
            (lit(1.0) - col("punct_ratio_raw")) *
            (lit(0.5) + lit(0.5) * when(col("n_tokens") > 0,
              (col("en_hits") + col("es_hits") + col("de_hits")).cast("double") / col("n_tokens"))
              .otherwise(lit(0.0))), 6).as("quality"),
        when(col("en_hits") > col("es_hits") && col("en_hits") > col("de_hits"), lit("en"))
          .when(col("es_hits") > col("en_hits") && col("es_hits") > col("de_hits"), lit("es"))
          .when(col("de_hits") > col("en_hits") && col("de_hits") > col("es_hits"), lit("de"))
          .otherwise(lit("und")).as("lang_guess"),
        md5(lower(col("text"))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Per-language CALIBRATED quality gate — a fixed global threshold
    * (the [[graft.operators.CorpusFilter.decisions]] arm) over-filters
    * whole languages whose score distribution sits lower (stop-word lists
    * and punctuation norms are language-biased), so production pipelines
    * gate each language at its own quantile: drop the bottom `q` of EACH
    * language. Per document: its language's cutoff and the calibrated
    * verdict `quality ≥ cutoff`.
    *
    * Quantile definition (cross-engine exact): the smallest 6-dp grid
    * value v with ≥ ⌈n_lang·qµ/10⁶⌉ documents of the language scoring
    * ≤ v — the discrete inverse CDF over already-rounded values, no
    * interpolation, with the ceiling taken in INTEGER micro-units
    * (`qµ = round(q·10⁶)`) so no float multiply can straddle an integer
    * boundary differently across engines.
    *
    * Scale shape: NOT a per-language global sort (one reducer per
    * language — the skew ceiling [[graft.operators.Sampling.packBatches]]
    * refused): quality lives on the bounded 6-dp grid, so the quantile is
    * a (lang, value)-keyed HISTOGRAM — one map-side-combined groupBy of
    * the corpus, cumulative windows over ≤ grid-values rows per language,
    * and the langs-sized cutoff table broadcast back. */
  def qualityCalibrated(docs: DataFrame, q: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q > 0 && q < 1, s"q must be in (0, 1), got $q")
    val qMicro = math.round(q * 1e6)
    val ql = quality(docs).select(col("doc_id"), col("lang"), col("quality"))
    val hist = ql.groupBy(col("lang"), col("quality")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    val cutoffs = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .where(col("cum") >= expr(s"(n * $qMicro + 999999) div 1000000"))
      .groupBy(col("lang")).agg(min(col("quality")).as("cutoff"))
    ql.join(broadcast(cutoffs), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality"), col("cutoff"),
        (col("quality") >= col("cutoff")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style rule audit (Rae et al. 2021 §A1.1, the rule family
    * C4/MassiveText/RedPajama filters share) — per document, each rule's
    * raw signal AND its boolean verdict, so a curator can tune thresholds
    * from the same scan that enforces them:
    *   R1 word count in [minWords, maxWords]
    *   R2 mean word length in [3, 10] characters
    *   R3 symbol-to-word ratio ('#' and '...') ≤ 0.1
    *   R4 ≥ 80% of words contain an alphabetic character
    *   R5 at least 2 stop-word hits (the cross-language list [[quality]] uses)
    *   R6 does not open with a bullet, does not trail off in an ellipsis
    * `pass` is the conjunction. Complements [[quality]] (a composite
    * score) with the interpretable hard-rule reading of the same signals.
    *
    * Scale shape: narrow codegen string/array expressions over ONE scan —
    * no shuffle at all before the output sort. Exact cross-engine:
    * counts and replace-based substring tallies are integers; the two
    * ratios are single divisions of identical integers, rounded 6 dp. */
  def gopherRules(docs: DataFrame, minWords: Int = 20, maxWords: Int = 100000): DataFrame = {
    val nTok = size(toks).cast("bigint")
    val sumLen = expr("aggregate(filter(split(text, ' '), x -> x != ''), 0L, (a, w) -> a + length(w))")
    val nHash = (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("bigint")
    val nEll = ((length(col("text")) -
      length(expr("replace(text, '...', '')"))) / 3).cast("bigint")
    val nAlpha = size(expr("filter(split(text, ' '), x -> x != '' AND x rlike '[a-zA-Z]')")).cast("bigint")
    val stopHits =
      size(expr(s"filter(split(text, ' '), x -> lower(x) IN (${inList(AllStop)}))")).cast("bigint")
    docs.select(col("doc_id"), nTok.as("n_words"), sumLen.as("__sl"),
        nHash.as("__nh"), nEll.as("__ne"), nAlpha.as("__na"),
        stopHits.as("n_stop_hits"),
        col("text").startsWith("- ").or(col("text").startsWith("* ")).as("bullet_start"),
        col("text").endsWith("...").as("ellipsis_end"))
      .select(col("doc_id"), col("n_words"),
        round(when(col("n_words") > 0, col("__sl").cast("double") / col("n_words"))
          .otherwise(lit(0.0)), 6).as("mean_word_len"),
        round(when(col("n_words") > 0,
            (col("__nh") + col("__ne")).cast("double") / col("n_words"))
          .otherwise(lit(0.0)), 6).as("symbol_ratio"),
        round(when(col("n_words") > 0, col("__na").cast("double") / col("n_words"))
          .otherwise(lit(0.0)), 6).as("alpha_word_ratio"),
        col("n_stop_hits"), col("bullet_start"), col("ellipsis_end"),
        col("__sl"), col("__nh"), col("__ne"), col("__na"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_word_ratio"), col("n_stop_hits"),
        col("bullet_start"), col("ellipsis_end"),
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("n_words") > 0 &&
          col("__sl").cast("double") >= lit(3.0) * col("n_words") &&
          col("__sl").cast("double") <= lit(10.0) * col("n_words") &&
          (col("__nh") + col("__ne")).cast("double") * 10 <= col("n_words").cast("double") &&
          col("__na").cast("double") * 5 >= col("n_words").cast("double") * 4 &&
          col("n_stop_hits") >= 2 &&
          !col("bullet_start") && !col("ellipsis_end")).as("pass"))
      .orderBy(col("doc_id"))
  }

  /** Calibration audit for the trained quality filter (Guo et al. 2017,
    * arXiv:1706.04599): bin the [[qualityClassifier]] scores of the LABELED
    * docs into `bins` equal-width confidence bins; per bin report count,
    * mean predicted score (confidence), empirical positive rate (accuracy),
    * their absolute gap, and the corpus expected calibration error
    * ECE = Σ nᵢ·|confᵢ − accᵢ| / Σ nᵢ (same value on every row — the
    * number a filtering-threshold decision actually needs). A filter can
    * hold high AUC while its scores drift from probabilities; sampling by
    * mis-calibrated scores ([[Sampling.qualitySample]]) silently reweights
    * the corpus, which is why this audit belongs next to the classifier.
    *
    * Scale shape: training is [[qualityClassifier]]'s (two bounded-key
    * shuffles per step over the train slices); the audit itself is one
    * map-side-combinable groupBy over ≤`bins` keys and a 1-row broadcast
    * for the ECE normalizer. Binning uses the 6-dp-rounded scores, so the
    * bin edges are cross-engine exact; score 1.0 folds into the top bin. */
  def calibrationAudit(docs: DataFrame, targetBucketMax: Int = 20,
                       rawBucketMin: Int = 50, buckets: Int = 4096,
                       iters: Int = 3, learnRate: Double = 1.0,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val scored = qualityClassifier(docs, targetBucketMax, rawBucketMin,
      buckets, iters, learnRate).select(col("doc_id"), col("score"))
    val slice = Sampling.hashBucket(col("doc_id"))
    val lab = docs.select(col("doc_id"),
        when(slice < targetBucketMax, lit(1.0))
          .when(slice >= rawBucketMin, lit(0.0)).as("y"))
      .where(col("y").isNotNull)
    val perBin = scored.join(lab, "doc_id")
      .select(least(floor(col("score") * bins), lit((bins - 1).toLong))
        .cast("bigint").as("bin"), col("score"), col("y"))
      .groupBy(col("bin"))
      // conf goes through integer micro-units: scores are 6-dp-rounded,
      // and a float avg of rounded values is summation-order-dependent in
      // its last ulp (see doremiWeights.microMean). acc averages exact
      // 0/1 terms — already order-free.
      .agg(count(lit(1)).as("n"),
        (sum(round(col("score") * lit(1000000.0)).cast("bigint")).cast("double")
          / lit(1000000.0) / count(lit(1))).as("conf"),
        avg(col("y")).as("acc"))
    val tot = perBin.agg(sum(col("n")).as("nt"),
      sum(col("n") * abs(col("conf") - col("acc"))).as("gap_sum"))
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        round(col("conf"), 6).as("confidence"),
        round(col("acc"), 6).as("accuracy"),
        round(abs(col("conf") - col("acc")), 6).as("abs_gap"),
        round(col("gap_sum") / col("nt"), 6).as("ece"))
      .orderBy(col("bin"))
  }

  /** ROC-AUC of the trained quality filter over the labeled slices — the
    * threshold-free ranking-power number beside [[calibrationAudit]]'s
    * probability-faithfulness one (a filter can hold AUC while its scores
    * drift from probabilities, and vice versa; threshold decisions need
    * both). Tie-aware Mann–Whitney form: AUC = Σ_s nPos(s)·(nNegBelow(s) +
    * nNeg(s)/2) / (nPos·nNeg), summed over DISTINCT scores — ties count
    * half, matching the trapezoidal ROC. Degenerate single-class slices
    * report 0.5.
    *
    * Scale shape: one doc-keyed join + one score-keyed aggregation with
    * map-side partials; the cumulative window then runs over DISTINCT
    * 6-dp-rounded scores — a set bounded by the rounding grid (≤ 1e6 rows
    * ever, vocabulary-sized in practice), which is what makes the one
    * unpartitioned window a non-surface at corpus scale. */
  def classifierAuc(docs: DataFrame, targetBucketMax: Int = 20,
                    rawBucketMin: Int = 50, buckets: Int = 4096,
                    iters: Int = 3, learnRate: Double = 1.0): DataFrame = {
    val scored = qualityClassifier(docs, targetBucketMax, rawBucketMin,
      buckets, iters, learnRate).select(col("doc_id"), col("score"))
    val slice = Sampling.hashBucket(col("doc_id"))
    val lab = docs.select(col("doc_id"),
        when(slice < targetBucketMax, lit(1.0))
          .when(slice >= rawBucketMin, lit(0.0)).as("y"))
      .where(col("y").isNotNull)
    val perScore = scored.join(lab, "doc_id")
      .groupBy(col("score"))
      .agg(sum(col("y")).as("np"), sum(lit(1.0) - col("y")).as("nn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val terms = perScore.select(col("np"), col("nn"),
      coalesce(sum(col("nn")).over(w), lit(0.0)).as("nnb"))
    terms.agg(sum(col("np")).as("npos"), sum(col("nn")).as("nneg"),
        sum(col("np") * (col("nnb") + col("nn") / 2)).as("u"))
      .select(col("npos").cast("bigint").as("n_pos"),
        col("nneg").cast("bigint").as("n_neg"),
        when(col("npos") === 0 || col("nneg") === 0, lit(0.5))
          .otherwise(round(col("u") / (col("npos") * col("nneg")), 6))
          .as("auc"))
  }

  /** Least-squares slope/intercept/R² of `ly` on `lx` over a SMALL keyed
    * frame — the shared closed-form OLS core of [[zipfFit]]/[[heapsFit]].
    * One aggregation over rows that are already ≤ a few hundred by
    * construction; emits one row. */
  private def olsFit(pts: DataFrame, lx: Column, ly: Column): DataFrame =
    pts.agg(count(lit(1)).as("n_points"),
        avg(lx).as("mx"), avg(ly).as("my"),
        avg(lx * lx).as("mxx"), avg(ly * ly).as("myy"),
        avg(lx * ly).as("mxy"))
      .select(col("n_points"),
        ((col("mxy") - col("mx") * col("my")) /
          (col("mxx") - col("mx") * col("mx"))).as("slope"),
        col("mx"), col("my"), col("mxx"), col("myy"), col("mxy"))
      .select(col("n_points"), col("slope"),
        (col("my") - col("slope") * col("mx")).as("intercept"),
        // R² = corr²; guard the zero-variance degenerate corpus
        when((col("mxx") - col("mx") * col("mx")) === 0.0 ||
             (col("myy") - col("my") * col("my")) === 0.0, lit(0.0))
          .otherwise(
            pow(col("mxy") - col("mx") * col("my"), 2) /
              ((col("mxx") - col("mx") * col("mx")) *
               (col("myy") - col("my") * col("my")))).as("r2"))

  /** Zipf-law fit over the token frequency spectrum: OLS of ln(freq) on
    * ln(rank) for the top-`k` tokens (rank ties broken by token text, the
    * [[tokenTopK]] contract). A healthy natural-language corpus fits
    * slope ≈ −1 with high R²; a flat slope flags boilerplate/template
    * floods and a cliff flags vocabulary collapse — the dataset-card
    * number next to [[tokenHll]]'s distinct count.
    *
    * Scale shape: ONE token-keyed count with map-side partials (the
    * [[tokenTopK]] aggregation), a k-row bounded sort, then [[olsFit]]
    * over k rows on the driver-adjacent side — no corpus-sized shuffle
    * beyond the count. */
  def zipfFit(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = lowerTok(docs)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w")).limit(k)
      .select(col("c"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("c"), asc("w"))).as("rank"))
    olsFit(counts, log(col("rank").cast("double")), log(col("c").cast("double")))
      // + 0.0 after the round: a DEGENERATE corpus (constant ly) makes the
      // slope a mathematically-zero float whose SIGN depends on summation
      // order — DuckDB's round then emits -0.0 vs Spark's 0.0 and the
      // cross-engine hash breaks nondeterministically. IEEE -0.0 + 0.0 is
      // +0.0 and the addition is identity for every other value; the
      // oracle applies the same normalization.
      .select(col("n_points"), (round(col("slope"), 6) + lit(0.0)).as("slope"),
        (round(col("intercept"), 6) + lit(0.0)).as("intercept"),
        (round(col("r2"), 6) + lit(0.0)).as("r2"))
  }

  /** Heaps-law fit V(n) ≈ K·n^β — vocabulary growth against corpus size.
    * Reading the corpus in doc_id order, the checkpoint after ordered doc
    * group g has n = tokens seen so far and V = distinct tokens seen so
    * far; β comes from OLS of ln V on ln n over the `groups` checkpoints.
    * β well below the ~0.4-0.6 natural-language band means the tail of the
    * corpus adds no new vocabulary — the global signature of large-scale
    * duplication that per-doc dedup scores cannot see.
    *
    * Scale shape: the cumulative-distinct problem is reduced to two
    * token-keyed aggregations — a token's FIRST group (`min(doc group)`,
    * the group where it enters the vocabulary) and per-group token counts —
    * plus a `groups`-row cumulative window. No global row ordering, no
    * per-occurrence window: the only single-partition step is over
    * `groups` rows. A doc's group is a deterministic hash bucket of its
    * id, read as an arbitrary-but-fixed corpus order — any fixed order is
    * a valid Heaps draw, and hash order avoids the skew a time-ordered
    * crawl would inject into id-ordered reading. */
  def heapsFit(docs: DataFrame, groups: Int = 16): DataFrame = {
    require(groups >= 2, s"groups must be >= 2, got $groups")
    val g = Sampling.hashBucket(col("doc_id"), groups).cast("bigint").as("g")
    val tok = lowerTok(docs).select(col("w"), g)
    val perGroup = tok.groupBy(col("g")).agg(count(lit(1)).as("toks"))
    val firstIn = tok.groupBy(col("w")).agg(min(col("g")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("vnew"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("g"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pts = perGroup.join(firstIn, Seq("g"), "left")
      .select(col("g"), col("toks"), coalesce(col("vnew"), lit(0L)).as("vnew"))
      .select(col("g"), sum(col("toks")).over(w).as("n"),
        sum(col("vnew")).over(w).as("v"))
      .where(col("n") > 0 && col("v") > 0)
    // Emit ln K (the OLS intercept) rather than K = exp(intercept): exp
    // amplifies the sub-ulp cross-engine differences of ln past any fixed
    // rounding grid, while the intercept itself is stable at 6 dp — the
    // same contract zipf_fit uses. Consumers recover K = exp(ln_k).
    olsFit(pts, log(col("n").cast("double")), log(col("v").cast("double")))
      // + 0.0: negative-zero normalization — see zipfFit. heapsFit is the
      // fit that actually GOES degenerate in practice (a small fixed
      // vocabulary makes V(n) constant, slope exactly 0), so the -0.0
      // hazard is live here, not just theoretical.
      .select(col("n_points"), (round(col("slope"), 6) + lit(0.0)).as("beta"),
        (round(col("intercept"), 6) + lit(0.0)).as("ln_k"),
        (round(col("r2"), 6) + lit(0.0)).as("r2"))
  }
}
