package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Gate, Tables}

/** Text-analysis operators for large-scale training-data pipelines, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * These extend the engine beyond the reference's validation surface
  * (SURVEY.md §7.1 step 5 / the north-star extensions in BASELINE.json):
  * exact deduplication, corpus statistics, quality scoring, tokenization,
  * and content fingerprinting. Everything is built from codegen'd Catalyst
  * expressions (regexp_extract_all / higher-order array functions) — no
  * UDFs, no driver-side loops — so each op is a narrow map stage plus at
  * most one shuffle for its aggregation.
  */
object TextOps {

  /** Whitespace tokens of a text column (`\S+` runs, like a whitespace
    * pre-tokenizer). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** 60-bit hash of a string column: first 15 hex chars of its md5, as a
    * non-negative long. Chosen over Spark's murmur3 `hash()` because md5
    * is bit-identical across engines (the DuckDB oracle computes the same
    * value), and 60 bits keep collision odds negligible at 100 TB corpus
    * sizes (~2^30 docs → p ≈ 2^-1 birthday bound is fine per-band, and
    * exact-dedup uses the full 128-bit md5). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- d1
  /** Exact content dedup: keep the lowest doc_id per distinct text.
    * Dedup key is the full md5 of the text, so the shuffle moves 16-byte
    * hashes + tiny payloads, never the documents themselves — at 100 TB
    * this is one hash-partitioned shuffle on a uniformly distributed key
    * (no skew: identical docs are exactly the duplicates being removed). */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("text_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val d1Oracle: String =
    """SELECT doc_id, lang, source, n_chars FROM documents
       QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- d5
  /** Corpus statistics per language: doc counts, token counts, length
    * distribution. Token counting is a map-side expression; the groupBy
    * key has ~languages cardinality, so partial aggregation collapses
    * everything before the (tiny) shuffle. */
  def d5TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  val d5Oracle: String =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens,
       round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       max(n_chars) AS max_chars
       FROM documents GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- d6
  /** Per-document quality scoring: token count, average word length,
    * stopword ratio, and a length-window flag — the standard cheap
    * filters applied before expensive pipeline stages. Pure map stage:
    * at 100 TB this runs at scan speed with zero shuffles (the final
    * orderBy exists only for the deterministic driver compare).
    * Token-less documents get NULL ratios in BOTH engines (the guard,
    * not engine division semantics, decides — Spark's non-ANSI x/0 is
    * NULL while DuckDB's is NaN, so an unguarded ratio would diverge). */
  def d6QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    Tables.loadSpread(spark, dir, "documents")
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        when(nTok > 0,
          round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") / nTok, 4))
          .as("avg_word_len"),
        when(nTok > 0,
          round(size(filter(toks, t => t === "the" || t === "a" || t === "of"))
            .cast("double") / nTok, 4)).as("stopword_ratio"),
        when(col("n_chars").between(150, 450), lit(1)).otherwise(lit(0)).as("len_ok"))
      .orderBy("doc_id")
  }

  val d6Oracle: String =
    """SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
             / NULLIF(len(regexp_extract_all(text, '\S+')), 0), 4) AS avg_word_len,
       round(len(list_filter(regexp_extract_all(text, '\S+'),
                             t -> t IN ('the', 'a', 'of'))) * 1.0
             / NULLIF(len(regexp_extract_all(text, '\S+')), 0), 4) AS stopword_ratio,
       CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1 ELSE 0 END AS len_ok
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- d7
  /** BPE-ish token counting per source: alphabetic runs, digit runs, and
    * single non-alphanumeric marks — the pre-tokenization most BPE
    * vocabularies assume. Same map + tiny-key aggregation shape as d5. */
  def d7TokenCount(spark: SparkSession, dir: String): DataFrame = {
    val bpe = size(regexp_extract_all(
      col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("n_bpe", bpe)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("sum_bpe_tokens"),
        max(col("n_bpe")).as("max_bpe_tokens"))
      .orderBy("source")
  }

  val d7Oracle: String =
    """SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
         AS sum_bpe_tokens,
       max(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
         AS max_bpe_tokens
       FROM documents GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- d8
  /** Document fingerprinting: a 60-bit content hash of the
    * case-normalized text plus a 64-way band assignment — the primitive
    * used for sharded dedup joins (band = shuffle key → co-locates likely
    * duplicates without moving full texts). */
  def d8Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(
        col("doc_id"),
        hash60(lower(col("text"))).as("fp"))
      .withColumn("band", col("fp") % 64)
      .orderBy("doc_id")

  val d8Oracle: String =
    """SELECT doc_id,
       ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT AS fp,
       ('0x' || substr(md5(lower(text)), 1, 15))::BIGINT % 64 AS band
       FROM documents ORDER BY doc_id"""

  // --------------------------------------------------------------- d13
  /** Marker-word language-ID per language (the n-gram-heuristic family:
    * score each language by its marker-token hits, predict the argmax
    * with a fixed priority order on ties) and report the confusion
    * matrix against the labeled `lang` column. Pure map stage + a
    * tiny-key aggregate.
    *
    * Honesty note: the driver's synthetic corpus draws every language
    * from the SAME English word pool (verified: per-lang top vocabularies
    * are identical), so accuracy here is near-chance by construction —
    * the query gates the deterministic mechanism, which is what transfers
    * to a real corpus with real marker vocabularies. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "a"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "los", "y", "las"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("wo", "ni", "shi", "bu"))

  def d13LangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scores = LangMarkers.map { case (langName, markers) =>
      langName -> size(filter(toks,
        t => markers.map(m => t === m).reduce(_ || _)))
    }
    // argmax with the LangMarkers order as tie-break priority
    val predicted = scores.init.zipWithIndex.foldRight(
      lit(scores.last._1): Column) { case (((langName, s), i), rest) =>
      val laterScores = scores.drop(i + 1).map(_._2)
      when(laterScores.map(s >= _).reduce(_ && _), lit(langName)).otherwise(rest)
    }
    Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val d13Oracle: String = {
    def scoreSql(markers: Seq[String]): String =
      s"len(list_filter(regexp_extract_all(text, '\\S+'), " +
        s"t -> t IN (${markers.map(m => s"'$m'").mkString(", ")})))"
    val caseChain = LangMarkers.init.zipWithIndex.map { case ((langName, m), i) =>
      val cond = LangMarkers.drop(i + 1)
        .map { case (_, m2) => s"${scoreSql(m)} >= ${scoreSql(m2)}" }
        .mkString(" AND ")
      s"WHEN $cond THEN '$langName'"
    }.mkString(" ")
    s"""SELECT lang, predicted, count(*) AS n FROM (
         SELECT lang,
           CASE $caseChain ELSE '${LangMarkers.last._1}' END AS predicted
         FROM documents)
       GROUP BY lang, predicted ORDER BY lang, predicted"""
  }

  // --------------------------------------------------------------- d18
  /** Deterministic STRATIFIED SAMPLING ("data mixing"): each source
    * stratum keeps a target fraction of its documents — the mixture-
    * weighting primitive of corpus assembly. The demo derives each
    * stratum's target rate from the source-name hash (20/50/80% — a
    * stand-in for a real mixture config); selection hashes the doc_id,
    * so membership is CONTENT-STABLE: re-runs, retries, and incremental
    * extensions of a 100 TB job keep exactly the same documents, with
    * no RNG state to coordinate across executors. Pure map stage + a
    * tiny per-source aggregate. */
  /** The d18 mixture policy as reusable expressions — ONE definition of
    * the per-source target rate and the hash-stable keep decision,
    * consumed by the d18 report and the d39 token-yield planner so the
    * two can never disagree on what the mixture selects. */
  private[graft] def mixRate: Column = (hash60(col("source")) % 3) * 30 + 20
  private[graft] def mixKeep: Column =
    (hash60(col("doc_id").cast("string")) % 100) < mixRate

  def d18SampleMix(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(mixKeep, 1L).otherwise(0L)).as("n_kept"),
        max(mixRate).as("target_pct"))
      .withColumn("kept_pct",
        round(col("n_kept") * 100.0 / col("n_docs"), 1))
      .orderBy("source")

  val d18Oracle: String =
    """SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100
                       < ('0x'||substr(md5(source),1,15))::BIGINT % 3 * 30 + 20
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       max(('0x'||substr(md5(source),1,15))::BIGINT % 3 * 30 + 20) AS target_pct,
       round(sum(CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100
                        < ('0x'||substr(md5(source),1,15))::BIGINT % 3 * 30 + 20
                 THEN 1 ELSE 0 END) * 100.0 / count(*), 1) AS kept_pct
       FROM documents GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------- d39
  /** Mixture TOKEN-YIELD planner — what the d18 sampling policy
    * actually delivers in TOKENS, per source and overall: training
    * budgets are token-denominated, and doc-level keep rates are a poor
    * proxy when document lengths vary by source. Reports, per source,
    * the corpus tokens, the tokens the mixture keeps (exact hash
    * membership, not rate × total), and the yield percentage, plus a
    * TOTAL row — "will this mixture hit the token budget?" answered
    * before any shard is written.
    *
    * Scale shape: one tokenize-and-count scan (the count is a narrow
    * map; token arrays never leave the scan stage) + a tiny per-source
    * aggregate; the TOTAL row is a rollup of the same partials. */
  def d39MixtureTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).as("n_tok"),
        when(mixKeep, lit(1L)).otherwise(0L).as("k"))
      .rollup("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(when(col("k") === 1, col("n_tok")).otherwise(0L))
          .as("kept_tokens"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_tokens"), col("kept_tokens"))
      .withColumn("kept_token_pct",
        round(col("kept_tokens") * 100.0 / col("n_tokens"), 1))
      .orderBy("source")

  val d39Oracle: String =
    """SELECT coalesce(source, 'TOTAL') AS source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN k = 1 THEN n_tok ELSE 0 END) AS BIGINT)
           AS kept_tokens,
         round(sum(CASE WHEN k = 1 THEN n_tok ELSE 0 END) * 100.0
           / sum(n_tok), 1) AS kept_token_pct
       FROM (
         SELECT source, len(regexp_extract_all(text, '\S+')) AS n_tok,
           CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100
                  < ('0x'||substr(md5(source),1,15))::BIGINT % 3 * 30 + 20
                THEN 1 ELSE 0 END AS k
         FROM documents)
       GROUP BY ROLLUP (source) ORDER BY source"""

  // --------------------------------------------------------------- d66
  /** TEMPERATURE-SCALED mixture reweighting — the multinomial
    * source-sampling policy of multilingual/multi-source training runs
    * (public: XLM-R, Conneau et al. 2020, arXiv:1911.02116 §3.1; mT5):
    * sampling a source proportionally to its token share p_s starves
    * small sources, so train-time shares are re-drawn from
    * q_s ∝ p_s^α (α = 0.3 here, the XLM-R setting) — flattening the
    * distribution toward uniform while keeping the big-source ordering.
    * Reports, per source, the raw token share `p_raw`, the tempered
    * share `p_mix`, and `boost` = q_s/p_s (how many epochs of the
    * source one pass of the mixture consumes — >1 = upsampled).
    *
    * Scale shape: ONE tokenize-and-count corpus scan collapses to a
    * per-source aggregate (~sources rows); both normalizing totals are
    * 1-row aggregates OF THAT AGGREGATE, re-attached as broadcast
    * cross joins — nothing after the scan is corpus-sized, and the
    * scan itself is the same partial-aggregated map d5/d7 run. */
  private val MixAlpha = 0.3

  def d66MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val totTokens = perSource.agg(sum("n_tokens").as("tot_tokens"))
    val tempered = perSource.crossJoin(broadcast(totTokens))
      .withColumn("p", col("n_tokens").cast("double") / col("tot_tokens"))
      .withColumn("w", pow(col("p"), lit(MixAlpha)))
    val totW = tempered.agg(sum("w").as("tot_w"))
    tempered.crossJoin(broadcast(totW))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p"), 4).as("p_raw"),
        round(col("w") / col("tot_w"), 4).as("p_mix"),
        round(col("w") / col("tot_w") / col("p"), 4).as("boost"))
      .orderBy("source")
  }

  val d66Oracle: String =
    s"""WITH s AS (
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
             AS n_tokens
         FROM documents GROUP BY source),
       t AS (
         SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s) AS p,
           pow(CAST(n_tokens AS DOUBLE)
             / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s), $MixAlpha)
             AS w
         FROM s)
       SELECT source, n_docs, n_tokens, round(p, 4) AS p_raw,
         round(w / (SELECT sum(w) FROM t), 4) AS p_mix,
         round(w / (SELECT sum(w) FROM t) / p, 4) AS boost
       FROM t ORDER BY source"""

  // --------------------------------------------------------------- d68
  /** SEQUENCE-LENGTH BUCKETING — the batch-shape audit run before
    * training: each document lands in the smallest power-of-2 token
    * bucket that holds it (floor 8, cap 512 = the context budget d21
    * packs to; longer docs TRUNCATE to the cap), and the report prices
    * each bucket's padding: `kept_tokens` are real, `padded_tokens` is
    * what a fixed-shape batch of that bucket actually occupies,
    * `pad_waste_pct` the difference, plus the tokens truncation loses.
    * "Which bucket mix wastes the least accelerator time" is read
    * straight off this table.
    *
    * Scale shape: identical to d5/d7 — the bucket is a constant
    * comparison chain in the scan's map stage, the aggregate has
    * ~log₂(cap) keys, partial aggregation collapses everything before
    * a tiny shuffle. */
  private val SeqCap = 512
  private val SeqBuckets: Seq[Int] = Seq(8, 16, 32, 64, 128, 256, SeqCap)

  def d68LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val bucket = SeqBuckets.init.foldRight(lit(SeqBuckets.last): Column) {
      (b, rest) => when(col("n_tok") <= b, lit(b)).otherwise(rest)
    }
    Tables.loadSpread(spark, dir, "documents")
      .select(size(tokens(col("text"))).as("n_tok"))
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), lit(SeqCap))).as("kept_tokens"),
        sum(greatest(col("n_tok") - SeqCap, lit(0))).as("truncated_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket"))
      .withColumn("pad_waste_pct",
        round((col("padded_tokens") - col("kept_tokens")) * 100.0
          / col("padded_tokens"), 1))
      .orderBy("bucket")
  }

  val d68Oracle: String = {
    val bucketSql = SeqBuckets.init
      .map(b => s"WHEN n_tok <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE ${SeqBuckets.last} END")
    s"""SELECT bucket, n_docs, kept_tokens, truncated_tokens,
         n_docs * bucket AS padded_tokens,
         round(CAST(n_docs * bucket - kept_tokens AS DOUBLE) * 100.0
           / (n_docs * bucket), 1) AS pad_waste_pct
       FROM (
         SELECT $bucketSql AS bucket, count(*) AS n_docs,
           CAST(sum(least(n_tok, $SeqCap)) AS BIGINT) AS kept_tokens,
           CAST(sum(greatest(n_tok - $SeqCap, 0)) AS BIGINT)
             AS truncated_tokens
         FROM (SELECT len(regexp_extract_all(text, '\\S+')) AS n_tok
               FROM documents)
         GROUP BY 1)
       ORDER BY bucket"""
  }

  // --------------------------------------------------------------- d19
  /** Corpus VOCABULARY: top-30 case-normalized tokens by frequency with
    * rank — the vocabulary/frequency-table primitive behind tokenizer
    * training and stopword induction. At 100 TB the explode dominates
    * and partial aggregation collapses per-partition counts before the
    * one shuffle on token; the top-30 is then a distributed
    * TakeOrderedAndProject (per-partition heaps, 30 rows to the driver
    * side of the exchange) — NOT a global-sort window, which would drag
    * the entire vocabulary (easily 10^8 rows for a web corpus) through
    * a single partition. Rank is then RE-DERIVED from the data rather
    * than read off the fetch order: the 30 survivors collapse into one
    * struct array keyed (-n, token) — struct ordering gives n desc then
    * token asc, the exact top-k sort key — and `array_sort` +
    * `posexplode` yields the position. No window node (so no
    * empty-partition-spec single-partition warning, an invariant
    * OpsSpec pins repo-wide), and unlike
    * `monotonically_increasing_id` over the fetch order this stays
    * correct even if a runtime config (e.g. a lowered
    * `topKSortFallbackThreshold`) swaps TakeOrderedAndProject for a
    * Sort + GlobalLimit plan whose fetch order is unspecified. The
    * global aggregate sees only the 30 post-limit rows. */
  def d19Vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(30)
      .agg(collect_list(
        struct((-col("n")).as("neg_n"), col("token").as("token"),
          col("n").as("n"))).as("rows"))
      .select(posexplode(array_sort(col("rows"))).as(Seq("pos", "r")))
      .select(col("r.token").as("token"), col("r.n").as("n"),
        (col("pos") + 1).cast("int").as("rank"))

  val d19Oracle: String =
    """SELECT token, n, rank FROM (
         SELECT token, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rank
         FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
               FROM documents)
         GROUP BY token)
       WHERE rank <= 30 ORDER BY rank"""

  // --------------------------------------------------------------- d21
  /** SEQUENCE PACKING: assign documents to fixed-token-budget bins (the
    * step right before training shards are written — concatenate docs
    * until the context budget fills, start the next bin). Exact greedy
    * packing is inherently sequential; the distributed formulation packs
    * WITHIN each source partition by running-token-cumsum div budget —
    * each shard's packing is local to its partition key, so the whole
    * pass is one window per source (no global sequential bottleneck),
    * which is how packing actually runs over a 100 TB corpus: per
    * output shard, not per corpus. Bins can overflow by at most one
    * document — the standard "pack then truncate/pad" contract. */
  private val PackBudget = 512

  def d21Packing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // greatest(·,1) pins a leading zero-token doc to bin 0 (a raw
        // cum_tokens of 0 would otherwise floor to bin -1)
        floor((greatest(col("cum_tokens"), lit(1)) - 1) / PackBudget)
          .as("bin_id"),
        col("cum_tokens"))
      .orderBy("doc_id")
  }

  val d21Oracle: String =
    s"""SELECT doc_id, source, n_tokens,
         CAST(floor((greatest(cum_tokens, 1) - 1) / $PackBudget) AS BIGINT) AS bin_id,
         cum_tokens
       FROM (
         SELECT doc_id, source,
           len(regexp_extract_all(text, '\\S+')) AS n_tokens,
           CAST(sum(len(regexp_extract_all(text, '\\S+'))) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
         FROM documents)
       ORDER BY doc_id"""

  // --------------------------------------------------------------- d99
  /** Per-source repeat cap, in epochs: no source may contribute more
    * than this many passes over itself to the mixture (UniMax's N). */
  private[graft] val EpochCap = 3L

  /** Mixture token budget as a fraction of one corpus pass, kept as an
    * integer ratio (14/5 = 2.8 epochs of the whole corpus) so the
    * budget — and the whole allocation below it — is computed in exact
    * BIGINT arithmetic in both engines. */
  private[graft] val BudgetNum = 14L
  private[graft] val BudgetDen = 5L

  /** EPOCH-CAPPED MIXTURE ALLOCATION (UniMax — Chung et al. 2023,
    * arXiv:2304.09151, public): distribute a total token budget across
    * sources as uniformly as possible subject to a per-source repeat
    * cap of [[EpochCap]] epochs. The optimum is water-filling:
    * `alloc_s = min(cap_s, τ)` with the waterline τ chosen so the
    * allocations exhaust the budget — small sources are fully consumed
    * at their cap, large sources are leveled at τ. This is the
    * principled alternative to d66's temperature heuristic: instead of
    * tuning α, the cap directly bounds repetition (the quantity that
    * actually degrades models).
    *
    * The waterline comes from the sorted-prefix characterization: with
    * sources ordered by cap ascending, a source is FULLY allocated iff
    * `cap_i · (k−i+1) ≤ B − Σ_{j<i} cap_j` — the flag is monotone in i
    * (proof: the difference between consecutive left-hand sides is
    * `(k−i)(cap_{i+1}−cap_i) ≥ 0`), so the first failing row fixes
    * τ = ⌊remaining budget / sources remaining⌋, computed here with
    * `min_by` over the not-full rows. ALL arithmetic below the token
    * count is BIGINT (the budget is an integer ratio, τ a floor
    * division), so both engines agree bit-for-bit with no float
    * tolerance anywhere.
    *
    * Scale shape: one tokenize-and-count corpus scan collapses to the
    * per-source aggregate (~sources rows); the ordering/prefix-sum runs
    * through [[GlobalOrder.runningTotal]] (range exchange, no
    * single-partition window even on the tiny aggregate — the repo-wide
    * ban has no "small enough" exemption), and the waterline is a 1-row
    * aggregate broadcast back. Nothing after the scan is corpus-sized. */
  def d99EpochMix(spark: SparkSession, dir: String): DataFrame =
    epochAlloc(spark, dir)
      .select(col("source"), col("n_tokens"), col("cap"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast("double")
          / col("n_tokens").cast("double"), 4).as("epochs"))
      .orderBy("source")

  /** The UniMax allocation frame (source, n_tokens, cap, alloc_tokens)
    * — d99's water-filling core, reused by d132's epoch-plan
    * materializer (two drifting copies of the waterline would fork
    * what "the mixture" means between the decision and its
    * execution). */
  private[graft] def epochAlloc(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
      .withColumn("cap", col("n_tokens") * EpochCap)
    val totals = broadcast(per.agg(
      count(lit(1)).as("k"),
      expr(s"sum(n_tokens) * $BudgetNum div $BudgetDen").as("budget")))
    val g = GlobalOrder
      .runningTotal(per, Seq(col("cap").asc, col("source").asc), col("cap"))
      .crossJoin(totals)
      .withColumn("is_full",
        col("cap") * (col("k") - col("rank") + 1) <=
          col("budget") - (col("running") - col("cap")))
      .localCheckpoint()
    val tau = broadcast(g.filter(!col("is_full"))
      .agg(min_by(col("budget") - (col("running") - col("cap")), col("rank"))
             .as("num"),
           min_by(col("k") - col("rank") + 1, col("rank")).as("den"))
      .select(expr("num div den").as("tau")))
    val alloc = when(col("is_full"), col("cap"))
      .otherwise(coalesce(col("tau"), col("cap")))
    g.crossJoin(tau)
      .select(col("source"), col("n_tokens"), col("cap"),
        alloc.as("alloc_tokens"))
  }

  /** The d99 water-filling as oracle CTEs (`alloc` is the output) —
    * shared verbatim by d99 and d132, the same single-definition rule
    * as the Spark side's [[epochAlloc]]. */
  private[graft] val epochAllocCtes: String =
    s"""s AS (
         SELECT source,
           CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
             AS n_tokens
         FROM documents GROUP BY source),
       caps AS (SELECT source, n_tokens, n_tokens * $EpochCap AS cap FROM s),
       tot AS (
         SELECT CAST(count(*) AS BIGINT) AS k,
           (CAST(sum(n_tokens) AS BIGINT) * $BudgetNum) // $BudgetDen
             AS budget
         FROM caps),
       r AS (
         SELECT source, n_tokens, cap,
           row_number() OVER (ORDER BY cap, source) AS rank,
           CAST(sum(cap) OVER (ORDER BY cap, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running
         FROM caps),
       g AS (
         SELECT r.*, k, budget,
           cap * (k - rank + 1) <= budget - (running - cap) AS is_full
         FROM r, tot),
       tau AS (
         SELECT min_by(budget - (running - cap), rank)
                  // min_by(k - rank + 1, rank) AS tau
         FROM g WHERE NOT is_full),
       alloc AS (
         SELECT source, n_tokens, cap,
           CAST(CASE WHEN is_full THEN cap
                     ELSE coalesce(tau, cap) END AS BIGINT) AS alloc_tokens
         FROM g, tau)"""

  val d99Oracle: String =
    s"""WITH $epochAllocCtes
       SELECT source, n_tokens, cap, alloc_tokens,
         round(CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
           AS epochs
       FROM alloc ORDER BY source"""

  // -------------------------------------------------------------- d132
  /** EPOCH-PLAN MATERIALIZATION — d99 decides HOW MANY tokens each
    * source contributes; this turns the decision into an executable
    * plan: each source's allocation is `n_full_epochs` complete passes
    * (every document) plus one FRACTIONAL pass — the hash-ordered
    * document prefix whose cumulative tokens first covers the
    * fractional remainder (a document is in the fractional pass iff
    * its running total STARTS below the target, so the pass overshoots
    * by at most one document — the greedy fill a sequential shard
    * writer implements). The order is a seeded reproducible
    * pseudo-random permutation per source (md5 of source:doc_id — the
    * `writeShards shuffled` discipline), so re-materializing the plan
    * is deterministic and a new epoch reshuffles by changing the salt.
    * Emits the per-source plan summary: doc and token realization
    * against the allocation, all in exact BIGINT.
    *
    * Scale shape: the allocation side is a broadcast (~sources rows);
    * the corpus side pays ONE source-keyed window exchange for the
    * per-source running totals (hash order makes every prefix
    * unbiased, so the fractional pick needs no second pass), then
    * collapses to the per-source summary in the same partitioning —
    * one exchange total. The materialized pick itself would be the
    * filter `running − t < frac_target` on the SAME frame — this op
    * gates the plan arithmetic; the full pick list is that filter's
    * output, not a separate computation. */
  def d132EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = broadcast(epochAlloc(spark, dir)
      .withColumn("n_full_epochs",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("alloc_tokens div n_tokens")))
      .withColumn("frac_target",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(col("alloc_tokens") % col("n_tokens")))
      .select("source", "n_tokens", "alloc_tokens", "n_full_epochs",
        "frac_target"))
    val w = Window.partitionBy("source").orderBy("hh", "doc_id")
    Tables.loadSpread(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("t"))
      .withColumn("hh", hash60(concat(col("source"), lit(":"),
        col("doc_id").cast("string"))))
      .withColumn("running", sum("t").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(alloc, "source")
      .withColumn("sel", col("running") - col("t") < col("frac_target"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        first("n_tokens").as("n_tokens"),
        first("alloc_tokens").as("alloc_tokens"),
        first("n_full_epochs").as("n_full_epochs"),
        first("frac_target").as("frac_target"),
        coalesce(sum(when(col("sel"), 1L)), lit(0L)).as("n_frac_docs"),
        coalesce(sum(when(col("sel"), col("t"))), lit(0L)).as("frac_real"))
      .withColumn("realized_tokens",
        col("n_full_epochs") * col("n_tokens") + col("frac_real"))
      .orderBy("source")
  }

  val d132Oracle: String =
    s"""WITH $epochAllocCtes,
       plan AS (
         SELECT source, n_tokens, alloc_tokens,
           CASE WHEN n_tokens = 0 THEN 0
             ELSE alloc_tokens // n_tokens END AS n_full_epochs,
           CASE WHEN n_tokens = 0 THEN 0
             ELSE alloc_tokens % n_tokens END AS frac_target
         FROM alloc),
       t2 AS (
         SELECT source, doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS t,
           ('0x'||substr(md5(source||':'||CAST(doc_id AS VARCHAR)),1,15))
             ::BIGINT AS hh
         FROM documents),
       r2 AS (
         SELECT source, doc_id, t,
           CAST(sum(t) OVER (PARTITION BY source ORDER BY hh, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running
         FROM t2),
       j AS (SELECT r2.*, p.n_tokens, p.alloc_tokens, p.n_full_epochs,
               p.frac_target
             FROM r2 JOIN plan p USING (source))
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs, n_tokens,
         alloc_tokens, n_full_epochs, frac_target,
         CAST(coalesce(sum(CASE WHEN running - t < frac_target THEN 1 END),
           0) AS BIGINT) AS n_frac_docs,
         CAST(coalesce(sum(CASE WHEN running - t < frac_target THEN t END),
           0) AS BIGINT) AS frac_real,
         CAST(n_full_epochs * n_tokens
           + coalesce(sum(CASE WHEN running - t < frac_target THEN t END), 0)
           AS BIGINT) AS realized_tokens
       FROM j
       GROUP BY source, n_tokens, alloc_tokens, n_full_epochs, frac_target
       ORDER BY source"""

  // -------------------------------------------------------------- d100
  /** Vocabulary size for the OOV audit — top-V tokens by corpus
    * frequency (d19's definition, V raised to a closed-vocab size). */
  private[graft] val OovVocabSize = 1000

  /** OUT-OF-VOCABULARY RATE — per-document share of tokens outside the
    * top-[[OovVocabSize]] corpus vocabulary: the coverage statistic
    * behind closed-vocab tokenizer sizing (what fraction of the corpus
    * becomes <unk>) and a strong gibberish/boilerplate signal (a doc
    * whose tokens are mostly corpus-rare is noise, a different failure
    * mode than d20's self-repetition or d25's distributional
    * surprisal).
    *
    * Scale shape: the tokenized projection is checkpointed once and
    * feeds both consumers (vocabulary build and per-doc count) — one
    * corpus tokenize, the d24 discipline. The vocabulary is a
    * TakeOrdered head (per-partition heaps) broadcast to the
    * membership join, so the per-doc pass is map-side: explode, probe
    * the broadcast, re-aggregate on doc_id. Zero-token docs are kept
    * (NULL rate) — dropping rows is the curation gate's job. */
  def d100OovRate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .localCheckpoint()
    val tok = t.select(col("doc_id"), explode(col("toks")).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(OovVocabSize)
      .select(col("token"), lit(1).as("iv"))
    val per = tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
    t.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tok"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(round(col("n_oov") * lit(1.0) / col("n_tok"), 4))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  val d100Oracle: String =
    s"""WITH t AS (
         SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         FROM documents),
       tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
       vocab AS (
         SELECT token FROM (
           SELECT token, count(*) AS n FROM tok GROUP BY token
           ORDER BY n DESC, token LIMIT $OovVocabSize)),
       per AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
         FROM tok LEFT JOIN vocab v ON tok.token = v.token
         GROUP BY doc_id)
       SELECT t.doc_id, coalesce(n_tok, 0) AS n_tok,
         coalesce(n_oov, 0) AS n_oov,
         CASE WHEN coalesce(n_tok, 0) = 0 THEN NULL
              ELSE round(n_oov * 1.0 / n_tok, 4) END AS oov_rate
       FROM t LEFT JOIN per USING (doc_id) ORDER BY t.doc_id"""

  // -------------------------------------------------------------- d105
  /** TOKENIZER FERTILITY per language — BPE-ish tokens per whitespace
    * word plus characters per token, by language: THE statistic behind
    * multilingual tokenizer sizing (a language with fertility 3× the
    * corpus mean pays 3× the context budget for the same content and
    * trains correspondingly worse — the observation motivating
    * XLM-R/mT5-style vocabulary rebalancing; fertility is the standard
    * published term). d7 counts the tokens per source; this computes
    * the RATIO per language, the number one actually acts on.
    *
    * Scale shape: one corpus scan, two regex extractions per row
    * fused in the same projection, collapsing to a per-language
    * aggregate (map-side partials). Nothing after the scan is
    * corpus-sized. Zero-token languages emit NULL ratios (CASE-guarded
    * in both engines) rather than NaN/divide-by-zero. */
  def d105TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val bpe = size(regexp_extract_all(
      col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
    Tables.loadSpread(spark, dir, "documents")
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_ws"),
        bpe.cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("n_ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_ws").as("ws_tokens"),
        sum("n_bpe").as("bpe_tokens"), sum("n_ch").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        when(col("ws_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(col("bpe_tokens") * lit(1.0) / col("ws_tokens"), 4))
          .as("fertility"),
        when(col("bpe_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_chars") * lit(1.0) / col("bpe_tokens"), 4))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  val d105Oracle: String =
    """SELECT lang, n_docs, ws_tokens, bpe_tokens,
         CASE WHEN ws_tokens = 0 THEN NULL
              ELSE round(bpe_tokens * 1.0 / ws_tokens, 4) END AS fertility,
         CASE WHEN bpe_tokens = 0 THEN NULL
              ELSE round(n_chars * 1.0 / bpe_tokens, 4) END AS chars_per_token
       FROM (
         SELECT lang, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY lang)
       ORDER BY lang"""

  // -------------------------------------------------------------- d229
  /** Case-clone id stride and offset: every doc whose id is a multiple
    * of the stride gets an UPPER-cased clone planted under
    * `doc_id + CloneIdOffset`, so the case-insensitive collapse path
    * runs on real rows at every scale (the corpus itself has exact
    * dups, but no case-variant ones — without the plant the collation
    * and binary groupings would agree and the gate could not tell
    * them apart). */
  private[graft] val CloneMod = 97L
  private[graft] val CloneIdOffset = 1000000L

  /** COLLATION-AWARE DEDUP (Spark 4 collations) — exact dedup under
    * the `UTF8_LCASE` collation: texts that differ only by letter case
    * are ONE group, collapsed by the engine's collation machinery in
    * the groupBy key itself rather than by a `lower()` projection.
    * The distinction matters operationally: a collated column carries
    * case-insensitive semantics through EVERY downstream comparison
    * (joins, DISTINCT, set ops) without each call site remembering to
    * re-apply the normalizer — the same reason databases put collation
    * in the type system. Output is one row per group: the surviving
    * (minimum) doc_id, the copy count, and the group's md5 over the
    * case-folded text.
    *
    * Oracle parity: DuckDB has no UTF8_LCASE, so the oracle groups by
    * `lower(text)`. For this corpus the two are IDENTICAL because the
    * texts are pure ASCII at every scale (verified; the 10× corpus
    * replicates texts byte-for-byte), where UTF8_LCASE's Unicode case
    * fold coincides with ASCII lower(). On non-ASCII data they can
    * legally diverge (final sigma, Turkish I) — that divergence is a
    * property of the collation, not a bug in either engine.
    *
    * Scale shape: identical to d1 — one hash-partitioned shuffle on
    * the (collated) text key; the planted clones are a 1-in-97 narrow
    * map union. The group key shuffles the case-folded text bytes
    * here (collation keys hash the fold); a 100 TB run would dedup on
    * `md5(lower(text))` first and keep the collated type for the
    * survivor table's downstream joins. */
  def d229CollationDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val clones = base.filter(col("doc_id") % CloneMod === 0)
      .select((col("doc_id") + CloneIdOffset).as("doc_id"),
        upper(col("text")).as("text"))
    base.unionByName(clones)
      .groupBy(collate(col("text"), "UTF8_LCASE").as("key"))
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))
      // lower() of ANY group member is the same string (ASCII), so the
      // group key's nondeterministic representative (first-seen casing)
      // never reaches the output
      .select(md5(lower(col("key"))).as("grp"),
        col("survivor_id"), col("n_copies"))
      .orderBy("survivor_id")
  }

  val d229Oracle: String =
    s"""WITH allr AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + $CloneIdOffset, upper(text) FROM documents
         WHERE doc_id % $CloneMod = 0)
       SELECT md5(lower(text)) AS grp, min(doc_id) AS survivor_id,
         count(*) AS n_copies
       FROM allr GROUP BY lower(text), md5(lower(text))
       ORDER BY survivor_id"""

  val gates: Seq[Gate] = Seq(
    Gate("d1_exact_dedup", d1ExactDedup, d1Oracle),
    Gate("d229_collation_dedup", d229CollationDedup, d229Oracle),
    Gate("d5_text_stats", d5TextStats, d5Oracle),
    Gate("d6_quality_score", d6QualityScore, d6Oracle),
    Gate("d7_token_count", d7TokenCount, d7Oracle),
    Gate("d8_fingerprint", d8Fingerprint, d8Oracle),
    Gate("d13_lang_id", d13LangId, d13Oracle),
    Gate("d18_sample_mix", d18SampleMix, d18Oracle),
    Gate("d39_mixture_tokens", d39MixtureTokens, d39Oracle),
    Gate("d66_mixture_weights", d66MixtureWeights, d66Oracle),
    Gate("d68_length_buckets", d68LengthBuckets, d68Oracle),
    Gate("d19_vocab", d19Vocab, d19Oracle),
    Gate("d21_packing", d21Packing, d21Oracle),
    Gate("d99_epoch_mix", d99EpochMix, d99Oracle),
    Gate("d132_epoch_plan", d132EpochPlan, d132Oracle),
    Gate("d100_oov_rate", d100OovRate, d100Oracle),
    Gate("d105_tokenizer_fertility", d105TokenizerFertility, d105Oracle))
}
