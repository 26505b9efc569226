package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Gate, Tables}

/** Near-duplicate detection over `documents` — the fuzzy half of the
  * dedup surface (BASELINE.json north-star; SURVEY.md §7.1 step 5).
  *
  * Scale design rule: NEVER all-pairs. Candidate generation is always a
  * bucketed equi-join (shuffle on a band/bucket hash), so the worst case
  * is quadratic only WITHIN a bucket, and the expected bucket size is
  * O(1) for non-duplicate content. Verified by `OpsSpec`: the
  * physical plan contains no CartesianProduct/BroadcastNestedLoopJoin.
  *
  * Two defenses keep pathological buckets from going quadratic:
  *  1. an EXACT-dedup pre-pass (same md5 grouping as [[TextOps.d1ExactDedup]])
  *     collapses byte-identical documents to one representative before any
  *     shingling, so a corpus with millions of identical boilerplate docs
  *     contributes ONE row per distinct text to the band join (their
  *     members rejoin via the exact-group edges in [[d15DedupClusters]]);
  *  2. a band-bucket CAP ([[MaxBucket]]) drops buckets whose size exceeds
  *     the threshold — a bucket that large among *distinct* texts means a
  *     degenerate band (near-constant content); its pairs are refused
  *     rather than allowed to blow up a task. Overflowing buckets are
  *     observable via [[overflowBuckets]] for pipeline monitoring.
  *
  * Hashing uses md5 prefixes (see [[TextOps.hash60]]) rather than Spark's
  * murmur3 so the DuckDB oracle can reproduce values bit-for-bit.
  */
object FuzzyDedup {

  /** MinHash parameters: 8 signatures → 4 bands × 2 rows. With the
    * band-collision probability 1-(1-j^2)^4, pairs at Jaccard 0.9 are
    * caught with p≈0.995 while 0.2-similar pairs collide with p≈0.16 —
    * and every candidate is then exactly verified, so false positives
    * only cost compute, never correctness. */
  private val NumHashes = graft.functions.MinHashSigs.NumHashes
  private val BandSize = 2
  private val NumBands = NumHashes / BandSize

  /** Band-bucket size cap: (band, bh) groups larger than this are
    * dropped from candidate generation (see class doc, defense 2).
    * 64 members → at most 64²/2 ≈ 2k pairs per bucket per band — bounded
    * task time even on adversarial corpora. */
  val MaxBucket = 64

  /** The 8 signatures come from ONE md5 per shingle plus a linear
    * permutation family h_s = (A_s·h + B_s) mod M — 8× less hashing than
    * seed-concatenated md5s (measured: the md5 was the whole cost of the
    * stage). M = 2^31-1 keeps every product < 2^62 (no overflow in either
    * engine). M/K1/K2 are owned by the native shingle expression
    * ([[graft.functions.ShingleHashes]]) and the permutation family by
    * the native signature expression ([[graft.functions.MinHashSigs]]);
    * both are aliased here for the oracle strings. */
  private val M = graft.functions.ShingleHashes.M
  private val PermA = graft.functions.MinHashSigs.PermA
  private val PermB = graft.functions.MinHashSigs.PermB

  /** Rolling-hash constants for combining token hashes into 3-word
    * shingle hashes (order-sensitive polynomial; all intermediates stay
    * under 2^62). */
  private val K1 = graft.functions.ShingleHashes.K1
  private val K2 = graft.functions.ShingleHashes.K2

  /** Exact-duplicate groups: doc_id → lowest doc_id sharing the same
    * md5(text). One window-min over the 16-byte hash — the shuffle moves
    * hashes, not text. */
  private def exactGroups(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      min(col("doc_id")).over(Window.partitionBy(md5(col("text")))).as("rep"))

  /** One representative row (lowest doc_id) per distinct text — the
    * exact-dedup pre-pass in front of the MinHash pipeline, and the
    * survivor rule the d38 funnel reuses (ONE definition of "exact-dedup
    * survivor" across d1/d2/d15/d38). Spark 4 plans
    * `row_number()==1` as WindowGroupLimit: the limit applies map-side
    * before the exchange, so N identical docs ship O(partitions) rows. */
  private[graft] def representatives(df: DataFrame): DataFrame =
    df.withColumn("text_hash", md5(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("text_hash").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .select("doc_id", "text")

  /** 3-word shingle HASHES per document, via the native
    * [[graft.functions.ShingleHashes]] expression: one md5 per token,
    * rolling-poly triple combination, single codegen'd pass. Shingle
    * strings are never materialized (measured: 8× the cost of everything
    * else), and unlike the earlier bind-then-`element_at` column
    * formulation, there is no projection for CollapseProject to re-inline
    * into O(tokens²) hashing when the array feeds `explode` (measured:
    * 48 s → scan speed on the d17 explode path). Documents with fewer
    * than 3 tokens fall back to one whole-text hash so they still dedup
    * exactly. */
  private[graft] def shingleHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      graft.functions.ShingleHashes(
        TextOps.tokens(col("text")),
        TextOps.hash60(col("text")) % M).as("shingles"))

  /** Distinct shingle hashes of a text column as a COLUMN expression —
    * for callers that must keep their other columns (the streaming
    * decontamination gate). `window` is the shingle length: 3 is the
    * gated default shared with the dedup family; production
    * decontamination runs 8–13 for precision (same machinery — the
    * window is unrolled into the generated code either way). */
  private[graft] def shingleSetCol(text: org.apache.spark.sql.Column,
      window: Int = 3): org.apache.spark.sql.Column =
    array_distinct(graft.functions.ShingleHashes(
      TextOps.tokens(text), TextOps.hash60(text) % M, window))

  private def shingled(df: DataFrame): DataFrame =
    shingleHashes(representatives(df))

  /** (doc_id, band, band-hash) rows: 8 min-hashes → 4 2-row band hashes,
    * exploded. The downstream self-join and the bucket-size cap both key
    * on (band, bh), so the exchange introduced by the cap's window count
    * is the same partitioning the join needs. */
  private def bandRows(df: DataFrame): DataFrame =
    bandRowsOfShingles(shingled(df))

  /** [[bandRows]] from an already-shingled (doc_id, shingles) frame —
    * shared with the incremental index build (d216), whose corpus and
    * batch sides shingle under DIFFERENT pre-passes. */
  private def bandRowsOfShingles(sh: DataFrame): DataFrame = {
    // all signatures in one native pass ([[graft.functions.MinHashSigs]])
    // instead of one interpreted array_min(transform(…)) per signature;
    // getItem on the result is codegen'd GetArrayItem
    val withMh = sh.select(col("doc_id"),
      graft.functions.MinHashSigs(col("shingles")).as("mh"))
    val bandStructs = (0 until NumBands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws(",",
          col("mh").getItem(BandSize * b).cast("string"),
          col("mh").getItem(BandSize * b + 1).cast("string"))).as("bh"))
    }
    withMh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** Diagnostic: band buckets whose size exceeds the cap (these are
    * EXCLUDED from candidate generation). At scale this feeds pipeline
    * monitoring — a non-empty result means degenerate near-constant
    * content that should be cleaned upstream. */
  def overflowBuckets(df: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    bandRows(df)
      .groupBy("band", "bh")
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Verified near-dup pairs among exact-representatives (unordered):
    * band equi-join on capped buckets → candidate pairs → exact
    * shingle-Jaccard verify. Shared core of [[d2MinhashDedup]] and
    * [[d15DedupClusters]]. */
  private[graft] def verifiedPairs(df: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val bands = bandRows(df)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bh")))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")

    val pairs = bands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    val sets = shingled(df)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  // --------------------------------------------------------------- d84
  /** Bounded audit sample: ids divisible by 7 below 700 — ≤100 docs at
    * ANY corpus size (a production audit samples by hash at a fixed
    * rate into a fixed cap; the residue form keeps the oracle plain). */
  private[graft] val RecallSampleMod = 7
  private[graft] val RecallSampleMax = 700L

  /** Token-prefix drop fractions for the planted variants — three
    * similarity strengths straddling the banding S-curve. */
  private[graft] val RecallDropFracs = Seq(0.05, 0.40, 0.70)

  /** MINHASH BANDING RECALL AUDIT — measures, instead of assuming, the
    * probabilistic half of the d2/d15 dedup stack. Organic near-dup
    * pairs are too rare in a bounded sample to estimate recall from
    * (measured: max organic sample-pair Jaccard here is 0.02), so the
    * audit PLANTS ground truth: each sampled document is paired with
    * deterministic variants of itself (a token prefix dropped at three
    * strengths), the exact shingle Jaccard of each pair is computed as
    * truth, and "would d2's 8-sig/4-band LSH have caught it" (some
    * band's both signatures equal) is evaluated against it, rolled up
    * per measured-Jaccard bucket. The S-curve made observable: high
    * buckets must sit near 1.0, low near 0 — corpus drift (shorter
    * docs, vocabulary shifts) moves these numbers, and this op notices
    * BEFORE the dedup silently under-recalls. Completes the
    * evaluation family: d53 audits the ANN index, d83 the truncated
    * embeddings, d84 the dedup banding.
    *
    * Scale shape: entirely ROW-LOCAL — original and variant live in
    * the same row, so shingles, signatures, Jaccard, and the band
    * predicate are one narrow pass over the bounded sample; the only
    * aggregate is the 3-row bucket rollup. The signature arithmetic is
    * the same native [[graft.functions.MinHashSigs]] the production
    * banding uses — auditing a reimplementation would audit nothing. */
  def d84MinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{MinHashSigs, ShingleHashes}
    val sample = Tables.loadSpread(spark, dir, "documents")
      .filter(col("doc_id") % RecallSampleMod === 0 &&
        col("doc_id") < RecallSampleMax)
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8) // a variant must still have shingles
    val bandEq = (0 until NumBands).map(b =>
      col("ma").getItem(BandSize * b) === col("mb").getItem(BandSize * b) &&
        col("ma").getItem(BandSize * b + 1) === col("mb").getItem(BandSize * b + 1))
      .reduce(_ || _)
    val pairs = sample
      .select(col("doc_id"), col("text"), col("toks"),
        explode(array(RecallDropFracs.map(lit(_)): _*)).as("f"))
      .withColumn("k", greatest(lit(1),
        floor(col("f") * size(col("toks"))).cast("int")))
      .withColumn("vtext",
        array_join(slice(col("toks"), col("k") + 1, size(col("toks"))), " "))
      .select(col("doc_id"), col("f"),
        array_distinct(ShingleHashes(col("toks"),
          TextOps.hash60(col("text")) % M)).as("sa"),
        array_distinct(ShingleHashes(TextOps.tokens(col("vtext")),
          TextOps.hash60(col("vtext")) % M)).as("sb"),
        MinHashSigs(ShingleHashes(col("toks"),
          TextOps.hash60(col("text")) % M)).as("ma"),
        MinHashSigs(ShingleHashes(TextOps.tokens(col("vtext")),
          TextOps.hash60(col("vtext")) % M)).as("mb"))
      .select(col("doc_id"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))), 4).as("j"),
        when(bandEq, 1L).otherwise(0L).as("collided"))
    pairs
      .withColumn("bucket",
        when(col("j") >= 0.75, "high >=0.75")
          .when(col("j") >= 0.45, "mid 0.45-0.75")
          .otherwise("low <0.45"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum("collided").as("n_collided"),
        round(sum("collided").cast("double") / count(lit(1)), 4).as("recall"))
      .orderBy("bucket")
  }

  val d84Oracle: String = {
    def sig(arr: String): Seq[String] = (0 until NumHashes).map(i =>
      s"list_min(list_transform($arr, h -> (h * ${PermA(i)} + ${PermB(i)}) % $M))")
    val collideSql = (0 until NumBands).map(b =>
      s"(ma[${BandSize * b + 1}] = mb[${BandSize * b + 1}] AND ma[${BandSize * b + 2}] = mb[${BandSize * b + 2}])")
      .mkString(" OR ")
    val fracs = RecallDropFracs.mkString("[", ", ", "]")
    s"""WITH sample AS (
         SELECT doc_id, text, regexp_extract_all(text, '\\S+') AS toks
         FROM documents
         WHERE doc_id % $RecallSampleMod = 0 AND doc_id < $RecallSampleMax
           AND len(regexp_extract_all(text, '\\S+')) >= 8),
       v AS (
         SELECT doc_id, text, toks,
           greatest(1, CAST(floor(f * len(toks)) AS INT)) AS k
         FROM sample, (SELECT unnest($fracs) AS f)),
       vt AS (
         SELECT doc_id, text, toks,
           toks[k+1:] AS vtoks,
           array_to_string(toks[k+1:], ' ') AS vtext
         FROM v),
       hashed AS (
         SELECT doc_id,
           list_transform(toks, t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS tha,
           list_transform(vtoks, t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS thb,
           text, vtext
         FROM vt),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(tha) >= 3
             THEN list_transform(range(1, len(tha)-1),
                    i -> (((tha[i] * $K1 + tha[i+1]) % $M) * $K2 + tha[i+2]) % $M)
             ELSE [('0x'||substr(md5(text),1,15))::BIGINT % $M] END AS sha,
           CASE WHEN len(thb) >= 3
             THEN list_transform(range(1, len(thb)-1),
                    i -> (((thb[i] * $K1 + thb[i+1]) % $M) * $K2 + thb[i+2]) % $M)
             ELSE [('0x'||substr(md5(vtext),1,15))::BIGINT % $M] END AS shb
         FROM hashed),
       sigs AS (
         SELECT doc_id, list_distinct(sha) AS sa, list_distinct(shb) AS sb,
           ${sig("sha").zipWithIndex.map { case (e, i) => s"$e AS a$i" }.mkString(", ")},
           ${sig("shb").zipWithIndex.map { case (e, i) => s"$e AS b$i" }.mkString(", ")}
         FROM sh),
       p AS (
         SELECT doc_id,
           round(len(list_intersect(sa, sb)) * 1.0
             / len(list_distinct(list_concat(sa, sb))), 4) AS j,
           [${(0 until NumHashes).map(i => s"a$i").mkString(", ")}] AS ma,
           [${(0 until NumHashes).map(i => s"b$i").mkString(", ")}] AS mb
         FROM sigs),
       keep AS (
         SELECT CASE WHEN j >= 0.75 THEN 'high >=0.75'
                     WHEN j >= 0.45 THEN 'mid 0.45-0.75'
                     ELSE 'low <0.45' END AS bucket,
           CASE WHEN $collideSql THEN 1 ELSE 0 END AS collided
         FROM p)
       SELECT bucket, count(*) AS n_pairs,
         CAST(sum(collided) AS BIGINT) AS n_collided,
         round(sum(collided) * 1.0 / count(*), 4) AS recall
       FROM keep GROUP BY bucket ORDER BY bucket"""
  }

  // ---------------------------------------------------------------- d2
  /** MinHash + LSH banding dedup:
    * exact-dedup pre-pass → shingle → 8 min-hashes → 4 band hashes →
    * explode → capped equi-join on (band, band_hash) → candidate pairs →
    * exact shingle-Jaccard verify.
    *
    * At 100 TB: the only shuffles are (a) the band-hash exchange, whose
    * payload is (doc_id, 32-byte hash) — not document text — and (b) the
    * verify join, which touches only the candidate pairs (a vanishing
    * fraction of the corpus). Identical-doc skew is removed by the exact
    * pre-pass; residual degenerate buckets are dropped by the cap (class
    * doc, defenses 1–2). For repeated runs the shingle stage would be
    * checkpointed; here it is recomputed (two scans of a columnar source
    * beat materializing shingle arrays). */
  def d2MinhashDedup(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(Tables.loadSpread(spark, dir, "documents"))
      .orderBy("doc_a", "doc_b")

  /** The d2 pipeline as DuckDB CTEs (band hashes written out: 4 bands of
    * 2 md5-minhashes each), shared by the d2 and d15 oracles. Mirrors the
    * exact-dedup pre-pass (QUALIFY row_number over md5(text)) and the
    * band-bucket cap (QUALIFY count over (b, bh)). */
  private val d2Ctes: String = {
    val mhDefs = (0 until NumHashes).map(s =>
      s"list_min(list_transform(shingles, h -> (h * ${PermA(s)} + ${PermB(s)}) % $M)) AS mh$s")
      .mkString(",\n         ")
    val bandCases = (0 until NumBands).map(b =>
      s"WHEN $b THEN md5(mh${2 * b}::VARCHAR||','||mh${2 * b + 1}::VARCHAR)")
      .mkString(" ")
    s"""th AS (
         SELECT doc_id, text,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS th
         FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(th) >= 3
             THEN list_transform(range(1, len(th)-1),
                    i -> (((th[i] * $K1 + th[i+1]) % $M) * $K2 + th[i+2]) % $M)
             ELSE [('0x'||substr(md5(text),1,15))::BIGINT % $M] END AS shingles
         FROM th),
       mh AS (
         SELECT doc_id,
         $mhDefs
         FROM sh),
       bands_all AS (
         SELECT doc_id, b,
           CASE b $bandCases END AS bh
         FROM mh, (SELECT unnest([0,1,2,3]) AS b)),
       bands AS (
         SELECT * FROM bands_all
         QUALIFY count(*) OVER (PARTITION BY b, bh) <= $MaxBucket),
       cand AS (
         SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
       verified AS (
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
             round(len(list_intersect(list_distinct(a.shingles), list_distinct(b.shingles))) * 1.0
                   / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
           FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b)
         WHERE jaccard >= 0.5)"""
  }

  val d2Oracle: String =
    s"""WITH $d2Ctes
       SELECT doc_a, doc_b, jaccard FROM verified ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------- d15
  /** Near-dup CLUSTERS with a canonical survivor — the capability that
    * turns pair output into "the corpus minus near-dups": connected
    * components ([[Clustering.minLabelComponents]]) over the union of
    * near-dup pair edges ([[verifiedPairs]]) and exact-duplicate group
    * edges ([[exactGroups]]), labeling every component by its minimum
    * doc_id; `keep = 1` marks the one canonical survivor per cluster
    * (singletons survive trivially). The corpus-sized table is touched
    * exactly twice: once to build edges, once for the final left-join
    * that assigns singleton clusters. */
  def d15DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val near = verifiedPairs(d).select("doc_a", "doc_b")
    val exact = exactGroups(d).filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val labels = Clustering.minLabelComponents(
      near.union(exact).toDF("a", "b"))

    d.select("doc_id")
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("keep",
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Connected components in the oracle: recursive reachability closure
    * (x reaches y), then label = min reachable per node — identical
    * fixpoint to the Spark label propagation. Shared by the d15 label
    * dump and the d55 cluster rollup. */
  private val d15Ctes: String =
    s"""$d2Ctes,
       exact_rep AS (
         SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
         FROM documents),
       edges0 AS (
         SELECT doc_a AS s, doc_b AS d FROM verified
         UNION ALL
         SELECT rep, doc_id FROM exact_rep WHERE doc_id <> rep),
       edges AS (
         SELECT s, d FROM edges0 UNION ALL SELECT d, s FROM edges0),
       reach(x, y) AS (
         SELECT DISTINCT s, s FROM edges
         UNION
         SELECT r.x, e.d FROM reach r JOIN edges e ON e.s = r.y),
       comp AS (SELECT x AS node, min(y) AS label FROM reach GROUP BY x),
       clusters AS (
         SELECT doc_id,
           coalesce(label, doc_id) AS cluster_id,
           CASE WHEN coalesce(label, doc_id) = doc_id THEN 1 ELSE 0 END AS keep
         FROM documents LEFT JOIN comp ON node = doc_id)"""

  val d15Oracle: String =
    s"""WITH RECURSIVE $d15Ctes
       SELECT doc_id, cluster_id, keep FROM clusters ORDER BY doc_id"""

  // --------------------------------------------------------------- d55
  /** TOP DUPLICATE CLUSTERS report — the table a curation team reads
    * before a mass drop: the largest near-dup/exact-dup clusters with
    * their canonical survivor (= cluster_id, the minimum doc id), the
    * member count, and the redundant bytes (chars of every non-survivor
    * member — what dedup reclaims). d15 answers "which rows do I keep";
    * this answers "WHAT is duplicated and how much does it cost" —
    * a handful of giant clusters means template spam worth fixing at
    * the source, many small ones means organic near-dups.
    *
    * Scale shape: d15's clustering (edge-set shuffles, O(log diameter)
    * rounds) plus one cluster-keyed aggregate of (id, chars) rows and a
    * top-10 TakeOrderedAndProject — nothing new moves. */
  def d55TopDupClusters(spark: SparkSession, dir: String): DataFrame =
    d15DedupClusters(spark, dir)
      .join(Tables.loadSpread(spark, dir, "documents")
        .select("doc_id", "n_chars"), "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("keep") === 0, col("n_chars")).otherwise(0L))
          .as("redundant_chars"))
      .filter(col("n_members") >= 2)
      .orderBy(col("n_members").desc, col("cluster_id"))
      .limit(10)

  val d55Oracle: String =
    s"""WITH RECURSIVE $d15Ctes
       SELECT cluster_id, count(*) AS n_members,
         CAST(sum(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
           AS redundant_chars
       FROM clusters JOIN documents USING (doc_id)
       GROUP BY cluster_id HAVING count(*) >= 2
       ORDER BY n_members DESC, cluster_id LIMIT 10"""

  // --------------------------------------------------------------- d57
  /** Quality-aware survivor selection — d15 with a CONTENT policy
    * instead of a positional one: the canonical member of each near-dup
    * cluster is the LONGEST document (most characters, ties to the
    * smaller doc_id), not the minimum doc_id. The standard curation
    * policy for partially-copied corpora: when a cluster holds a full
    * article and its truncated syndication copies, min-doc_id keeps
    * whichever crawler saw first — longest-member keeps the complete
    * text. The policy is the only change; cluster membership is d15's.
    *
    * Scale shape: d15's clustering plus one cluster-keyed argmax. The
    * argmax is a partial-aggregated `min(struct(-n_chars, doc_id))` —
    * NOT a per-cluster sort window, so a degenerate million-member
    * cluster costs a map-side-combined aggregate row, not a single-task
    * sort — and the survivor join back is on the same cluster_id key the
    * aggregate just partitioned by, so no extra exchange shape appears
    * at 100 TB. */
  def d57ClusterBest(spark: SparkSession, dir: String): DataFrame = {
    val members = d15DedupClusters(spark, dir)
      .join(Tables.loadSpread(spark, dir, "documents")
        .select("doc_id", "n_chars"), "doc_id")
      .select("doc_id", "cluster_id", "n_chars")
    val best = members.groupBy("cluster_id")
      .agg(min(struct((-col("n_chars")).as("neg_chars"),
        col("doc_id").as("bid"))).as("m"))
      .select(col("cluster_id"), col("m.bid").as("best_id"))
    members.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        when(col("doc_id") === col("best_id"), 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  val d57Oracle: String =
    s"""WITH RECURSIVE $d15Ctes
       SELECT doc_id, cluster_id,
         CASE WHEN row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_chars DESC, doc_id) = 1
           THEN 1 ELSE 0 END AS keep
       FROM clusters JOIN documents USING (doc_id)
       ORDER BY doc_id"""

  // ---------------------------------------------------------------- d3
  /** SimHash bit width. 48 bits (of the 60-bit token hashes) because the
    * fingerprint must separate random same-vocabulary pairs from true
    * near-dups: measured on the gate corpus, 16 bits put 22% of ALL
    * pairs within Hamming ≤3 (saturated — every band bucket goes
    * quadratic), while 48 bits put 0.08% there with the planted
    * near-dups still at distance ≤3. */
  private val SimBits = 48

  /** SimHash fingerprint per document: every token votes its bit
    * pattern; a bit is set when set-votes are the strict majority. Pure
    * map stage; the cheap grouping key consumed by the banded near-dup
    * join in [[d16SimhashDedup]]. */
  def d3Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(spark, dir, "documents")
      .withColumn("hs",
        graft.functions.TokenHashes(TextOps.tokens(col("text")), 0L))
      .select(col("doc_id"), simhashOf(col("hs")).as("simhash"))
      .orderBy("doc_id")

  /** The 48-bit simhash of an array of token hashes — a native codegen
    * Expression ([[graft.functions.SimHash48]]): one tight loop per row.
    * Spark's higher-order array functions are CodegenFallback (every
    * lambda application interpreted), which made both an
    * `aggregate`-fold and a per-bit `size(filter(...))` formulation the
    * dominant cost of the simhash stages (4.9 s map / 37 s join at
    * sf0.1 → scan-speed after). */
  private def simhashOf(hs: Column): Column =
    graft.functions.SimHash48(hs)

  /** Per-bit CASE chain — the readable (if slower) SQL equivalent of the
    * Spark fold; the oracle runs once over the small gate corpus. */
  private def simhashSqlTerms: String =
    (0 until SimBits).map(i =>
      s"CASE WHEN 2 * len(list_filter(h, x -> ((x >> $i) & 1) = 1)) > len(h) THEN ${1L << i} ELSE 0 END")
      .mkString("\n         + ")

  val d3Oracle: String =
    s"""WITH hs AS (
         SELECT doc_id,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS h
         FROM documents)
       SELECT doc_id,
         $simhashSqlTerms AS simhash
       FROM hs ORDER BY doc_id"""

  // --------------------------------------------------------------- d16
  /** Banded SimHash near-dup join — the consumer of d3's fingerprint:
    * the 48-bit simhash splits into 4 bands of 12 bits; documents
    * agreeing on ANY band become candidates via an equi-join on
    * (band, 12-bit value) (pigeonhole: Hamming distance ≤ 3 guarantees
    * at least one untouched band, so recall at the verify threshold is
    * exact); candidates are verified by popcount of the XOR'd
    * fingerprints.
    *
    * Same scale shape as d2, with the SAME two skew defenses: the
    * exact-dedup pre-pass collapses byte-identical docs (which would
    * otherwise share identical fingerprints and go quadratic in every
    * band), and (band, value) buckets over [[MaxBucket]] members are
    * refused. The shuffle key is a 12-bit band value plus band index,
    * payload is (doc_id, 48-bit fingerprint) — no text moves (at sf0.1
    * the cap trims the measured worst bucket of 549 near-constant
    * fingerprints). */
  def d16SimhashDedup(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: the fingerprint table (doc_id, 48-bit long) is
    // tiny but feeds BOTH sides of the band self-join — without it the
    // tokenize+hash scan runs twice
    val fp = representatives(Tables.loadSpread(spark, dir, "documents"))
      .withColumn("hs",
        graft.functions.TokenHashes(TextOps.tokens(col("text")), 0L))
      .select(col("doc_id"), simhashOf(col("hs")).as("simhash"))
      .localCheckpoint()

    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 12 * b).bitwiseAND(lit(4095L)).as("nib"))
    }
    val bands = fp
      .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("simhash"),
        col("e.band").as("band"), col("e.nib").as("nib"))
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "nib")))
      .filter(col("bsz") <= MaxBucket)
      .drop("bsz")

    bands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.nib") === col("r.nib") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.simhash").as("sa"), col("r.simhash").as("sb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  val d16Oracle: String = {
    s"""WITH hs AS (
         SELECT doc_id,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS h
         FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       fp AS (
         SELECT doc_id,
           $simhashSqlTerms AS simhash
         FROM hs),
       bands_all AS (
         SELECT doc_id, simhash, b, (simhash >> (12 * b)) & 4095 AS nib
         FROM fp, (SELECT unnest([0,1,2,3]) AS b)),
       bands AS (
         SELECT * FROM bands_all
         QUALIFY count(*) OVER (PARTITION BY b, nib) <= $MaxBucket),
       cand AS (
         SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           l.simhash AS sa, r.simhash AS sb
         FROM bands l JOIN bands r
           ON l.b = r.b AND l.nib = r.nib AND l.doc_id < r.doc_id)
       SELECT doc_a, doc_b, hamming FROM (
         SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming FROM cand)
       WHERE hamming <= 3
       ORDER BY doc_a, doc_b"""
  }

  // --------------------------------------------------------------- d17
  /** Benchmark DECONTAMINATION scan — the "did my training corpus leak
    * the eval set" check every LLM pipeline runs before training: the
    * benchmark (here the first 5 documents stand in for an eval set) is
    * reduced to its distinct shingle hashes, every corpus document
    * counts how many of its own shingles appear in that set, and the 20
    * highest-overlap documents surface for removal.
    *
    * Scale shape: the benchmark side is tiny (an eval set, not a
    * corpus) and hash-joins against the exploded corpus shingles — the
    * corpus moves once, keyed on the 31-bit shingle hash; no text
    * strings are materialized or shuffled.
    *
    * Window note: 3-token shingles here (shared with the dedup family)
    * — the gated default; production decontamination typically uses
    * 8–13-token windows for precision. The window is a real parameter
    * of [[decontaminateTopK]] (and [[docOverlapOf]] /
    * [[bloomDecontaminate]]): same rolling-hash machinery, unrolled to
    * the chosen length in codegen. The production window is gated as
    * [[d45DecontaminateW8]]; a unit test additionally runs window = 8
    * against a planted 8-token leak. */
  def d17Decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateTopK(Tables.loadSpread(spark, dir, "documents"), window = 3)

  /** d17 at the PRODUCTION decontamination window (8 tokens) — the
    * precision configuration real pipelines run (3-token spans collide
    * on generic phrasing; an 8-token verbatim match is evidence of
    * leakage). Same plan as d17 — only the unrolled polynomial in the
    * generated code (and the oracle SQL) is longer — so gating it pins
    * that the window parameter reaches codegen AND the SQL twin
    * correctly, not just the default path. */
  def d45DecontaminateW8(spark: SparkSession, dir: String): DataFrame =
    decontaminateTopK(Tables.loadSpread(spark, dir, "documents"), window = 8)

  val d45Oracle: String = overlapTopKOracle(window = 8)

  /** The d17 top-20 report on an arbitrary (doc_id, source, text) frame
    * with an explicit shingle window. */
  private[graft] def decontaminateTopK(d: DataFrame, window: Int): DataFrame =
    docOverlapOf(d, window)
      .select("doc_id", "n_shared", "n_shingles", "overlap")
      .orderBy(col("overlap").desc, col("doc_id"))
      .limit(20)

  /** Per-document eval-set overlap (doc_id, source, n_shared,
    * n_shingles, overlap) for every corpus doc — the un-truncated table
    * behind the d17 top-k report and the d40 per-source rollup. The
    * source column rides along from the one documents scan
    * ([[shingleSetCol]] keeps sibling columns) so d40 needs no second
    * scan-and-join to recover it. */
  private[graft] def docOverlapOf(d: DataFrame, window: Int): DataFrame = {
    // eager checkpoint: the md5 shingle pass is the dominant cost (same
    // reasoning as d34/d35/d43) and `s` feeds the bench distinct, the
    // corpus-side explode, AND the n_shingles projection — without the
    // checkpoint the pass re-runs ~3× per answer
    val s = d
      .select(col("doc_id"), col("source"),
        shingleSetCol(col("text"), window).as("s"))
      .localCheckpoint()
    val ex = s.select(col("doc_id"), explode(col("s")).as("sh"))
    val bench = ex.filter(col("doc_id") < 5).select("sh").distinct()
    val counts = ex.filter(col("doc_id") >= 5)
      .join(bench, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    s.filter(col("doc_id") >= 5)
      .select(col("doc_id"), col("source"), size(col("s")).as("n_shingles"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shingles"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("overlap"))
  }

  // --------------------------------------------------------------- d40
  /** Per-source CONTAMINATION rollup — d17 surfaces the worst
    * individual documents; this attributes eval-set leakage to corpus
    * SLICES: per source, how many docs exceed the contamination
    * threshold (the same 0.5 the streaming gate drops at), plus mean
    * and max overlap. "Which crawl leaked the benchmark" is the
    * actionable question — a source with systematic overlap gets
    * dropped wholesale, not doc-by-doc.
    *
    * Scale shape: d17's own cost (shingle explode + broadcast-sized
    * bench join) plus one tiny (source)-keyed aggregate of per-doc
    * overlap rows — source rides through the shared helper from the
    * single documents scan, no second scan or corpus-row join. */
  def d40ContaminationBySource(spark: SparkSession, dir: String): DataFrame =
    docOverlapOf(Tables.loadSpread(spark, dir, "documents"), window = 3)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("overlap") >= 0.5, 1L).otherwise(0L))
          .as("n_contaminated"),
        round(avg("overlap"), 4).as("avg_overlap"),
        max("overlap").as("max_overlap"))
      .orderBy("source")

  val d40Oracle: String =
    s"""WITH ${graft.functions.ShingleHashes.sqlCtes("doc_id")},
       s2 AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
       ex AS (SELECT doc_id, unnest(s) AS sh FROM s2),
       bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id < 5),
       counts AS (
         SELECT doc_id, count(*) AS n_shared
         FROM ex JOIN bench USING (sh) WHERE doc_id >= 5 GROUP BY doc_id),
       tot AS (SELECT doc_id, len(s) AS n_shingles FROM s2 WHERE doc_id >= 5),
       ov AS (
         SELECT doc_id,
           round(coalesce(n_shared, 0) * 1.0 / n_shingles, 4) AS overlap
         FROM tot LEFT JOIN counts USING (doc_id))
       SELECT d.source, count(*) AS n_docs,
         CAST(sum(CASE WHEN overlap >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         round(avg(overlap), 4) AS avg_overlap,
         max(overlap) AS max_overlap
       FROM ov JOIN documents d USING (doc_id)
       GROUP BY d.source ORDER BY d.source"""

  // --------------------------------------------------------------- d43
  /** Bloom-prefiltered decontamination — d17's exact semantics on the
    * plan a 100 TB corpus needs. d17 hash-joins the exploded corpus
    * shingles against the benchmark set; that is the right plan while
    * the benchmark side broadcasts as rows, but a full eval SUITE can
    * carry 10^8 distinct shingles (GBs as rows — too big to broadcast),
    * at which point the join shuffles the entire exploded corpus
    * (10^12+ rows at 100 TB). Here the benchmark side is first reduced
    * to a bloom sketch (~1.2 bytes/item at 1 % fpp — broadcastable long
    * past the point rows are not) and probed ON THE SCAN SIDE of the
    * exchange, so only corpus shingles that can possibly match are
    * shuffled into the verify join. Bloom filters have no false
    * negatives and the exact join discards the false positives, so the
    * result is bit-identical to d17 — the sketch changes the plan,
    * never the answer ([[graft.functions.BloomFilters]]; equality and
    * the no-false-negative contract are pinned in tests).
    *
    * The driver coordinates two tiny jobs over the benchmark side
    * (count + sketch aggregate — it receives merged sketch bytes, not
    * rows) before the corpus-side query, the same driver-as-coordinator
    * shape as d14's Lloyd rounds.
    *
    * Both the corpus-side shingle projection and the distinct benchmark
    * shingles are eagerly checkpointed: the md5 shingle pass is the
    * dominant cost (same reasoning as d34/d35), and without the
    * checkpoints it would re-run for the bench count, the bloom build,
    * the probe-side scan, the verify join, and the n_shingles join-back
    * (~5 corpus scans for one answer). */
  def d43BloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(Tables.loadSpread(spark, dir, "documents"), window = 3)

  /** The bloom-prefiltered scan on an arbitrary (doc_id, text) frame
    * with an explicit shingle window. */
  private[graft] def bloomDecontaminate(d: DataFrame, window: Int): DataFrame = {
    val s = d
      .select(col("doc_id"), shingleSetCol(col("text"), window).as("s"))
      .localCheckpoint()
    val bench = s.filter(col("doc_id") < 5)
      .select(explode(col("s")).as("sh")).distinct()
      .localCheckpoint()
    val filterBytes = graft.functions.BloomFilters.buildLong(
      bench, "sh", bench.count(), 0.01)
    val candidates = s.filter(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("s")).as("sh"))
      .filter(graft.functions.BloomFilters.mightContainLong(
        filterBytes, col("sh")))
    val counts = candidates.join(bench, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    s.filter(col("doc_id") >= 5)
      .select(col("doc_id"), size(col("s")).as("n_shingles"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shingles"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("overlap"))
      .orderBy(col("overlap").desc, col("doc_id"))
      .limit(20)
  }

  /** The bloom stage is result-transparent, so the oracle is exactly
    * d17's: same exact-join semantics, same top-20 report. Lazy because
    * d17Oracle is declared below — a strict val here would capture null
    * (object vals initialize in declaration order). */
  lazy val d43Oracle: String = d17Oracle

  val d17Oracle: String = overlapTopKOracle(window = 3)

  /** The d17-shape top-20 overlap report as DuckDB SQL at an arbitrary
    * shingle window — the th/sh CTEs come from
    * [[graft.functions.ShingleHashes.sqlCtes]] (one rendering of the
    * shingle scheme, unrolled per window), the report query is shared
    * verbatim between the gated 3-token default (d17/d43) and the
    * 8-token production precision config (d45). */
  private def overlapTopKOracle(window: Int): String =
    s"""WITH ${graft.functions.ShingleHashes.sqlCtes("doc_id", window)},
       s2 AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
       ex AS (SELECT doc_id, unnest(s) AS sh FROM s2),
       bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id < 5),
       counts AS (
         SELECT doc_id, count(*) AS n_shared
         FROM ex JOIN bench USING (sh) WHERE doc_id >= 5 GROUP BY doc_id),
       tot AS (SELECT doc_id, len(s) AS n_shingles FROM s2 WHERE doc_id >= 5)
       SELECT doc_id, CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
         n_shingles,
         round(coalesce(n_shared, 0) * 1.0 / n_shingles, 4) AS overlap
       FROM tot LEFT JOIN counts USING (doc_id)
       ORDER BY overlap DESC, doc_id LIMIT 20"""

  // --------------------------------------------------------------- d20
  /** Intra-document REPETITION ratio — the degenerate-text detector
    * (boilerplate loops, copy-paste padding, runaway generation): the
    * fraction of a document's 3-word shingles that are repeats of an
    * earlier shingle in the same document. Pure map stage over the
    * native shingle hashes; flagged docs (> 0.2) are the ones a quality
    * pipeline drops or truncates before training. */
  def d20Repetition(spark: SparkSession, dir: String): DataFrame = {
    val s = col("shingles")
    shingleHashes(Tables.loadSpread(spark, dir, "documents"))
      .select(col("doc_id"),
        size(s).as("n_shingles"),
        round(lit(1.0) - size(array_distinct(s)).cast("double") / size(s), 4)
          .as("rep_ratio"))
      .withColumn("flagged",
        when(col("rep_ratio") > 0.2, 1).otherwise(0))
      .orderBy("doc_id")
  }

  val d20Oracle: String =
    s"""WITH th AS (
         SELECT doc_id, text,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS th
         FROM documents),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(th) >= 3
             THEN list_transform(range(1, len(th)-1),
                    i -> (((th[i] * $K1 + th[i+1]) % $M) * $K2 + th[i+2]) % $M)
             ELSE [('0x'||substr(md5(text),1,15))::BIGINT % $M] END AS shingles
         FROM th)
       SELECT doc_id, len(shingles) AS n_shingles,
         round(1.0 - len(list_distinct(shingles)) * 1.0 / len(shingles), 4)
           AS rep_ratio,
         CASE WHEN round(1.0 - len(list_distinct(shingles)) * 1.0 / len(shingles), 4) > 0.2
              THEN 1 ELSE 0 END AS flagged
       FROM sh ORDER BY doc_id"""

  // ---------------------------------------------------------------- d4
  /** Character-3-gram Jaccard similarity of every document against a
    * fixed probe document (doc_id 0) — the "find near-dups of this item"
    * scan. The probe's gram set is a one-row broadcast (deliberate: a
    * scalar query side), so the pass stays a narrow map over the corpus;
    * for many probes at once, use the d2 banding shape instead.
    *
    * Grams are HASHED, never materialized as strings, via the native
    * [[graft.functions.CharGramHashes]] expression (one codegen'd pass
    * over the code points — the previous `split`+`ascii`+transform
    * column formulation built a single-char string per character and
    * interpreted two lambdas per gram); set ops then compare longs,
    * not strings. */
  def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.loadSpread(spark, dir, "documents")
      .withColumn("tl", lower(col("text")))
      .select(col("doc_id"), array_distinct(
        graft.functions.CharGramHashes(col("tl"),
          TextOps.hash60(col("tl")) % M)).as("g"))
    val probe = g.filter(col("doc_id") === 0).select(col("g").as("qg"))
    g.crossJoin(broadcast(probe))
      .select(col("doc_id"),
        round(size(array_intersect(col("g"), col("qg"))).cast("double") /
          size(array_union(col("g"), col("qg"))), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(20)
  }

  val d4Oracle: String =
    s"""WITH cc AS (
         SELECT doc_id, lower(text) AS tl,
           list_transform(range(1, length(lower(text)) + 1),
                          i -> ascii(lower(text)[i:i])::BIGINT) AS cc
         FROM documents),
       g AS (
         SELECT doc_id,
           list_distinct(CASE WHEN len(cc) >= 3
             THEN list_transform(range(1, len(cc) - 1),
                    i -> (((cc[i] * 131 + cc[i+1]) % $M) * 131 + cc[i+2]) % $M)
             ELSE [('0x'||substr(md5(tl),1,15))::BIGINT % $M] END) AS g
         FROM cc),
       probe AS (SELECT g AS qg FROM g WHERE doc_id = 0)
       SELECT doc_id,
         round(len(list_intersect(g, qg)) * 1.0
               / len(list_distinct(list_concat(g, qg))), 4) AS jaccard
       FROM g, probe
       ORDER BY jaccard DESC, doc_id LIMIT 20"""

  // --------------------------------------------------------------- d52
  /** Shingles shared by more documents than this are dropped from
    * containment candidate generation: phrasing that ubiquitous is
    * generic language, not evidence of copying — and the cap is also
    * the skew bound (a shingle contributes at most C(16,2) = 120 pairs,
    * the same defense-by-construction as d35's source-ubiquity cap). */
  private[graft] val MaxShingleDf = 16

  /** Containment threshold: the overlap coefficient at or above which a
    * pair is reported as a partial copy. */
  private[graft] val ContainThreshold = 0.8

  /** PARTIAL-COPY detection via the overlap coefficient
    * |A∩B| / min(|A|,|B|) — the relation Jaccard-tuned dedup
    * systematically misses: a 50-word excerpt quoted inside a
    * 5000-word document has Jaccard ≈ 0.01 (no minhash band ever
    * collides — d2 is BUILT not to find it) but containment 1.0.
    * Reports (doc_a, doc_b, shared, overlap_coef, jaccard) for pairs
    * of exact-representatives at overlap_coef ≥ [[ContainThreshold]].
    *
    * Candidate generation is therefore NOT banding but a df-capped
    * INVERTED-INDEX join: explode distinct shingles, drop shingles in
    * more than [[MaxShingleDf]] docs (generic phrasing is not evidence
    * of copying, and the cap bounds the join's per-key fan-out at
    * C(16,2) pairs — the skew defense), self-join on the shingle hash,
    * count shared shingles per pair. At 100 TB: the exact-dedup
    * pre-pass collapses byte-identical families first (same defense as
    * d2), the exchange carries (doc_id, 31-bit hash) pairs — never
    * text — and the df-capped index is checkpointed once so the
    * self-join's two sides read the materialized rows instead of each
    * re-running the explode + df window (plan-verified: the broadcast
    * side is a different plan shape, so ReuseExchange alone cannot
    * dedup it). The shingle projection is checkpointed for the same
    * reason: it feeds the explode and both size join-backs, and the
    * md5 token pass dominates the stage. */
  def d52Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.loadSpread(spark, dir, "documents"))

  /** The containment report on an arbitrary (doc_id, text) frame. */
  private[graft] def containmentPairs(d: DataFrame): DataFrame = {
    val sets = shingled(d)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .localCheckpoint()
    val ex = sets.select(col("doc_id"), explode(col("s")).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") <= MaxShingleDf)
      .select("doc_id", "sh")
      // materialized once: BOTH sides of the self-join consume it, and
      // without the checkpoint each side re-runs the explode + df
      // window (verified in the physical plan — the broadcast side is
      // a different plan shape, so ReuseExchange cannot dedup it)
      .localCheckpoint()
    val shared = ex.as("l")
      .join(ex.as("r"),
        col("l.sh") === col("r.sh") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val sizes = sets.select(col("doc_id"), size(col("s")).as("n"))
    shared
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter(col("shared").cast("double") / least(col("na"), col("nb"))
        >= ContainThreshold)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") / least(col("na"), col("nb")), 4)
          .as("overlap_coef"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Pre-pass mirrored by restricting to representative doc_ids (the
    * same row_number-over-md5 rule as the d2 oracle); the filter on the
    * UNROUNDED ratio matches the Spark plan. */
  val d52Oracle: String =
    s"""WITH ${graft.functions.ShingleHashes.sqlCtes("doc_id")},
       reps AS (
         SELECT doc_id FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       s2 AS (
         SELECT doc_id, list_distinct(shingles) AS s
         FROM sh JOIN reps USING (doc_id)),
       ex0 AS (SELECT doc_id, unnest(s) AS h FROM s2),
       ex AS (
         SELECT * FROM ex0
         QUALIFY count(*) OVER (PARTITION BY h) <= $MaxShingleDf),
       sizes AS (SELECT doc_id, len(s) AS n FROM s2),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, shared,
         round(shared * 1.0 / least(sa.n, sb.n), 4) AS overlap_coef,
         round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE shared * 1.0 / least(sa.n, sb.n) >= $ContainThreshold
       ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------- d54
  /** SPLIT-LEAKAGE audit — duplicate content straddling the
    * train/val/test boundary. The d33 split is keyed on doc_id (stable
    * under re-ingest, the right production default), which means it
    * CANNOT see content: byte-identical copies under different ids,
    * and near-duplicate rewrites, land in different splits with
    * probability ≈ 2·(0.9·0.05 + 0.9·0.05 + 0.05·0.05) ≈ 18% per
    * duplicate pair — and every such pair is evaluation contamination
    * (the model is scored on paraphrases of its training data). This
    * is the audit a pipeline runs after splitting and before training.
    *
    * Two leak channels, both reported:
    *  - EXACT: members of an md5(text) group split away from their
    *    representative (jaccard 1.0 by definition);
    *  - NEAR-DUP: verified banding pairs ([[verifiedPairs]], Jaccard
    *    ≥ 0.5 among representatives) whose endpoints' splits differ.
    * The channels are disjoint by construction (near-dup pairs connect
    * representatives; exact pairs connect a non-representative to its
    * representative).
    *
    * Scale shape: inherits d2's (banding + capped buckets; hashes move,
    * text never does) plus one md5-keyed window for the exact channel;
    * the split columns are pure per-row functions of the ids. */
  def d54SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakage(Tables.loadSpread(spark, dir, "documents"))

  /** The leakage audit on an arbitrary (doc_id, text) frame. */
  private[graft] def splitLeakage(d: DataFrame): DataFrame = {
    val exact = exactGroups(d)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    val near = verifiedPairs(d).select("doc_a", "doc_b", "jaccard")
    exact.union(near)
      .withColumn("split_a", CorpusOps.splitOf(col("doc_a")))
      .withColumn("split_b", CorpusOps.splitOf(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
      .orderBy("doc_a", "doc_b")
  }

  /** d2's verified CTEs + the md5 exact-group pairs + the d33 split
    * hash on both endpoints. */
  val d54Oracle: String = {
    val salt = CorpusOps.SplitSalt
    s"""WITH $d2Ctes,
       md AS (SELECT doc_id, md5(text) AS h FROM documents),
       grp AS (SELECT h, min(doc_id) AS rep FROM md GROUP BY h),
       ex_pairs AS (
         SELECT grp.rep AS doc_a, md.doc_id AS doc_b, 1.0 AS jaccard
         FROM md JOIN grp USING (h) WHERE md.doc_id <> grp.rep),
       all_pairs AS (
         SELECT doc_a, doc_b, jaccard FROM ex_pairs
         UNION ALL
         SELECT doc_a, doc_b, jaccard FROM verified),
       sp AS (
         SELECT doc_id,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM (
           SELECT doc_id,
             ('0x'||substr(md5('$salt'||doc_id::VARCHAR),1,15))::BIGINT
               % 100 AS b
           FROM documents))
       SELECT doc_a, doc_b, jaccard,
         sa.split AS split_a, sb.split AS split_b
       FROM all_pairs
       JOIN sp sa ON sa.doc_id = doc_a
       JOIN sp sb ON sb.doc_id = doc_b
       WHERE sa.split <> sb.split
       ORDER BY doc_a, doc_b"""
  }

  // --------------------------------------------------------------- d27
  /** Incoming-batch boundary for the incremental gate: documents below
    * are "the existing corpus", at or above are "today's batch". A real
    * deployment keys this on an ingest date/partition; a fixed doc_id
    * split keeps the fixture deterministic at every SF. */
  private val IncSplit = 400L

  /** INCREMENTAL ingest gate — the daily-batch question "which of these
    * new documents are already in the corpus, nearly in it, or novel?"
    * without ever re-deduplicating the corpus against itself:
    *
    *  - exact tier: md5(text) equi-join against the corpus hash set
    *    (16-byte keys; `exact_dup_of` = lowest matching corpus doc);
    *  - novelty tier: the fraction of the document's distinct shingles
    *    absent from the corpus's distinct-shingle set (a LEFT SEMI join
    *    on the shingle hash — membership only, nothing replicates);
    *    `novelty ≤ 0.5` without an exact match ⇒ `near_dup`, else
    *    `novel`.
    *
    * Scale shape: the corpus side reduces to two hash sets (md5s +
    * distinct shingles) built with one shuffle each and REUSED across
    * every daily batch in a real deployment; the batch side — the small
    * side, by definition — moves through two equi-joins keyed on those
    * hashes. Work is O(batch + corpus-set lookup), not
    * O(batch × corpus), and no document text ever shuffles. */
  def d27IncrementalNovelty(spark: SparkSession, dir: String): DataFrame =
    incrementalNovelty(Tables.loadSpread(spark, dir, "documents"), IncSplit)

  private[graft] def incrementalNovelty(d: DataFrame,
      split: Long): DataFrame = {
    val corpusHashes = d.filter(col("doc_id") < split)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("exact_dup_of"))
    val exact = d.filter(col("doc_id") >= split)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHashes, Seq("h"), "left")
      .select(col("doc_id"), col("exact_dup_of"))
    // eager checkpoint: three branches consume the shingle sets (corpus
    // set, batch membership, batch sizes) — without it each branch
    // re-runs the md5+rolling-poly hashing over the whole input
    val s = shingleHashes(d)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .localCheckpoint()
    val ex = s.select(col("doc_id"), explode(col("s")).as("sh"))
    val corpusSh = ex.filter(col("doc_id") < split).select("sh").distinct()
    val known = ex.filter(col("doc_id") >= split)
      .join(corpusSh, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_known"))
    s.filter(col("doc_id") >= split)
      .select(col("doc_id"), size(col("s")).as("n_shingles"))
      .join(known, Seq("doc_id"), "left")
      .join(exact, "doc_id")
      .select(col("doc_id"), col("exact_dup_of"),
        round(lit(1.0) - coalesce(col("n_known"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("novelty"))
      .withColumn("verdict",
        when(col("exact_dup_of").isNotNull, "exact_dup")
          .when(col("novelty") <= 0.5, "near_dup")
          .otherwise("novel"))
      .orderBy("doc_id")
  }

  val d27Oracle: String =
    s"""WITH th AS (
         SELECT doc_id, text,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS th
         FROM documents),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(th) >= 3
             THEN list_transform(range(1, len(th)-1),
                    i -> (((th[i] * $K1 + th[i+1]) % $M) * $K2 + th[i+2]) % $M)
             ELSE [('0x'||substr(md5(text),1,15))::BIGINT % $M] END AS shingles
         FROM th),
       s2 AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
       ex AS (SELECT doc_id, unnest(s) AS sh FROM s2),
       corpus_sh AS (SELECT DISTINCT sh FROM ex WHERE doc_id < $IncSplit),
       known AS (
         SELECT e.doc_id, count(*) AS n_known
         FROM ex e JOIN corpus_sh USING (sh) WHERE e.doc_id >= $IncSplit
         GROUP BY e.doc_id),
       ch AS (SELECT md5(text) AS h, min(doc_id) AS exact_dup_of
              FROM documents WHERE doc_id < $IncSplit GROUP BY 1),
       exact AS (
         SELECT doc_id, exact_dup_of
         FROM (SELECT doc_id, md5(text) AS h FROM documents
               WHERE doc_id >= $IncSplit) bt
         LEFT JOIN ch USING (h)),
       tot AS (SELECT doc_id, len(s) AS n_shingles FROM s2
               WHERE doc_id >= $IncSplit)
       SELECT doc_id, exact_dup_of, novelty,
         CASE WHEN exact_dup_of IS NOT NULL THEN 'exact_dup'
              WHEN novelty <= 0.5 THEN 'near_dup'
              ELSE 'novel' END AS verdict
       FROM (
         SELECT t.doc_id, exact_dup_of,
           round(1 - coalesce(n_known, 0) * 1.0 / n_shingles, 4) AS novelty
         FROM tot t LEFT JOIN known USING (doc_id) JOIN exact USING (doc_id))
       ORDER BY doc_id"""

  // --------------------------------------------------------------- d216
  /** INCREMENTAL NEAR-DUP against a persisted BAND INDEX — the
    * production nightly shape d27's membership tiers stop short of:
    * the corpus's LSH band index ((band, band-hash) → doc, built once
    * over the deduplicated corpus and REUSED across every daily batch)
    * answers "which corpus document is each new arrival a near-dup
    * OF?" without re-banding the corpus or comparing the batch against
    * anything outside its own buckets. Each batch document probes the
    * index with its 4 band hashes, candidates are verified by exact
    * shingle Jaccard (the d2 two-phase discipline — banding recalls,
    * verification decides), and the BEST corpus match (highest rounded
    * Jaccard, ties to the lowest corpus doc) becomes its
    * `near_dup_of`; batch docs with no surviving candidate are
    * `novel`. The index-side bucket cap ([[MaxBucket]]) applies at
    * index BUILD time, exactly where a production index drops its
    * degenerate buckets.
    *
    * Scale: the index is (band, bh, doc) — hashes, never text — built
    * with one shuffle and amortized over every future batch; the batch
    * side (small by definition) moves 4 band hashes per doc through
    * one equi-join; shingle sets travel only for verified CANDIDATES.
    * Work is O(batch × bucket-hits), never O(batch × corpus). */
  def d216MinhashDelta(spark: SparkSession, dir: String): DataFrame =
    minhashDelta(Tables.loadSpread(spark, dir, "documents"), IncSplit)

  private[graft] def minhashDelta(d: DataFrame, split: Long): DataFrame = {
    // corpus index over exact-representatives (the corpus is already
    // deduplicated when a real index is built); checkpointed — the
    // shingle pass feeds both the band build and the verify sets
    val corpusSh = shingleHashes(
        representatives(d.filter(col("doc_id") < split)))
      .localCheckpoint()
    val batchSh = shingleHashes(d.filter(col("doc_id") >= split))
      .localCheckpoint()
    val index = bandRowsOfShingles(corpusSh)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bh")))
      .filter(col("bsz") <= MaxBucket)
      .select(col("band"), col("bh"), col("doc_id").as("corpus_id"))
    val cand = bandRowsOfShingles(batchSh)
      .join(index, Seq("band", "bh"))
      .select(col("doc_id"), col("corpus_id"))
      .distinct()
    val bSets = batchSh
      .select(col("doc_id"), array_distinct(col("shingles")).as("sb"))
    val cSets = corpusSh
      .select(col("doc_id").as("corpus_id"),
        array_distinct(col("shingles")).as("sc"))
    val best = cand
      .join(bSets, "doc_id").join(cSets, "corpus_id")
      .select(col("doc_id"), col("corpus_id"),
        round(size(array_intersect(col("sb"), col("sc"))).cast("double") /
          size(array_union(col("sb"), col("sc"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("jaccard").desc, col("corpus_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("corpus_id"), col("jaccard"))
    batchSh.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_id").as("near_dup_of"),
        col("jaccard"),
        when(col("corpus_id").isNotNull, "near_dup").otherwise("novel")
          .as("verdict"))
      .orderBy("doc_id")
  }

  /** The oracle-side MinHash signature defs — ONE definition shared by
    * the d216 and d221 oracles (both must band exactly like the
    * engine). */
  private def oracleMhDefs: String = (0 until NumHashes).map(s =>
    s"list_min(list_transform(shingles, h -> (h * ${PermA(s)} + ${PermB(s)}) % $M)) AS mh$s")
    .mkString(",\n         ")

  private def oracleBandCases: String = (0 until NumBands).map(b =>
    s"WHEN $b THEN md5(mh${2 * b}::VARCHAR||','||mh${2 * b + 1}::VARCHAR)")
    .mkString(" ")

  /** The oracle-side token→shingle→signature→band chain over CTE `src`,
    * emitting `t/sh/mh/bands` CTEs suffixed `pfx` — shared by the d216
    * and d221 oracles. */
  private def oracleShingleChain(src: String, pfx: String): String = {
    val mhDefs = oracleMhDefs
    val bandCases = oracleBandCases
    s"""t$pfx AS (
         SELECT doc_id, text,
           list_transform(regexp_extract_all(text, '\\S+'),
                          t -> ('0x'||substr(md5(t),1,15))::BIGINT % $M) AS th
         FROM $src),
       sh$pfx AS (
         SELECT doc_id,
           CASE WHEN len(th) >= 3
             THEN list_transform(range(1, len(th)-1),
                    i -> (((th[i] * $K1 + th[i+1]) % $M) * $K2 + th[i+2]) % $M)
             ELSE [('0x'||substr(md5(text),1,15))::BIGINT % $M] END AS shingles
         FROM t$pfx),
       mh$pfx AS (
         SELECT doc_id,
         $mhDefs
         FROM sh$pfx),
       bands$pfx AS (
         SELECT doc_id, b, CASE b $bandCases END AS bh
         FROM mh$pfx, (SELECT unnest([0,1,2,3]) AS b))"""
  }

  val d216Oracle: String = {
    def shingleChain(src: String, pfx: String): String =
      oracleShingleChain(src, pfx)
    s"""WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE doc_id < $IncSplit
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= $IncSplit),
       ${shingleChain("corpus", "c")},
       idx AS (
         SELECT b, bh, doc_id AS corpus_id FROM bandsc
         QUALIFY count(*) OVER (PARTITION BY b, bh) <= $MaxBucket),
       ${shingleChain("batch", "b")},
       cand AS (
         SELECT DISTINCT p.doc_id, idx.corpus_id
         FROM bandsb p JOIN idx ON p.b = idx.b AND p.bh = idx.bh),
       best AS (
         SELECT doc_id, corpus_id, jaccard FROM (
           SELECT doc_id, corpus_id,
             round(len(list_intersect(list_distinct(sb.shingles),
                                      list_distinct(sc.shingles))) * 1.0
               / len(list_distinct(list_concat(sb.shingles, sc.shingles))), 4)
               AS jaccard
           FROM cand
             JOIN shb sb USING (doc_id)
             JOIN shc sc ON sc.doc_id = cand.corpus_id)
         WHERE jaccard >= 0.5
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY jaccard DESC, corpus_id) = 1)
       SELECT b.doc_id, best.corpus_id AS near_dup_of, best.jaccard,
         CASE WHEN best.corpus_id IS NULL THEN 'novel'
              ELSE 'near_dup' END AS verdict
       FROM batch b LEFT JOIN best ON b.doc_id = best.doc_id
       ORDER BY b.doc_id"""
  }

  // --------------------------------------------------------------- d221
  /** The corpus/batch-1/batch-2 day boundaries of the nightly cycle. */
  private[graft] val NightlySplit1 = 300L
  private[graft] val NightlySplit2 = 400L

  /** NIGHTLY INDEX READ-MODIFY-WRITE — d216 promoted to the cycle a
    * production nightly actually runs (r15 VERDICT next #4): d216
    * builds its band index in-query and uses it once; here the index
    * is a PERSISTED PARQUET ARTIFACT that each night LOADS, probes,
    * UPDATES, and re-persists — two full nights of it:
    *
    *  night 0: band the deduplicated corpus (doc_id < [[NightlySplit1]]),
    *    apply the [[MaxBucket]] cap, WRITE the index to parquet;
    *  night 1: LOAD yesterday's index from its bytes (a fresh scan, not
    *    lineage), probe batch 1 ([[NightlySplit1]], [[NightlySplit2]])),
    *    verdict by exact-Jaccard best match (the d216 discipline), then
    *    APPEND the novel batch-1 docs' band rows, re-apply the cap on
    *    the MERGED buckets, and write the UPDATED index;
    *  night 2: LOAD the updated index and probe batch 2
    *    (doc_id ≥ [[NightlySplit2]]) — whose matches may now be
    *    BATCH-1 docs, the staleness case the single-query form can
    *    never exercise: a night-2 verdict naming a night-1 arrival
    *    proves the cycle read the UPDATED artifact, not the original.
    *
    * Update semantics, pinned deterministic: only NOVEL (unmatched)
    * batch docs enter the index — near-dups never index (the dedup
    * discipline); members dropped by a previous night's cap are not
    * resurrected; a merged bucket exceeding the cap is dropped whole.
    * Both persisted indexes round-trip through real parquet bytes, so
    * schema drift or hash-encoding drift between nights fails the
    * hash gate rather than passing silently.
    *
    * Scale: each night's probe is O(batch × bucket-hits) exactly as
    * d216; the index update is one union + one (band, bh) window —
    * O(index) with no text moving; the artifacts are (band, bh, doc)
    * hash rows, amortized across every future night. */
  def d221IndexNightly(spark: SparkSession, dir: String): DataFrame =
    indexNightly(spark, Tables.loadSpread(spark, dir, "documents"),
      NightlySplit1, NightlySplit2)

  private[graft] def indexNightly(spark: SparkSession, d: DataFrame,
      split1: Long, split2: Long): DataFrame = {
    import java.nio.file.Files
    val corpusSh = shingleHashes(
        representatives(d.filter(col("doc_id") < split1)))
      .localCheckpoint() // feeds night-0 banding and night-1/2 verify
    val b1Sh = shingleHashes(
        d.filter(col("doc_id") >= split1 && col("doc_id") < split2))
      .localCheckpoint() // feeds the probe, the append, and night-2 verify
    val b2Sh = shingleHashes(d.filter(col("doc_id") >= split2))
      .localCheckpoint()

    /** One night's probe: candidates from the loaded index via the
      * (band, bh) equi-join, exact-Jaccard verify against the index
      * population's shingle sets, best match by (jaccard desc, id). */
    def probe(batchSh: DataFrame, idx: DataFrame,
        refSh: DataFrame): DataFrame = {
      val cand = bandRowsOfShingles(batchSh)
        .join(idx, Seq("band", "bh"))
        .select(col("doc_id"), col("corpus_id"))
        .distinct()
      val bSets = batchSh
        .select(col("doc_id"), array_distinct(col("shingles")).as("sb"))
      val cSets = refSh
        .select(col("doc_id").as("corpus_id"),
          array_distinct(col("shingles")).as("sc"))
      cand.join(bSets, "doc_id").join(cSets, "corpus_id")
        .select(col("doc_id"), col("corpus_id"),
          round(size(array_intersect(col("sb"), col("sc"))).cast("double") /
            size(array_union(col("sb"), col("sc"))), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("jaccard").desc, col("corpus_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("corpus_id"), col("jaccard"))
    }
    def verdicts(batchSh: DataFrame, best: DataFrame,
        batch: Long): DataFrame =
      batchSh.select("doc_id")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(batch).as("batch"),
          col("corpus_id").as("near_dup_of"), col("jaccard"),
          when(col("corpus_id").isNotNull, "near_dup").otherwise("novel")
            .as("verdict"))
    /** Persist an index and load it back FROM ITS BYTES; the loaded
      * frame is checkpointed so the parquet files can be deleted while
      * downstream still consumes the data (bench runs this gate
      * repeatedly — artifacts must not accumulate). */
    def persistAndLoad(idx: DataFrame, night: String): DataFrame = {
      val dir = Files.createTempDirectory(s"graft-d221-$night")
      val path = dir.resolve("index.parquet").toString
      idx.write.mode("overwrite").parquet(path)
      val loaded = spark.read.parquet(path).localCheckpoint()
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(dir.toFile)
      loaded
    }

    // night 0: build + persist the corpus index
    val idx0 = persistAndLoad(
      bandRowsOfShingles(corpusSh)
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy("band", "bh")))
        .filter(col("bsz") <= MaxBucket)
        .select(col("band"), col("bh"), col("doc_id").as("corpus_id")),
      "night0")
    // night 1: probe batch 1, append its novels, re-cap merged buckets
    val best1 = probe(b1Sh, idx0, corpusSh).localCheckpoint()
    val novel1Sh = b1Sh
      .join(best1.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint() // appended to the index AND night-2's verify set
    val idx1 = persistAndLoad(
      idx0.unionByName(bandRowsOfShingles(novel1Sh)
          .select(col("band"), col("bh"), col("doc_id").as("corpus_id")))
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy("band", "bh")))
        .filter(col("bsz") <= MaxBucket)
        .select("band", "bh", "corpus_id"),
      "night1")
    // night 2: probe batch 2 against the UPDATED index — its reference
    // population is corpus reps PLUS night-1's novel arrivals
    val best2 = probe(b2Sh, idx1, corpusSh.unionByName(novel1Sh))
    verdicts(b1Sh, best1, 1L)
      .unionByName(verdicts(b2Sh, best2, 2L))
      .orderBy("doc_id")
  }

  val d221Oracle: String = {
    def capped(rows: String): String =
      s"""SELECT b, bh, corpus_id FROM ($rows)
         QUALIFY count(*) OVER (PARTITION BY b, bh) <= $MaxBucket"""
    def bestSql(candCte: String, batchShCte: String,
        refShCte: String): String =
      s"""SELECT doc_id, corpus_id, jaccard FROM (
         SELECT c.doc_id, c.corpus_id,
           round(len(list_intersect(list_distinct(sb.shingles),
                                    list_distinct(sc.shingles))) * 1.0
             / len(list_distinct(list_concat(sb.shingles, sc.shingles))), 4)
             AS jaccard
         FROM $candCte c
           JOIN $batchShCte sb USING (doc_id)
           JOIN $refShCte sc ON sc.doc_id = c.corpus_id)
       WHERE jaccard >= 0.5
       QUALIFY row_number() OVER (PARTITION BY doc_id
         ORDER BY jaccard DESC, corpus_id) = 1"""
    s"""WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE doc_id < $NightlySplit1
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       b1 AS (SELECT doc_id, text FROM documents
              WHERE doc_id >= $NightlySplit1 AND doc_id < $NightlySplit2),
       b2 AS (SELECT doc_id, text FROM documents
              WHERE doc_id >= $NightlySplit2),
       ${oracleShingleChain("corpus", "c")},
       idx0 AS (${capped("SELECT b, bh, doc_id AS corpus_id FROM bandsc")}),
       ${oracleShingleChain("b1", "p")},
       cand1 AS (
         SELECT DISTINCT p.doc_id, idx0.corpus_id
         FROM bandsp p JOIN idx0 ON p.b = idx0.b AND p.bh = idx0.bh),
       best1 AS (${bestSql("cand1", "shp", "shc")}),
       novel1 AS (
         SELECT doc_id FROM b1
         WHERE doc_id NOT IN (SELECT doc_id FROM best1)),
       idx1 AS (${capped(
        s"""SELECT b, bh, corpus_id FROM idx0
           UNION ALL
           SELECT b, bh, doc_id AS corpus_id FROM bandsp
           WHERE doc_id IN (SELECT doc_id FROM novel1)""")}),
       ${oracleShingleChain("b2", "q")},
       cand2 AS (
         SELECT DISTINCT q.doc_id, idx1.corpus_id
         FROM bandsq q JOIN idx1 ON q.b = idx1.b AND q.bh = idx1.bh),
       ref2 AS (
         SELECT doc_id, shingles FROM shc
         UNION ALL
         SELECT doc_id, shingles FROM shp
         WHERE doc_id IN (SELECT doc_id FROM novel1)),
       best2 AS (${bestSql("cand2", "shq", "ref2")}),
       v AS (
         SELECT b1.doc_id, CAST(1 AS BIGINT) AS batch,
           best1.corpus_id AS near_dup_of, best1.jaccard,
           CASE WHEN best1.corpus_id IS NULL THEN 'novel'
                ELSE 'near_dup' END AS verdict
         FROM b1 LEFT JOIN best1 ON b1.doc_id = best1.doc_id
         UNION ALL
         SELECT b2.doc_id, CAST(2 AS BIGINT) AS batch,
           best2.corpus_id AS near_dup_of, best2.jaccard,
           CASE WHEN best2.corpus_id IS NULL THEN 'novel'
                ELSE 'near_dup' END AS verdict
         FROM b2 LEFT JOIN best2 ON b2.doc_id = best2.doc_id)
       SELECT doc_id, batch, near_dup_of, jaccard, verdict FROM v
       ORDER BY doc_id"""
  }

  // -------------------------------------------------------------- d101
  /** Edit-distance match threshold for the entity-resolution gate. */
  private[graft] val ErMaxLev = 3

  /** BLOCKED FUZZY MATCHING (entity resolution) — near-duplicate VALUES
    * rather than near-duplicate documents: part names within
    * levenshtein ≤ [[ErMaxLev]] of each other, the record-linkage
    * primitive behind catalog dedup, address matching, and
    * typo-tolerant entity canonicalization (Fellegi–Sunter-family
    * blocking, public since 1969).
    *
    * The scale discipline is the dedup family's, applied to values:
    *  1. EXACT pre-pass — collapse the column to distinct values with
    *     frequencies (the quadratic stage must never see row
    *     multiplicity; 2000 part rows hold only 64 distinct names, and
    *     a 100 TB catalog column is similarly value-compressible);
    *  2. MULTI-PASS BLOCKING — levenshtein admits no hash bucketing,
    *     so candidates come from cheap equi-join block keys. One key
    *     misses pairs that differ inside it (a first-character block
    *     can never match "cold"/"old"); the standard fix is several
    *     independent passes unioned — here first-char and last-char of
    *     the lowercased value, which cannot BOTH sit inside a ≤3-edit
    *     difference for these short strings unless the strings are
    *     long enough to also collide elsewhere (recall audit = d84's
    *     job applied here);
    *  3. the edit distance runs only inside blocks (each a broadcast
    *     equi-join at this scale; a salted repartition join on the
    *     block key at 100 TB), and the pair set is re-deduped across
    *     passes.
    * Emits matched value pairs with distance and both frequencies. */
  def d101FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.load(spark, dir, "part")
      .groupBy("p_name").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    def pass(key: Column => Column): DataFrame = {
      val a = names.select(col("p_name").as("name_a"), col("n").as("n_a"),
        key(col("p_name")).as("k"))
      val b = names.select(col("p_name").as("name_b"), col("n").as("n_b"),
        key(col("p_name")).as("k"))
      a.join(b, Seq("k"))
        .filter(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) <= ErMaxLev)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("lev"),
          col("n_a"), col("n_b"))
    }
    pass(c => substring(lower(c), 1, 1))
      .union(pass(c => substring(lower(c), -1, 1)))
      .distinct()
      .orderBy("lev", "name_a", "name_b")
  }

  val d101Oracle: String =
    s"""WITH names AS (
         SELECT p_name, CAST(count(*) AS BIGINT) AS n
         FROM part GROUP BY p_name),
       pairs AS (
         SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev, a.n AS n_a, b.n AS n_b
         FROM names a JOIN names b
           ON substr(lower(a.p_name), 1, 1) = substr(lower(b.p_name), 1, 1)
           AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= $ErMaxLev
         UNION
         SELECT a.p_name, b.p_name, levenshtein(a.p_name, b.p_name),
           a.n, b.n
         FROM names a JOIN names b
           ON substr(lower(a.p_name), -1, 1) = substr(lower(b.p_name), -1, 1)
           AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= $ErMaxLev)
       SELECT name_a, name_b, CAST(lev AS INT) AS lev, n_a, n_b
       FROM pairs ORDER BY lev, name_a, name_b"""

  // -------------------------------------------------------------- d206
  /** EFFECTIVE TOKEN MASS — the one number a training team quotes from
    * the dedup pipeline: total corpus tokens, tokens surviving EXACT
    * dedup (one copy per distinct text), and tokens surviving NEAR-DUP
    * collapse (d15's cluster survivors), with the survival rates as
    * exact-integer basis points. "X B tokens, Y B unique" decides
    * epoch counts and mixture weights; computing it from the SAME
    * survivor rules the gated dedup ops apply (exactGroups /
    * d15DedupClusters — one definition, shared) means the quoted
    * number and the pipeline's behavior cannot disagree.
    *
    * Scale: d15's machinery plus one token-length projection and a
    * 1-row aggregate; nothing new moves. */
  def d206EffectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadSpread(spark, dir, "documents")
    val tok = d.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tok"))
    val ex = exactGroups(d).select(col("doc_id"), col("rep"))
    val keep = d15DedupClusters(spark, dir).select(col("doc_id"), col("keep"))
    tok.join(ex, "doc_id").join(keep, "doc_id")
      .agg(sum("n_tok").as("total_tokens"),
        sum(when(col("doc_id") === col("rep"), col("n_tok")).otherwise(0L))
          .as("exact_tokens"),
        sum(when(col("keep") === 1, col("n_tok")).otherwise(0L))
          .as("neardup_tokens"))
      .select(col("total_tokens"), col("exact_tokens"), col("neardup_tokens"),
        when(col("total_tokens") > 0,
          expr("10000 * exact_tokens div total_tokens")).as("exact_bp"),
        when(col("total_tokens") > 0,
          expr("10000 * neardup_tokens div total_tokens")).as("neardup_bp"))
  }

  val d206Oracle: String =
    s"""WITH RECURSIVE $d15Ctes,
       tok AS (
         SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tok
         FROM documents),
       a AS (
         SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END)
             AS BIGINT) AS exact_tokens,
           CAST(sum(CASE WHEN keep = 1 THEN n_tok ELSE 0 END)
             AS BIGINT) AS neardup_tokens
         FROM tok JOIN exact_rep USING (doc_id) JOIN clusters USING (doc_id))
       SELECT total_tokens, exact_tokens, neardup_tokens,
         CASE WHEN total_tokens > 0 THEN
           10000 * exact_tokens // total_tokens END AS exact_bp,
         CASE WHEN total_tokens > 0 THEN
           10000 * neardup_tokens // total_tokens END AS neardup_bp
       FROM a"""

  val gates: Seq[Gate] = Seq(
    Gate("d206_effective_tokens", d206EffectiveTokens, d206Oracle),
    Gate("d101_fuzzy_match", d101FuzzyMatch, d101Oracle),
    Gate("d27_incremental_novelty", d27IncrementalNovelty, d27Oracle),
    Gate("d216_minhash_delta", d216MinhashDelta, d216Oracle),
    Gate("d221_index_nightly", d221IndexNightly, d221Oracle),
    Gate("d2_minhash_dedup", d2MinhashDedup, d2Oracle),
    Gate("d84_minhash_recall", d84MinhashRecall, d84Oracle),
    Gate("d3_simhash", d3Simhash, d3Oracle),
    Gate("d4_ngram_jaccard", d4NgramJaccard, d4Oracle),
    Gate("d15_dedup_clusters", d15DedupClusters, d15Oracle),
    Gate("d16_simhash_dedup", d16SimhashDedup, d16Oracle),
    Gate("d17_decontaminate", d17Decontaminate, d17Oracle),
    Gate("d40_contamination_by_source", d40ContaminationBySource, d40Oracle),
    Gate("d43_bloom_decontaminate", d43BloomDecontaminate, d43Oracle),
    Gate("d45_decontaminate_w8", d45DecontaminateW8, d45Oracle),
    Gate("d52_containment", d52Containment, d52Oracle),
    Gate("d54_split_leakage", d54SplitLeakage, d54Oracle),
    Gate("d55_top_dup_clusters", d55TopDupClusters, d55Oracle),
    Gate("d57_cluster_best", d57ClusterBest, d57Oracle),
    Gate("d20_repetition", d20Repetition, d20Oracle))
}
