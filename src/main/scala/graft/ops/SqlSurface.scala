package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Gate, Tables}
import graft.functions.GraftFunctions

/** The engine's pure-SQL surface: pipelines expressed entirely as SQL
  * text over the registered `graft_*` functions
  * ([[graft.functions.GraftFunctions]]) and the table catalog as temp
  * views — the path a JDBC/Thrift client or a saved SQL pipeline runs,
  * with no Column API anywhere.
  *
  * Each gated query here re-expresses an already-gated Column-API
  * operator and is pinned to THAT operator's DuckDB oracle (precedent:
  * d43 runs against d17's oracle): the gate then proves the SQL text,
  * the analysis-time function resolution, and the Column API all
  * produce bit-identical results — i.e. the SQL surface is the same
  * engine, not a parallel implementation. Scale shape is inherited
  * from the mirrored operator (identical physical plans, pinned by
  * `ExtensionsSpec`), so per-query scale notes live with the original.
  */
object SqlSurface {

  /** Last directory registered as temp views, per session. Re-running
    * `Tables.registerAll` on every query re-reads all ten parquet
    * footers driver-side (~0.5 s — measured as 2–5× on these
    * sub-second queries in the bench suite), so registration is
    * memoized and repeated only when the target directory changes
    * (the verify/test harnesses drive several scale factors through
    * one session). */
  private val registeredDir: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(
      // weak keys: don't pin dead sessions in a long-running service
      new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def run(spark: SparkSession, dir: String,
      query: String): DataFrame =
    runScript(spark, dir, Nil, query)

  /** Register functions + table views, run eager SETUP statements
    * (DDL/CACHE commands — `spark.sql` executes commands eagerly), and
    * return the final query — the multi-statement script shape a saved
    * SQL pipeline actually ships (views + CACHE TABLE + SELECT).
    *
    * The dir memo is recorded only AFTER `registerAll` succeeds: if it
    * throws on a bad dir, the memo must not claim the dir is live, or a
    * retry would skip registration and run against the PREVIOUS dir's
    * views. The whole check→register→record sequence is locked so two
    * threads sharing a session (the JDBC/Thrift audience) can't leave
    * the views and the memo disagreeing. */
  private def runScript(spark: SparkSession, dir: String,
      setup: Seq[String], query: String): DataFrame = {
    GraftFunctions.register(spark) // idempotent, registry-map puts only
    registeredDir.synchronized {
      if (registeredDir.get(spark) != dir) {
        Tables.registerAll(spark, dir)
        registeredDir.put(spark, dir)
      }
    }
    setup.foreach(spark.sql(_))
    spark.sql(query)
  }

  // --------------------------------------------------------------- d46
  /** d3's simhash fingerprint pipeline as one SQL statement: whitespace
    * tokens → native 60-bit token hashes → native 48-bit simhash. Same
    * plan as d3 (narrow map over the documents scan, both expressions
    * inside whole-stage codegen); gated against d3's oracle. */
  def d46SqlSimhash(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir,
      """SELECT doc_id,
           graft_simhash48(graft_token_hashes(
             regexp_extract_all(text, '\\S+', 0))) AS simhash
         FROM documents
         ORDER BY doc_id""")

  val d46Oracle: String = FuzzyDedup.d3Oracle

  // --------------------------------------------------------------- d47
  /** d9's brute-force cosine top-10 as one SQL statement: the one-row
    * probe is broadcast (hinted, same as d9's `broadcast(probe)`), the
    * store scan stays narrow, the fused-loop cosine runs per row inside
    * codegen, and ORDER BY + LIMIT compile to per-partition top-k heaps
    * (TakeOrderedAndProject — no global sort). The float→double
    * widening is the caller-owned array CAST on the scan, exactly where
    * the Column API puts it; gated against d9's oracle. */
  def d47SqlCosine(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir,
      """WITH e AS (SELECT vec_id, label,
                      CAST(embedding AS ARRAY<DOUBLE>) AS v
                    FROM embeddings),
           probe AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         SELECT /*+ BROADCAST(probe) */
           vec_id, label, round(graft_cosine_sim(v, qv), 4) AS cos_sim
         FROM e CROSS JOIN probe
         ORDER BY cos_sim DESC, vec_id
         LIMIT 10""")

  val d47Oracle: String = Similarity.d9Oracle

  // --------------------------------------------------------------- d48
  /** d20's intra-document repetition ratio as one SQL statement:
    * whitespace tokens → native rolling-poly 3-shingle hashes (the
    * whole-text hash mod the shingle modulus as the short-doc
    * fallback, exactly d20's fallback expression) → duplicate-shingle
    * fraction. Chosen as the shingle-family SQL gate BECAUSE it is a
    * pure narrow map (one scan, no reuse): a single SQL STATEMENT
    * cannot express d17/d40's `localCheckpoint()` reuse — pinning d20
    * keeps the single-statement surface to plans that are AS GOOD as
    * their Column twins. (A SQL *script* CAN express the reuse via
    * `CACHE TABLE` — that is [[d49SqlDecontaminate]].) Gated against
    * d20's oracle. */
  def d48SqlRepetition(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir,
      s"""WITH sh AS (
           SELECT doc_id,
             graft_shingle_hashes(
               regexp_extract_all(text, '\\\\S+', 0),
               CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)
                 % ${graft.functions.ShingleHashes.M}) AS s
           FROM documents)
         SELECT doc_id,
           size(s) AS n_shingles,
           round(1.0 - CAST(size(array_distinct(s)) AS DOUBLE) / size(s), 4)
             AS rep_ratio,
           CASE WHEN rep_ratio > 0.2 THEN 1 ELSE 0 END AS flagged
         FROM sh
         ORDER BY doc_id""")

  val d48Oracle: String = FuzzyDedup.d20Oracle

  // --------------------------------------------------------------- d49
  /** d43's bloom-prefiltered decontamination as a pure-SQL SCRIPT —
    * closing the one capability SQL clients previously lacked (the
    * Scaladoc on [[d48SqlRepetition]] used to document the gap):
    *
    *  - the shingle projection that d43 `localCheckpoint()`s is a
    *    `CACHE TABLE` of a temp view (eager — runs once, and every
    *    consumer below reads the in-memory relation instead of
    *    re-hashing the corpus ~4×);
    *  - the benchmark sketch that d43 builds with a driver-coordinated
    *    `df.stat.bloomFilter` job is `graft_bloom_agg` in a SCALAR
    *    SUBQUERY — the aggregate runs as its own tiny job and its
    *    merged sketch bytes (never rows) ride into the corpus-side
    *    filter exactly like d43's binary literal;
    *  - the probe is `graft_bloom_might_contain` in the WHERE of the
    *    candidate selection — BELOW the verify join's exchange
    *    (pinned by a plan test in `ExtensionsSpec`), so only corpus
    *    shingles that can possibly match are shuffled;
    *  - the exact verify join then discards the sketch's false
    *    positives; no false negatives means the answer is bit-identical
    *    to d17/d43 (gated against the same oracle).
    *
    * The estimated-items argument (100k) sizes the sketch at gate
    * scale; a production script passes its eval-suite cardinality —
    * either way the sketch changes the plan, never the answer. */
  def d49SqlDecontaminate(spark: SparkSession, dir: String): DataFrame =
    runScript(spark, dir,
      Seq(
        s"""CREATE OR REPLACE TEMPORARY VIEW graft_d49_shingles AS
            SELECT doc_id,
              array_distinct(graft_shingle_hashes(
                regexp_extract_all(text, '\\\\S+', 0),
                CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)
                  % ${graft.functions.ShingleHashes.M})) AS s
            FROM documents""",
        "CACHE TABLE graft_d49_shingles"),
      """WITH ex AS (
           SELECT doc_id, explode(s) AS sh FROM graft_d49_shingles),
         bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id < 5),
         cand AS (
           SELECT doc_id, sh FROM ex
           WHERE doc_id >= 5
             AND graft_bloom_might_contain(
                   (SELECT graft_bloom_agg(sh, 100000) FROM bench), sh)),
         counts AS (
           SELECT doc_id, count(*) AS n_shared
           FROM cand JOIN bench USING (sh) GROUP BY doc_id)
       SELECT g.doc_id,
         coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared,
         size(s) AS n_shingles,
         round(CAST(coalesce(n_shared, 0) AS DOUBLE) / size(s), 4) AS overlap
       FROM graft_d49_shingles g LEFT JOIN counts ON g.doc_id = counts.doc_id
       WHERE g.doc_id >= 5
       ORDER BY overlap DESC, doc_id
       LIMIT 20""")

  /** Bit-identical to the exact scan, so the oracle is d17's (the same
    * precedent d43 set). */
  val d49Oracle: String = FuzzyDedup.d17Oracle

  // --------------------------------------------------------------- d82
  /** d71's CMS-prefiltered heavy-hitter detection as a pure-SQL SCRIPT
    * — the frequency sibling of [[d49SqlDecontaminate]]'s membership
    * pattern, and the gated SQL user of `graft_cms_estimate`:
    *
    *  - the token stream d71 scans twice is a `CACHE TABLE` (eager —
    *    one corpus scan feeds the sketch build, the probe, and the
    *    exact count);
    *  - the sketch d71 builds with a driver-coordinated
    *    `stat.countMinSketch` job is Spark's OWN `count_min_sketch`
    *    aggregate in a scalar subquery (the aggregate runs as its own
    *    tiny job; merged sketch bytes, never rows, reach the filter),
    *    with `ceil(φ·N)` riding out of the same subquery — one pass
    *    yields both;
    *  - the probe is `graft_cms_estimate(…) >= thr` in the WHERE —
    *    BELOW the count's exchange, dropping the long-tail vocabulary
    *    before it shuffles; CMS never underestimates, so no true heavy
    *    hitter is lost and the exact HAVING restores exact semantics.
    *
    * Gated against d71's oracle: the SQL text, Spark's builtin
    * aggregate, and the native probe must reproduce the Column
    * pipeline bit-for-bit. */
  def d82SqlHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    runScript(spark, dir,
      Seq(
        """CREATE OR REPLACE TEMPORARY VIEW graft_d82_tok AS
           SELECT explode(regexp_extract_all(text, '\\S+', 0)) AS token
           FROM documents""",
        "CACHE TABLE graft_d82_tok"),
      s"""WITH sk AS (
           SELECT count_min_sketch(xxhash64(token), 0.001d, 0.99d, 42) AS cms,
             greatest(CAST(ceil(${CorpusOps.HeavyHitterPhi} * count(*)) AS BIGINT),
               1L) AS thr
           FROM graft_d82_tok)
         SELECT token, count(*) AS n
         FROM graft_d82_tok
         WHERE graft_cms_estimate((SELECT cms FROM sk), xxhash64(token))
           >= (SELECT thr FROM sk)
         GROUP BY token
         HAVING count(*) >= (SELECT thr FROM sk)
         ORDER BY n DESC, token""")

  val d82Oracle: String = CorpusOps.d71Oracle

  val gates: Seq[Gate] = Seq(
    Gate("d46_sql_simhash", d46SqlSimhash, d46Oracle),
    Gate("d47_sql_cosine", d47SqlCosine, d47Oracle),
    Gate("d48_sql_repetition", d48SqlRepetition, d48Oracle),
    Gate("d49_sql_decontaminate", d49SqlDecontaminate, d49Oracle),
    Gate("d82_sql_heavy_hitters", d82SqlHeavyHitters, d82Oracle))
}
