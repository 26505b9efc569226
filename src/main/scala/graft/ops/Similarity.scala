package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Gate, Scratch, Tables}

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: Array[Float] (64-dim), label).
  *
  * Two tiers (BASELINE.json north-star "similarity search"):
  *  - d9: brute-force cosine top-k — the exact baseline, a narrow map +
  *    TakeOrderedAndProject; right answer, O(corpus) per query.
  *  - d10: sign-LSH bucketed ANN — the scale path: candidates come from
  *    an equi-join on a hyperplane-sign bucket, so each query only scores
  *    its bucket (expected corpus/2^bits of the data), never all rows.
  *
  * All arithmetic is promoted to double BEFORE any sum so results are
  * engine-reproducible (float accumulation order would diverge); the
  * cosine itself is the native [[graft.functions.CosineSim]] expression,
  * which accumulates in element order — matching the oracle's
  * element-order sum exactly.
  */
object Similarity {

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    // 2 MB/task: the embedding store is dense fixed-width vectors and
    // its consumers re-read checkpointed frames many times per query —
    // finer grains multiply every downstream job's task count
    Tables.loadSpread(spark, dir, "embeddings", 2L << 20)
      .select(col("vec_id"), col("label"),
        // array cast, not transform(_.cast): Cast widens float→double
        // element-wise inside codegen; the HOF form is an interpreted
        // lambda per element on every row of the store
        col("embedding").cast("array<double>").as("v"))

  /** Cosine similarity, rounded to 4dp (the rounding absorbs any last-ulp
    * difference between engines' summation). The arithmetic is the
    * native [[graft.functions.CosineSim]] expression — one codegen'd
    * fused loop, bit-identical to the interpreted
    * `aggregate`/`zip_with`/`transform` HOF folds it replaced (parity
    * test in `FunctionsSpec`): cosine runs per candidate PAIR (the
    * bucket join's output, N·K cell assignment), the hottest arithmetic
    * in this file. */
  private def cosine(a: Column, b: Column): Column =
    round(graft.functions.CosineSim(a, b), 4)

  /** The same cosine in DuckDB SQL (explicit formula, not
    * list_cosine_similarity, so both engines run the identical
    * double-precision expression tree). */
  private def cosineSql(a: String, b: String): String =
    s"round(${cosineRawSql(a, b)}, 4)"

  /** The unrounded cosine formula — d143 scales it straight to an
    * exact e4 integer instead of rounding to a 4dp double. */
  private def cosineRawSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))
       / (sqrt(list_sum(list_transform($a, x -> x*x)))
          * sqrt(list_sum(list_transform($b, x -> x*x)))))"""

  // ---------------------------------------------------------------- d9
  /** Brute-force cosine top-10 for one probe vector (vec_id 0). The probe
    * is a one-row broadcast; the scan stays narrow and the top-k compiles
    * to per-partition heaps (TakeOrderedAndProject) — no global sort. */
  def d9CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), cosine(col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val d9Oracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       probe AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       SELECT vec_id, label, ${cosineSql("v", "qv")} AS cos_sim
       FROM e, probe
       ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  // --------------------------------------------------------------- d10
  /** Sign-LSH bucket: sign bits of the first 8 dimensions (8 axis-aligned
    * hyperplanes → 256 buckets). */
  private def signBucket(v: Column): Column =
    (1 to 8)
      .map(i => when(element_at(v, i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)

  /** The same bucket in DuckDB SQL — ONE definition shared by the d10 /
    * d12 / d22 oracles (sign(embedding[i]) is identical before/after
    * the double cast, so it reads the raw float column). The three
    * operators must agree bit-for-bit on the bucket scheme. */
  private val bucketSql: String = (1 to 8)
    .map(i => s"CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END")
    .mkString(" + ")

  /** Sign-LSH bucketed ANN with MULTI-PROBE: each query (vec_id < 8)
    * probes its own bucket plus the 8 Hamming-1 neighbor buckets (one
    * sign bit flipped), i.e. 9 probe rows per query, then joins
    * candidates on bucket EQUALITY — a hash join keyed on the bucket,
    * never a cross product — scores, and keeps top-3 per query. Each
    * corpus vector lives in exactly ONE bucket and the 9 probe buckets
    * are distinct, so no candidate dedup is needed.
    *
    * At 100 TB both sides shuffle/broadcast on `bucket`: work per query
    * is 9·N/256, and recall/cost trade off by the probe radius (the
    * query side fans out, the corpus side never replicates) — the
    * structure, not the constants, is what survives the scale-up. */
  def d10AnnLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(spark, dir, multiProbe = true)

  /** [[d10AnnLsh]] with the probe radius as a switch — `multiProbe =
    * false` is the single-bucket variant the recall test compares
    * against. */
  private[graft] def annLsh(spark: SparkSession, dir: String,
      multiProbe: Boolean): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", signBucket(col("v")))
    val flips = if (multiProbe) 0 +: (0 until 8).map(1 << _) else Seq(0)
    val qs = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(array(flips.map(f => col("bucket").bitwiseXOR(lit(f))): _*))
          .as("bucket"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(qs, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("v"), col("qv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "cos_sim")
      .orderBy("q_id", "rk")
  }

  val d10Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v, $bucketSql AS bucket
         FROM embeddings),
       qs AS (
         SELECT vec_id AS q_id, v AS qv, xor(bucket, f) AS bucket
         FROM e, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f)
         WHERE vec_id < 8),
       scored AS (
         SELECT qs.q_id, e.vec_id, ${cosineSql("e.v", "qs.qv")} AS cos_sim
         FROM e JOIN qs ON e.bucket = qs.bucket AND e.vec_id <> qs.q_id)
       SELECT q_id, rk, vec_id, cos_sim FROM (
         SELECT q_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         FROM scored)
       WHERE rk <= 3 ORDER BY q_id, rk"""

  // --------------------------------------------------------------- d12
  /** Embedding-cosine near-dup dedup: candidate pairs come from a
    * self-equi-join on the sign-LSH bucket (same 256-bucket scheme as
    * d10 — agreeing on all 8 sign bits strongly correlates with high
    * cosine), then pairs at or above the threshold are reported as
    * duplicates. The join is keyed on the bucket — worst case quadratic
    * only within a bucket, like d2's banding.
    *
    * Threshold note: the synthetic embeddings are near-orthogonal (max
    * pairwise cosine ≈0.51 at sf0.01, no cluster structure), so a
    * realistic 0.95 near-dup threshold would select nothing at test
    * scale; 0.4 exercises the full candidate→verify path. The threshold
    * is the operator's tuning parameter, not part of its structure. */
  def d12EmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", signBucket(col("v")))
      .select(col("vec_id"), col("v"), col("bucket"))
    val r = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("bucket"))
    e.join(r, Seq("bucket"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        cosine(col("v"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
      .orderBy("vec_a", "vec_b")
  }

  val d12Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v, $bucketSql AS bucket
         FROM embeddings)
       SELECT vec_a, vec_b, cos_sim FROM (
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ${cosineSql("a.v", "b.v")} AS cos_sim
         FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       WHERE cos_sim >= 0.4
       ORDER BY vec_a, vec_b"""

  // --------------------------------------------------------------- d22
  /** Embedding near-dup CLUSTERS with a canonical survivor — the d15
    * counterpart for the vector side: connected components
    * ([[graft.ops.Clustering.minLabelComponents]]) over d12's verified
    * pair output, every component labeled by its minimum vec_id,
    * `keep = 1` on the survivor. "The embedding corpus minus near-dups"
    * is `keep = 1`. */
  def d22EmbeddingClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d12EmbeddingDedup(spark, dir)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
    val labels = Clustering.minLabelComponents(pairs)
    emb(spark, dir).select("vec_id")
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("keep",
        when(col("vec_id") === col("cluster_id"), 1).otherwise(0))
      .orderBy("vec_id")
  }

  val d22Oracle: String =
    s"""WITH RECURSIVE emb AS (
         SELECT vec_id, embedding::DOUBLE[] AS v, $bucketSql AS bucket
         FROM embeddings),
       pairs AS (
         SELECT vec_a, vec_b FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${cosineSql("a.v", "b.v")} AS cos_sim
           FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         WHERE cos_sim >= 0.4),
       edges AS (
         SELECT vec_a AS s, vec_b AS d FROM pairs
         UNION ALL SELECT vec_b, vec_a FROM pairs),
       reach(x, y) AS (
         SELECT DISTINCT s, s FROM edges
         UNION
         SELECT r.x, e2.d FROM reach r JOIN edges e2 ON e2.s = r.y),
       comp AS (SELECT x AS node, min(y) AS cl FROM reach GROUP BY x)
       SELECT vec_id,
         coalesce(cl, vec_id) AS cluster_id,
         CASE WHEN coalesce(cl, vec_id) = vec_id THEN 1 ELSE 0 END AS keep
       FROM embeddings LEFT JOIN comp ON node = vec_id
       ORDER BY vec_id"""

  // --------------------------------------------------------------- d14
  /** IVF parameters: K cells, Lloyd refinement rounds over a
    * deterministic 1-in-TrainMod sample, and the number of inverted
    * cells each probe searches. */
  private val IvfK = 8
  private val LloydIters = 2
  private val TrainMod = 5
  private val NProbe = 2

  /** Nearest-cell assignment — the primitive shared by training and
    * search. The O(K) centroid table is broadcast (the one deliberate
    * K-row nested loop in this file: K is a constant, not data-scaled);
    * the argmax is ONE partial-aggregating groupBy (`max` of a
    * (sim, -cent_id, v) struct, tie-broken toward the lowest cent_id),
    * so at most N rows shuffle — not the K·N sorted rows a row_number
    * window would move. */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        cosine(col("v"), col("cv")).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("cent_id")).as("nc"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), (-col("m.nc")).as("cell"))

  /** One Lloyd update: element-wise mean of each cell's member vectors.
    * Means are rounded to 4dp so the trained centroids are reproducible
    * across engines and across shuffle merge orders (double summation
    * order is otherwise nondeterministic). The dimensionality is a
    * fixture constant ([[PqFullDim]]), so the element means are
    * computed as one `avg(v[i])` aggregate per dimension on the
    * UNEXPLODED rows — one partial-aggregating exchange of K·dims
    * buffer cells keyed on the cell id, where the previous
    * posexplode → groupBy(cell, i) → collect_list/array_sort
    * formulation shuffled dims·N exploded element rows and paid a
    * second (cell)-keyed exchange plus an ObjectHashAggregate to
    * reassemble element order (optimization guide §2.3/§2.4: aggregate
    * before the shuffle, remove the second exchange outright; element
    * order is now positional by construction). */
  private def updateCentroids(assigned: DataFrame,
      dims: Int = PqFullDim): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(array((0 until dims).map(i =>
        round(avg(col("v").getItem(i)), 4)): _*).as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))

  /** The trained coarse quantizer shared by d14 IVF search, the
    * training-objective monitor, and d59 semantic dedup: centroids
    * start as the first K vectors, then LloydIters assign→mean rounds
    * over a deterministic 1-in-TrainMod sample refine them
    * (driver-coordinated loop — K·LloydIters tiny jobs over the SAMPLE
    * only; the corpus never enters training). */
  private def trainedCentroids(e: DataFrame): DataFrame = {
    val c0 = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val train = e.filter(col("vec_id") % TrainMod === 0)
    (1 to LloydIters).foldLeft(c0) { (c, _) =>
      updateCentroids(assignCells(train, c))
    }
  }

  /** IVF ANN with a TRAINED coarse quantizer: centroids start as the
    * first K vectors, then LloydIters assign→mean rounds over a
    * deterministic 1-in-TrainMod sample refine them (driver-coordinated
    * loop; each round reuses [[assignCells]]). Every corpus vector is
    * assigned to its nearest trained cell; each probe (vec_id < 3)
    * searches its NProbe nearest cells' inverted lists via an equi-join
    * on the cell id.
    *
    * Scale shape: training touches only the sample; the corpus-sized
    * side moves exactly once, shuffled on its cell id; the probe table
    * fans out NProbe rows per query. Recall/cost trade off by NProbe and
    * K — structure unchanged. */
  def d14AnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, trained = true, nProbe = NProbe)

  /** [[d14AnnIvf]] with training and probe width as switches — the
    * `trained = false, nProbe = 1` corner is the baseline the recall
    * test compares against. */
  private[graft] def annIvf(spark: SparkSession, dir: String,
      trained: Boolean, nProbe: Int): DataFrame = {
    val e = emb(spark, dir)
    val c0 = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cents =
      if (!trained) c0
      else trainedCentroids(e)
        .localCheckpoint() // 8 rows; reused by assignment AND probe ranking
    val assigned = assignCells(e, cents)
    val probes = e.filter(col("vec_id") < 3)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cent_id"),
        cosine(col("v"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("rk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"))
    val wTop = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("v"), col("qv")).as("cos_sim"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "cos_sim")
      .orderBy("q_id", "rk")
  }

  /** The same trained pipeline with the Lloyd rounds unrolled as CTEs
    * (the oracle favors clarity over efficiency: assignments use a
    * row_number window, means use an explicit 1..64 dimension unnest —
    * the fixture embeddings are 64-dim). Rounding matches the Spark
    * side: centroid means at 4dp, similarities at 4dp, identical
    * tie-break order. */
  /** One nearest-cell assignment pass in DuckDB SQL (oracle clarity
    * over efficiency: a row_number window over the K-way cross). */
  private def assignSql(vecsCte: String, centsCte: String): String =
    s"""SELECT vec_id, v, cent_id AS cell FROM (
       SELECT t.vec_id, t.v, c.cent_id,
         row_number() OVER (PARTITION BY t.vec_id
           ORDER BY ${cosineSql("t.v", "c.cv")} DESC, c.cent_id) AS rk
       FROM $vecsCte t, $centsCte c)
       WHERE rk = 1"""

  /** One Lloyd mean-update pass in DuckDB SQL (explicit 1..64 dimension
    * unnest — the fixture embeddings are 64-dim). */
  private def updateSql(assignCte: String): String =
    s"""SELECT cell AS cent_id, list(cx ORDER BY i) AS cv FROM (
       SELECT cell, i, round(avg(v[i]), 4) AS cx
       FROM $assignCte, (SELECT unnest(range(1, 65)) AS i)
       GROUP BY cell, i)
       GROUP BY cell"""

  /** The Lloyd rounds unrolled as CTEs — `c2` is the trained centroid
    * table, `assigned` every corpus vector with its nearest trained
    * cell. Shared by the d14 and d59 oracles; rounding matches the
    * Spark side (centroid means at 4dp, similarities at 4dp, identical
    * tie-break order). */
  private def trainedCtesSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       train AS (SELECT vec_id, v FROM e WHERE vec_id % $TrainMod = 0),
       c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $IvfK),
       a1 AS (${assignSql("train", "c0")}),
       c1 AS (${updateSql("a1")}),
       a2 AS (${assignSql("train", "c1")}),
       c2 AS (${updateSql("a2")}),
       assigned AS (${assignSql("e", "c2")})"""

  val d14Oracle: String = {
    s"""WITH $trainedCtesSql,
       probes AS (
         SELECT q_id, qv, cell FROM (
           SELECT t.vec_id AS q_id, t.v AS qv, c.cent_id AS cell,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY ${cosineSql("t.v", "c.cv")} DESC, c.cent_id) AS rk
           FROM e t, c2 c WHERE t.vec_id < 3)
         WHERE rk <= $NProbe),
       scored AS (
         SELECT q_id, a.vec_id, ${cosineSql("a.v", "probes.qv")} AS cos_sim
         FROM assigned a JOIN probes ON a.cell = probes.cell AND a.vec_id <> probes.q_id)
       SELECT q_id, rk, vec_id, cos_sim FROM (
         SELECT q_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         FROM scored)
       WHERE rk <= 3 ORDER BY q_id, rk"""
  }

  /** Mean cosine similarity of every corpus vector to its assigned
    * centroid — the quantization quality Lloyd training optimizes (the
    * recall of a single probe is chance on isotropic data, but this
    * objective must improve with training). */
  private[graft] def meanAssignSim(spark: SparkSession, dir: String,
      trained: Boolean): Double = {
    val e = emb(spark, dir)
    val c0 = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cents =
      if (!trained) c0
      else trainedCentroids(e)
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), cosine(col("v"), col("cv")).as("sim"))
      .groupBy("vec_id").agg(max("sim").as("best"))
      .agg(avg("best")).head().getDouble(0)
  }

  /** Exact brute-force cosine top-3 for the first `numProbes` vectors —
    * the ground truth the ANN recall tests measure d10/d14 against. */
  private[graft] def exactTopk(spark: SparkSession, dir: String,
      numProbes: Int): DataFrame = {
    val e = emb(spark, dir)
    val qs = e.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("v"), col("qv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "cos_sim")
  }

  // --------------------------------------------------------------- d30
  /** Per-label CLUSTER PROFILES — the "data map" report over an
    * embedded corpus: member count and cohesion (mean cosine of members
    * to their label centroid) per label. Low-cohesion labels are mixed
    * or mislabeled slices; the report is what guides re-labeling and
    * mixture reweighting.
    *
    * Scale shape: the centroid pass is one partial-aggregated shuffle
    * keyed on (label, dim) — 64·N tiny rows, never the vectors
    * themselves twice; the K-row centroid table then broadcasts back
    * for the cohesion pass (one more ≤K-key aggregate). Same
    * reproducibility discipline as IVF training: means and cosines at
    * 4dp, element order pinned by `array_sort`. */
  def d30LabelProfiles(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(round(avg("x"), 4).as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("a"))
      .select(col("label"), transform(col("a"), s => s.getField("cx")).as("cv"))
    e.join(broadcast(cents), "label")
      .select(col("label"), cosine(col("v"), col("cv")).as("sim"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg("sim"), 4).as("cohesion"))
      .orderBy("label")
  }

  val d30Oracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         FROM embeddings),
       cents AS (
         SELECT label, list(cx ORDER BY i) AS cv FROM (
           SELECT label, i, round(avg(v[i]), 4) AS cx
           FROM e, (SELECT unnest(range(1, 65)) AS i)
           GROUP BY label, i)
         GROUP BY label)
       SELECT e.label, count(*) AS n_vecs,
         round(avg(${cosineSql("e.v", "cents.cv")}), 4) AS cohesion
       FROM e JOIN cents ON e.label = cents.label
       GROUP BY e.label ORDER BY e.label"""

  // --------------------------------------------------------------- d36
  /** Salt for the balanced-resample hash stream (see
    * [[CorpusOps.splitOf]]'s salt note — every hash-based decision gets
    * its own stream so decisions stay uncorrelated). */
  private val BalanceSalt = "bal:"

  /** LABEL-BALANCED deterministic RESAMPLE — downsample every label to
    * the smallest label's count, members chosen by salted content hash:
    * the class-rebalancing step before training on skewed labeled data.
    * Hash-ranked selection is content-stable (re-runs and incremental
    * corpus extensions keep the same members, modulo quota growth) and
    * engine-reproducible. The report pins exact membership via
    * `kept_id_xor` — the XOR of the members' salted 60-bit hashes.
    * XOR is order-insensitive and cannot overflow, so the fingerprint
    * stays meaningful at snowflake-scale ids where a plain `sum(vec_id)`
    * would silently wrap (and throw under ANSI); hashing first means
    * equal-sum memberships (e.g. {1,4} vs {2,3}) still fingerprint
    * differently — pinned by a unit test.
    *
    * Scale shape: one shuffle on label for the rank window plus a
    * K-row quota broadcast. The window sorts only (hash, id) pairs,
    * never vectors. With a FIXED quota (the production config) the
    * rank filter is a literal and Spark 4 plans it as WindowGroupLimit
    * — per-partition top-quota heaps map-side before the exchange; the
    * dynamic min-label quota used here needs the full sort per label
    * (still only id-width rows). Label skew = partition skew: a
    * 100TB-scale corpus with one dominant label salts the window key
    * or pre-filters with an approximate per-label threshold first. */
  def d36BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    // eager checkpoint: the (label, id, hash) projection feeds both the
    // quota aggregate and the rank window — one table read, not two
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        graft.ops.TextOps.hash60(
          concat(lit(BalanceSalt), col("vec_id").cast("string"))).as("hk"))
      .localCheckpoint()
    val ranked = base.withColumn("rn", row_number().over(
      Window.partitionBy("label").orderBy("hk", "vec_id")))
    val quota = broadcast(
      base.groupBy("label").agg(count(lit(1)).as("c"))
        .agg(min("c").as("quota")))
    ranked.crossJoin(quota)
      .groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= col("quota"), 1L).otherwise(0L)).as("n_kept"),
        // XOR-of-hash membership fingerprint; non-kept rows contribute
        // the XOR identity (0), so no pre-filter pass is needed
        bit_xor(when(col("rn") <= col("quota"), col("hk")).otherwise(lit(0L)))
          .as("kept_id_xor"))
      .orderBy("label")
  }

  /** Fixed-quota balanced resample — the production configuration: with
    * a LITERAL quota the rank filter plans as WindowGroupLimit, so each
    * task keeps a per-label top-quota heap map-side and only ≤ quota
    * rows per (partition, label) reach the exchange (plan-tested). The
    * gated d36 derives its quota from the data (min label count), which
    * needs the full per-label sort — use this entry point when the
    * quota is config, which it is in every real rebalancing job. */
  def balancedSampleTo(d: DataFrame, quota: Int): DataFrame =
    d.select(col("label"), col("vec_id"),
        graft.ops.TextOps.hash60(
          concat(lit(BalanceSalt), col("vec_id").cast("string"))).as("hk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy("hk", "vec_id")))
      .filter(col("rn") <= quota)
      .select("label", "vec_id")

  // --------------------------------------------------------------- d44
  /** The quota the gated fixed-quota entry runs at — below the sf0.01
    * per-label counts (~50) so the gate exercises real truncation, not
    * a no-op filter. */
  private val FixedQuota = 20

  /** Driver-gated [[balancedSampleTo]]: the fixed-quota (production)
    * configuration of the balanced resample, returning the kept
    * (label, vec_id) membership itself. The literal quota is what lets
    * Spark 4 plan the rank filter as WindowGroupLimit — per-partition
    * top-quota heaps BEFORE the exchange (pinned by the plan test in
    * `OpsSpec`); labels smaller than the quota are kept whole. The
    * trailing sort is gate determinism only, not part of the operator. */
  def d44BalancedQuota(spark: SparkSession, dir: String): DataFrame =
    balancedSampleTo(Tables.load(spark, dir, "embeddings"), FixedQuota)
      .orderBy("label", "vec_id")

  val d44Oracle: String =
    s"""SELECT label, vec_id FROM (
         SELECT label, vec_id,
           row_number() OVER (PARTITION BY label
             ORDER BY
               ('0x'||substr(md5('$BalanceSalt'||vec_id::VARCHAR),1,15))::BIGINT,
               vec_id) AS rn
         FROM embeddings)
       WHERE rn <= $FixedQuota ORDER BY label, vec_id"""

  // --------------------------------------------------------------- d42
  /** INT8 SCALAR QUANTIZATION audit — the 4× storage lever for a
    * 100 TB vector store: per-vector max-abs scale, codes
    * `floor(x/scale·127 + 0.5)` clamped to [−127, 127], and the
    * per-label mean absolute reconstruction error the compression
    * costs. `floor(·+0.5)` rather than `round()` because the two
    * engines disagree on rounding mode at exact halves (Spark HALF_UP
    * vs DuckDB half-even on doubles) — the explicit formula is
    * bit-identical in both. Reported per label so a slice whose value
    * distribution quantizes badly (high dynamic range) is visible
    * before the codes replace the floats.
    *
    * Scale shape: pure narrow map over each vector — the per-vector
    * scale + reconstruction-error loops run inside whole-stage codegen
    * via the native [[graft.functions.QuantError]] expression (the
    * earlier `transform`/`aggregate` formulation was an interpreted
    * CodegenFallback on the per-element hot path; a parity test pins
    * the two bit-identical) — plus a K-row label aggregate. The float
    * arrays never shuffle; a production pipeline writes the codes +
    * scale columns and drops the floats in the same pass. */
  def d42Quantization(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("label"),
        graft.functions.QuantError(
          col("embedding").cast("array<double>")).as("q"))
      .select(col("label"), col("q.err").as("err"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("err"), 6).as("mean_abs_err"))
      .orderBy("label")

  // --------------------------------------------------------------- d51
  /** QUANTIZED similarity search — the d42 storage lever actually
    * exercised: top-10 cosine for the d9 probe served from the int8
    * CODES ([[graft.functions.QuantCodes]]) instead of the float
    * vectors. Cosine is scale-invariant, so code-space similarity
    * EQUALS similarity over the reconstructed `code·scale` vectors
    * (the per-vector scale cancels); what the ranking loses vs d9 is
    * only the rounding to 255 levels — at gate scale the top-10 set is
    * d9's, with 4-dp similarities shifted by the quantization. A
    * production store writes the tinyint codes and serves this query
    * reading a quarter of the bytes.
    *
    * Scale shape: identical to d9 — the codes projection is a narrow
    * codegen'd map (QuantCodes, then one array cast back to double for
    * the fused cosine loop; both inside whole-stage codegen), the
    * one-row probe broadcasts, ORDER BY + LIMIT compile to
    * per-partition top-k heaps (TakeOrderedAndProject, no global
    * sort). */
  def d51QuantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    val c = emb(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.QuantCodes(col("v")).cast("array<double>").as("cv"))
    val probe = c.filter(col("vec_id") === 0).select(col("cv").as("qv"))
    c.crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        cosine(col("cv"), col("qv")).as("cos_sim_q"))
      .orderBy(col("cos_sim_q").desc, col("vec_id"))
      .limit(10)
  }

  // --------------------------------------------------------------- d53
  /** ANN RECALL report — the health metric every approximate index
    * deployment monitors: per probe, how many of the brute-force top-3
    * neighbors the d10 multi-probe LSH index actually returned
    * (`recall@3`). Real pipelines run exactly this loop — sample
    * probes, compute exact ground truth for the sample only, score the
    * index — because an index whose recall silently degrades (data
    * drift moving mass across hyperplanes) poisons every downstream
    * dedup/retrieval decision.
    *
    * Scale shape: ground truth is brute-force ONLY over the probe
    * sample (the 8 probes broadcast; one corpus scan scores them all,
    * per-partition top-k heaps — d9's plan per probe, shared scan);
    * the index side is the d10 bucketed path. The verdict join and
    * rollup touch 24 rows. At 100 TB the probe sample grows to
    * thousands and the shape is unchanged — the corpus is still
    * scanned once for truth and probed via buckets for the index.
    *
    * The gate-scale numbers are themselves the demonstration: the
    * synthetic embeddings are near-orthogonal (no cluster structure),
    * so 8 sign bits barely correlate with true top-3 neighbors and the
    * report reads 0–33% — the "your index is not serving its corpus"
    * signal this monitor exists to raise (d14's trained IVF is the
    * remediation; its recall test lives in `OpsSpec`). */
  def d53AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id")
    val index = annLsh(spark, dir, multiProbe = true).select("q_id", "vec_id")
    val hits = truth.join(index, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    probes.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / 3, 4)
          .as("recall_at_3"))
      .orderBy("q_id")
  }

  /** Brute-force truth CTE + d10's index CTEs + a 24-row verdict join. */
  val d53Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v, $bucketSql AS bucket
         FROM embeddings),
       probes AS (
         SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 8),
       truth AS (
         SELECT q_id, vec_id FROM (
           SELECT p.q_id, e.vec_id,
             row_number() OVER (PARTITION BY p.q_id
               ORDER BY ${cosineSql("e.v", "p.qv")} DESC, e.vec_id) AS rk
           FROM e JOIN probes p ON e.vec_id <> p.q_id)
         WHERE rk <= 3),
       qs AS (
         SELECT q_id, qv, xor(qb, f) AS bucket
         FROM probes, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f)),
       scored AS (
         SELECT qs.q_id, e.vec_id, ${cosineSql("e.v", "qs.qv")} AS cos_sim
         FROM e JOIN qs ON e.bucket = qs.bucket AND e.vec_id <> qs.q_id),
       idx AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_sim DESC, vec_id) AS rk
           FROM scored)
         WHERE rk <= 3),
       hits AS (
         SELECT t.q_id, count(*) AS n_hits
         FROM truth t JOIN idx i ON t.q_id = i.q_id AND t.vec_id = i.vec_id
         GROUP BY t.q_id)
       SELECT p.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         round(coalesce(n_hits, 0) / 3.0, 4) AS recall_at_3
       FROM probes p LEFT JOIN hits ON p.q_id = hits.q_id
       ORDER BY p.q_id"""

  // --------------------------------------------------------------- d59
  /** Pair threshold for semantic duplicate edges. Same calibration note
    * as d12: the synthetic embeddings are near-orthogonal, so a
    * production-realistic 0.95 would select nothing at gate scale; 0.4
    * exercises the full path. The threshold is the tuning knob, not the
    * structure. */
  private val SemThreshold = 0.4

  /** SEMANTIC DEDUP — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540, public): duplicates are found WITHIN the cells
    * of a trained k-means coarse quantizer, never across the whole
    * corpus. d12/d22 bucket by data-independent hyperplane signs; here
    * the buckets are the d14-trained Lloyd cells, which adapt to the
    * corpus's actual density — the published result is that
    * cell-bounded pairwise search finds the semantic near-dups that
    * matter at a tiny fraction of all-pairs cost. Within each cell,
    * pairs at/above [[SemThreshold]] become edges, connected components
    * merge them (edges never cross cells, so components are
    * cell-bounded), and the member MOST similar to its cell centroid
    * survives (ties to the smaller vec_id) — one swappable line of
    * policy, same argmax idiom as d57 (the paper explores
    * keep-low-centroid-similarity; most-central is the conservative
    * default).
    *
    * Scale shape: an EXACT pre-pass first (the d2/d52 lesson):
    * byte-identical vectors collapse to their min-id representative via
    * a group-by on the vector value BEFORE any quadratic work —
    * identical vectors always co-cluster (cosine 1.0 ≥ any threshold)
    * and share cell and centroid-similarity, so collapsing preserves
    * the result exactly while a replica-dense corpus (the common case
    * dedup exists for) never inflates the pair join. Training touches
    * only the 1-in-TrainMod sample; only representatives move into
    * cell-keyed partitions; the pair join is an equi-join on the cell
    * id (quadratic only within a cell — K grows with corpus size in
    * production SemDeDup, ~100k cells for ~100M docs, bounding cell
    * populations); the survivor argmax is a partial-aggregated
    * struct-max, not a per-cluster sort window. The rep assignment is
    * checkpointed once for its three consumers (centroid similarity,
    * both pair-join sides).
    *
    * Identity invariants the expansion step relies on: the rep is its
    * group's MIN id, so a component's min member id equals its min rep
    * id (cluster labels are unchanged by collapsing), and the keep
    * policy's tie-break (max cent_sim, then min id) can only ever pick
    * a rep — replicas tie on cent_sim but lose the id tie-break. */
  def d59SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = trainedCentroids(e).localCheckpoint()
    // ONE vector-keyed exchange yields both the member→rep mapping and
    // the rep set (a groupBy + join-back would move the vectors twice);
    // checkpointed because the rep pipeline and the final expansion
    // both consume it
    val mapped = e.select(col("vec_id"), col("v"))
      .withColumn("rep_id", min("vec_id").over(Window.partitionBy("v")))
      .localCheckpoint()
    val reps = mapped.filter(col("vec_id") === col("rep_id"))
    val assigned = assignCells(reps.select("vec_id", "v"), cents)
      .localCheckpoint()
    val withSim = assigned
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"), cosine(col("v"), col("cv")).as("cent_sim"))
    val right = assigned
      .select(col("vec_id").as("vec_b"), col("v").as("vb"), col("cell"))
    val pairs = assigned.join(right, Seq("cell"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("a"), col("vec_b").as("b"),
        cosine(col("v"), col("vb")).as("cs"))
      .filter(col("cs") >= SemThreshold)
      .select("a", "b")
    val labels = Clustering.minLabelComponents(pairs)
    val members = withSim
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
    val best = members.groupBy("cluster_id")
      .agg(max(struct(col("cent_sim"), (-col("vec_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("best_id"))
    val repVerdict = members.join(best, "cluster_id")
      .withColumnRenamed("vec_id", "rep_id")
    mapped.select("vec_id", "rep_id")
      .join(repVerdict, Seq("rep_id"))
      .select(col("vec_id"), col("cell"), col("cluster_id"), col("cent_sim"),
        when(col("vec_id") === col("best_id"), 1).otherwise(0).as("keep"))
      .orderBy("vec_id")
  }

  /** The trained-quantizer CTEs (shared with d14) + the exact-collapse
    * pre-pass + within-cell pairs over representatives + d22's
    * recursive-reach components + d57's keep-policy window, expanded
    * back to every vector at the end. */
  val d59Oracle: String =
    s"""WITH RECURSIVE $trainedCtesSql,
       reps AS (SELECT v, min(vec_id) AS rep_id FROM e GROUP BY v),
       ra AS (
         SELECT a.vec_id, a.v, a.cell
         FROM assigned a JOIN reps r ON a.vec_id = r.rep_id),
       csim AS (
         SELECT a.vec_id, a.cell, ${cosineSql("a.v", "c.cv")} AS cent_sim
         FROM ra a JOIN c2 c ON a.cell = c.cent_id),
       pairs AS (
         SELECT a.vec_id AS va, b.vec_id AS vb
         FROM ra a JOIN ra b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE ${cosineSql("a.v", "b.v")} >= $SemThreshold),
       edges AS (
         SELECT va AS s, vb AS d FROM pairs
         UNION ALL SELECT vb, va FROM pairs),
       reach(x, y) AS (
         SELECT DISTINCT s, s FROM edges
         UNION
         SELECT r.x, e2.d FROM reach r JOIN edges e2 ON e2.s = r.y),
       comp AS (SELECT x AS node, min(y) AS cl FROM reach GROUP BY x),
       members AS (
         SELECT vec_id, cell, cent_sim, coalesce(cl, vec_id) AS cluster_id
         FROM csim LEFT JOIN comp ON node = vec_id),
       best AS (
         SELECT cluster_id, vec_id AS best_id FROM (
           SELECT cluster_id, vec_id,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY cent_sim DESC, vec_id) AS rn
           FROM members) WHERE rn = 1)
       SELECT x.vec_id, m.cell, m.cluster_id, m.cent_sim,
         CASE WHEN x.vec_id = b.best_id THEN 1 ELSE 0 END AS keep
       FROM (SELECT e.vec_id, r.rep_id FROM e JOIN reps r ON e.v = r.v) x
       JOIN members m ON x.rep_id = m.vec_id
       JOIN best b ON m.cluster_id = b.cluster_id
       ORDER BY x.vec_id"""

  /** d9's oracle shape over the quantized codes: the same explicit
    * quantization arithmetic as d42's oracle (floor(·+0.5), clamp),
    * the same explicit cosine as d9's. Integer codes ≤127 over
    * gate-sized dimensions keep every double sum exact, so engine
    * summation order cannot move the hashes. */
  val d51Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, label, embedding::DOUBLE[] AS v,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
             AS scale
         FROM embeddings),
       c AS (
         SELECT vec_id, label,
           CASE WHEN scale > 0 THEN
             list_transform(v, x ->
               greatest(-127.0, least(127.0, floor(x / scale + 0.5))))
           ELSE list_transform(v, x -> 0.0) END AS cv
         FROM e),
       probe AS (SELECT cv AS qv FROM c WHERE vec_id = 0)
       SELECT vec_id, label, ${cosineSql("cv", "qv")} AS cos_sim_q
       FROM c, probe
       ORDER BY cos_sim_q DESC, vec_id LIMIT 10"""

  val d42Oracle: String =
    """WITH e AS (
         SELECT label, embedding::DOUBLE[] AS v,
           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
             AS scale
         FROM embeddings),
       per AS (
         SELECT label,
           CASE WHEN scale > 0 THEN
             list_sum(list_transform(v, x ->
               abs(x - greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
                       * scale)))
             / len(v)
           ELSE 0.0 END AS err
         FROM e)
       SELECT label, count(*) AS n_vecs,
         round(avg(err), 6) AS mean_abs_err
       FROM per GROUP BY label ORDER BY label"""

  val d36Oracle: String =
    s"""WITH h AS (
         SELECT label, vec_id,
           ('0x'||substr(md5('$BalanceSalt'||vec_id::VARCHAR),1,15))::BIGINT
             AS hk
         FROM embeddings),
       r AS (
         SELECT label, vec_id, hk,
           row_number() OVER (PARTITION BY label ORDER BY hk, vec_id) AS rn
         FROM h),
       q AS (SELECT min(c) AS quota FROM
             (SELECT count(*) AS c FROM embeddings GROUP BY label))
       SELECT label, count(*) AS n_total,
         CAST(sum(CASE WHEN rn <= quota THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         bit_xor(CASE WHEN rn <= quota THEN hk ELSE 0 END) AS kept_id_xor
       FROM r, q GROUP BY label ORDER BY label"""

  // --------------------------------------------------------------- d67
  /** EMBEDDING OUTLIER audit — per-label centroid z-score: a vector
    * whose distance to its own label's centroid is > 2σ above that
    * label's mean distance is flagged (mislabeled rows, encoder
    * failures, and garbage inputs all surface here before they poison
    * contrastive training or ANN index quality). Complements d30
    * (which profiles label GEOMETRY) with a per-ROW verdict.
    *
    * Scale shape: the centroid table is (labels × dim) rows built by
    * ONE dim-exploded partial aggregate of the store, collapsed back
    * to `labels` array rows and BROADCAST — the store itself never
    * shuffles: each vector's distance is an element-ordered per-vector
    * loop against the broadcast centroid (same accumulation order in
    * both engines), and the per-label mean/σ re-aggregates N scalar
    * rows. Two corpus-wide narrow passes + label-sized exchanges; at
    * 100 TB the dim-exploded aggregate map-side-combines to
    * (labels × 64) rows per partition before its shuffle.
    *
    * The per-vector loop is the interpreted `zip_with`/`aggregate`
    * HOF pair — acceptable here because it runs once per ROW (not per
    * candidate pair, the d42/CosineSim lesson threshold); promote to a
    * native expression if a profile ever shows it hot. */
  def d67EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg("x").as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ic"))
      .select(col("label"), transform(col("ic"), s => s.getField("c")).as("cv"))
    val dist = e.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        sqrt(aggregate(
          zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, d) => acc + d)).as("dist"))
    val stats = dist.groupBy("label")
      .agg(avg("dist").as("m"), stddev_pop("dist").as("s"))
    dist.join(broadcast(stats), "label")
      .withColumn("z", (col("dist") - col("m")) / col("s"))
      .filter(col("z") > 2)
      .select(col("label"), col("vec_id"),
        round(col("dist"), 4).as("dist"), round(col("z"), 4).as("z"))
      .orderBy("label", "vec_id")
  }

  val d67Oracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                  FROM embeddings),
       cent AS (
         SELECT label, i, avg(v[i]) AS c
         FROM e, (SELECT unnest(range(1, 65)) AS i) GROUP BY label, i),
       cl AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
       dist AS (
         SELECT vec_id, e.label,
           sqrt(list_sum(list_transform(range(1, 65),
             i -> (v[i] - cv[i]) * (v[i] - cv[i])))) AS dist
         FROM e JOIN cl ON e.label = cl.label),
       st AS (SELECT label, avg(dist) AS m, stddev_pop(dist) AS s
              FROM dist GROUP BY label)
       SELECT dist.label, vec_id,
         round(dist, 4) AS dist, round((dist - m) / s, 4) AS z
       FROM dist JOIN st ON dist.label = st.label
       WHERE (dist - m) / s > 2
       ORDER BY dist.label, vec_id"""

  // --------------------------------------------------------------- d69
  /** HARD-NEGATIVE / margin audit for contrastive training: per anchor
    * vector, the most-similar SAME-label candidate (`best_pos`) and the
    * most-similar DIFFERENT-label candidate (`best_neg`) within its
    * sign-LSH bucket, and the margin between them. A negative margin
    * means a wrong-label vector sits closer than any right-label one —
    * exactly the examples a contrastive/triplet loss needs as hard
    * negatives, and exactly the rows a labeler should re-check. The
    * 50 worst margins are reported (the mining output IS a worklist).
    *
    * Scale shape: identical to d12 — candidates come from the bucketed
    * equi-join (each anchor scores only its bucket, never all rows;
    * directed pairs here because the stats are per-anchor), the native
    * [[graft.functions.CosineSim]] runs per candidate pair inside
    * codegen, and the per-anchor conditional max collapses pairs back
    * to ≤N rows before the final distributed top-50
    * (TakeOrderedAndProject). Anchors whose bucket lacks a same-label
    * or different-label neighbor are dropped (no margin is defined),
    * which also keeps NULL-ordering out of the cross-engine compare. */
  def d69HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", signBucket(col("v")))
    val anchors = e.select(col("bucket"), col("vec_id").as("a_id"),
      col("label").as("a_label"), col("v").as("av"))
    val cands = e.select(col("bucket"), col("vec_id").as("b_id"),
      col("label").as("b_label"), col("v").as("bv"))
    anchors.join(cands, Seq("bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("a_label"), col("b_label"),
        cosine(col("av"), col("bv")).as("cos"))
      .groupBy(col("a_id").as("vec_id"), col("a_label").as("label"))
      .agg(
        max(when(col("a_label") === col("b_label"), col("cos"))).as("best_pos"),
        max(when(col("a_label") =!= col("b_label"), col("cos"))).as("best_neg"))
      .filter(col("best_pos").isNotNull && col("best_neg").isNotNull)
      .withColumn("margin", round(col("best_pos") - col("best_neg"), 4))
      .orderBy(col("margin").asc, col("vec_id"))
      .limit(50)
  }

  val d69Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, label, embedding::DOUBLE[] AS v, $bucketSql AS bucket
         FROM embeddings),
       pairs AS (
         SELECT a.vec_id AS vec_id, a.label AS label,
           CASE WHEN a.label = b.label
                THEN ${cosineSql("a.v", "b.v")} END AS pos_cos,
           CASE WHEN a.label <> b.label
                THEN ${cosineSql("a.v", "b.v")} END AS neg_cos
         FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       agg AS (
         SELECT vec_id, label,
           max(pos_cos) AS best_pos, max(neg_cos) AS best_neg
         FROM pairs GROUP BY vec_id, label)
       SELECT vec_id, label, best_pos, best_neg,
         round(best_pos - best_neg, 4) AS margin
       FROM agg
       WHERE best_pos IS NOT NULL AND best_neg IS NOT NULL
       ORDER BY margin ASC, vec_id LIMIT 50"""

  // --------------------------------------------------------------- d83
  /** Prefix length for the truncation audit (64-dim store -> 16). */
  private[graft] val MatryoshkaDim = 16

  /** EMBEDDING-TRUNCATION FIDELITY AUDIT (Matryoshka-style, Kusupati
    * et al. 2022, public): how much of the full-dimension top-k
    * neighborhood survives when vectors are truncated to their first
    * [[MatryoshkaDim]] dimensions — the measurement that decides
    * whether a store can serve candidate retrieval from a cheap prefix
    * (4x less memory bandwidth here) and rerank with full vectors.
    * Per probe: top-3 by full cosine vs top-3 by prefix cosine,
    * overlap@3. The d53 recall-monitor pattern pointed at a different
    * index approximation.
    *
    * Scale shape: K-row probe broadcast (never a data-sized cross
    * join), the pair frame is checkpointed once for its two ranking
    * consumers, and both rankings window on the SAME q_id partition
    * key -> one exchange, two in-partition sorts over K*N rows. */
  def d83MatryoshkaAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cs_full"),
        cosine(slice(col("v"), 1, MatryoshkaDim),
          slice(col("qv"), 1, MatryoshkaDim)).as("cs_trunc"))
      .localCheckpoint()
    def top3(by: Column) = pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(by.desc, col("vec_id"))))
      .filter(col("rk") <= 3).select("q_id", "vec_id")
    val hits = top3(col("cs_full"))
      .join(top3(col("cs_trunc")), Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_kept"))
    probes.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") / 3, 4)
          .as("overlap_at_3"))
      .orderBy("q_id")
  }

  val d83Oracle: String =
    s"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       probes AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
       pairs AS (
         SELECT p.q_id, e.vec_id,
           ${cosineSql("e.v", "p.qv")} AS cs_full,
           ${cosineSql(s"e.v[1:$MatryoshkaDim]", s"p.qv[1:$MatryoshkaDim]")}
             AS cs_trunc
         FROM e JOIN probes p ON e.vec_id <> p.q_id),
       tf AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cs_full DESC, vec_id) AS rk FROM pairs)
         WHERE rk <= 3),
       tt AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
             ORDER BY cs_trunc DESC, vec_id) AS rk FROM pairs)
         WHERE rk <= 3),
       hits AS (
         SELECT q_id, count(*) AS n_kept
         FROM tf JOIN tt USING (q_id, vec_id) GROUP BY q_id)
       SELECT p.q_id, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         round(coalesce(n_kept, 0) / 3.0, 4) AS overlap_at_3
       FROM probes p LEFT JOIN hits USING (q_id)
       ORDER BY q_id"""

  // --------------------------------------------------------------- d87
  /** Cosine threshold for vector confirmation — same fixture
    * calibration note as d59 (synthetic embeddings are
    * near-orthogonal; production uses ~0.9). */
  private[graft] val HybridConfirmCos = 0.4

  /** HYBRID TEXT+VECTOR DEDUP CONFIRMATION — the two independent
    * near-dup signals CROSS-CHECKED: d16's SimHash banding proposes
    * textual near-dup pairs, and each pair's EMBEDDING cosine either
    * confirms or disputes it. Surface-level hashes flag template
    * variants that say different things (same boilerplate frame,
    * different payload); embeddings flag paraphrases the hashes miss —
    * a pair both signals agree on is a safe drop, a disputed pair is a
    * review queue, and the dispute RATE is a corpus-health number.
    * Emits each text-proposed pair whose BOTH documents have vectors
    * in the embedding store, with its Hamming distance, cosine, and
    * the confirmation verdict — an inner join on the id space, so a
    * pair with an unembedded side is EXCLUDED from this report (it
    * stays in d16's own output; a pipeline wanting text-only verdicts
    * for unembedded docs consumes d16 directly, this op is the
    * cross-check over the embedded subset).
    *
    * Scale shape: d16's capped band join proposes candidate pairs
    * (never all-pairs); the vector join-back touches candidate ids
    * only — two hash joins moving (id, vector) for candidates, the
    * native fused [[graft.functions.CosineSim]] per pair. */
  def d87HybridDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = FuzzyDedup.d16SimhashDedup(spark, dir)
    val e = emb(spark, dir)
    pairs
      .join(e.select(col("vec_id").as("doc_a"), col("v").as("va")), "doc_a")
      .join(e.select(col("vec_id").as("doc_b"), col("v").as("vb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        cosine(col("va"), col("vb")).as("cos"))
      .withColumn("confirmed",
        when(col("cos") >= HybridConfirmCos, 1).otherwise(0))
      .orderBy("doc_a", "doc_b")
  }

  /** d16's full oracle as a CTE, joined to the embedding store. */
  val d87Oracle: String =
    s"""WITH pairs AS (${FuzzyDedup.d16Oracle}),
       ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       SELECT p.doc_a, p.doc_b, p.hamming,
         ${cosineSql("a.v", "b.v")} AS cos,
         CASE WHEN ${cosineSql("a.v", "b.v")} >= $HybridConfirmCos
           THEN 1 ELSE 0 END AS confirmed
       FROM pairs p
       JOIN ev a ON a.vec_id = p.doc_a
       JOIN ev b ON b.vec_id = p.doc_b
       ORDER BY p.doc_a, p.doc_b"""

  // -------------------------------------------------------------- d110
  /** Power-iteration count for the principal component. Convergence is
    * geometric in λ₂/λ₁; five rounds from the uniform start separate
    * the top component to well past the gate's 4-dp resolution on this
    * store, and a fixed count keeps the oracle straight-line SQL (the
    * d98 discipline). */
  private[graft] val PcaIters = 5
  private[graft] val PcaDim = 64

  /** TOP PRINCIPAL COMPONENT via distributed POWER ITERATION (textbook
    * public; the covariance-free formulation behind every large-scale
    * PCA: never materialize the dim×dim covariance, iterate
    * `v ← X_cᵀ(X_c v)` with X_c the mean-centered store). The first PC
    * is embedding-pipeline infrastructure: whitening, drift detection
    * (a rotating PC1 between snapshots flags an encoder change), and
    * the "is one direction eating the variance" health check behind
    * d83's truncation audit. The suite's third iterative shape —
    * label-algebraic (connected components), stochastic-matrix (d98),
    * now numeric-linear-algebra.
    *
    * Scale shape: the store is exploded ONCE to the tall-skinny
    * centered form (vec, dim, x−μ) and checkpointed — the form every
    * iteration reuses; an iteration is two keyed aggregates (project
    * on vec, accumulate on dim — each a shuffle of the tall-skinny
    * frame, never a dim×dim product), the 64-row vector re-broadcasts
    * each round, and the norm is a 1-row aggregate. Power iteration
    * from a fixed positive start has NO eigen-sign ambiguity — both
    * engines follow the same sign trajectory, so the gate needs no
    * sign canonicalization. */
  def d110PowerPca(spark: SparkSession, dir: String): DataFrame = {
    val xd = emb(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
    val mu = xd.groupBy("d").agg(avg("x").as("mu"))
    val xc = xd.join(broadcast(mu), "d")
      .select(col("vec_id"), col("d"), (col("x") - col("mu")).as("x"))
      .localCheckpoint()
    var v = mu.select(col("d"))
      .crossJoin(broadcast(mu.agg(count(lit(1)).cast("double").as("k"))))
      .select(col("d"), (lit(1.0) / sqrt(col("k"))).as("v"))
      .localCheckpoint()
    for (_ <- 1 to PcaIters) {
      val y = xc.join(broadcast(v), "d")
        .groupBy("vec_id").agg(sum(col("x") * col("v")).as("y"))
      val s = xc.join(y, "vec_id")
        .groupBy("d").agg(sum(col("x") * col("y")).as("s"))
      val nrm = broadcast(s.agg(sqrt(sum(col("s") * col("s"))).as("n")))
      v = s.crossJoin(nrm)
        .select(col("d"), (col("s") / col("n")).as("v"))
        .localCheckpoint()
    }
    v.select((col("d") + 1).cast("int").as("dim"),
        round(col("v"), 4).as("loading"))
      .orderBy("dim")
  }

  /** The DuckDB twin unrolls the same five iterations as chained CTEs
    * over the identical tall-skinny centered form. */
  val d110Oracle: String = {
    val iters = (1 to PcaIters).map { t =>
      val prev = s"v${t - 1}"
      s"""y$t AS (SELECT vec_id, sum(x * v) AS y
                  FROM xc JOIN $prev USING (d) GROUP BY vec_id),
        s$t AS (SELECT d, sum(x * y) AS s
                FROM xc JOIN y$t USING (vec_id) GROUP BY d),
        v$t AS (SELECT d, s / (SELECT sqrt(sum(s * s)) FROM s$t) AS v
                FROM s$t)"""
    }.mkString(",\n", ",\n", "")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       xd AS (SELECT vec_id, i AS d, v[i] AS x
              FROM e, (SELECT unnest(range(1, ${PcaDim + 1})) AS i)),
       mu AS (SELECT d, avg(x) AS mu FROM xd GROUP BY d),
       xc AS (SELECT vec_id, xd.d, x - mu AS x FROM xd JOIN mu USING (d)),
       v0 AS (SELECT d, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mu))
                AS v
              FROM mu)$iters
       SELECT CAST(d AS INT) AS dim, round(v, 4) AS loading
       FROM v$PcaIters ORDER BY dim"""
  }

  // -------------------------------------------------------------- d111
  /** Neighbor count for the label vote. Odd-ish k keeps ties rare; the
    * deterministic (votes desc, label asc) tie-break keeps the rare
    * ones engine-stable anyway. */
  private[graft] val KnnK = 10
  /** Probe set: the first 16 vectors play "unlabeled" — their stored
    * labels become the audit ground truth the prediction is scored
    * against. */
  private[graft] val KnnProbes = 16

  /** kNN LABEL PROPAGATION (auto-labeling): predict each probe vector's
    * label by majority vote of its [[KnnK]] nearest neighbors (cosine),
    * emitting the stored label beside the prediction so the output IS
    * the agreement audit. This is the weak-supervision primitive behind
    * classifier-free corpus labeling (quality tiers, topic buckets,
    * license classes) — embed once, label a seed set, propagate.
    *
    * Scale shape: the probe set is a broadcast (queries are always the
    * small side); the corpus side is ONE narrow scan — cosine per
    * (probe, candidate) pair (at production fan-out the d10/d14
    * bucketed ANN replaces the exact scan as the candidate generator —
    * this op is deliberately the EXACT-retrieval consumer so the gate
    * pins vote semantics, not recall). The per-probe top-k is the
    * BOUNDED-HEAP aggregate [[graft.functions.TopKByScore]], NOT a
    * window rank: a `row_number` window over [[KnnProbes]] keys would
    * shuffle every scored corpus row into ≤[[KnnProbes]] partitions — a
    * data-sized, low-parallelism exchange (VERDICT r10 ADVICE). The
    * heap's map-side partials mean the only exchange carries
    * k·mapPartitions rows per probe; the vote is then a (probe,
    * label)-keyed count over [[KnnK]]·probes tiny rows. Nothing
    * data-sized ever shuffles. */
  def d111KnnLabels(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < KnnProbes)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("v").as("qv"))
    val votes = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        cosine(col("v"), col("qv")).as("cos_sim"))
      .groupBy("q_id")
      .agg(graft.functions.TopKByScore.topk(KnnK,
        col("cos_sim"), col("vec_id"), col("label")).as("top"))
      .select(col("q_id"), explode(col("top")).as("label"))
      .groupBy("q_id", "label")
      .agg(count(lit(1)).as("votes"))
    val best = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("b", row_number().over(best))
      .filter(col("b") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
      .join(broadcast(probes.select("q_id", "true_label")), "q_id")
      .select(col("q_id"), col("true_label"), col("pred_label"),
        col("votes"),
        when(col("true_label") === col("pred_label"), 1).otherwise(0)
          .as("agree"))
      .orderBy("q_id")
  }

  val d111Oracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       probes AS (SELECT vec_id AS q_id, label AS true_label, v AS qv
                  FROM e WHERE vec_id < $KnnProbes),
       scored AS (
         SELECT q_id, vec_id, label, ${cosineSql("v", "qv")} AS cos_sim
         FROM e, probes WHERE vec_id <> q_id),
       topk AS (
         SELECT q_id, label FROM scored
         QUALIFY row_number() OVER (PARTITION BY q_id
           ORDER BY cos_sim DESC, vec_id) <= $KnnK),
       votes AS (
         SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes
         FROM topk GROUP BY q_id, label)
       SELECT q_id, true_label, label AS pred_label, votes,
         CASE WHEN true_label = label THEN 1 ELSE 0 END AS agree
       FROM votes JOIN probes USING (q_id)
       QUALIFY row_number() OVER (PARTITION BY q_id
         ORDER BY votes DESC, label) = 1
       ORDER BY q_id"""

  // -------------------------------------------------------------- d112
  /** The RRF discount constant — k=60 from the original Cormack/Clarke/
    * Buettcher paper; rank contributions are 1/(k+rank). */
  private[graft] val RrfK = 60
  private[graft] val RrfDepth = 20

  /** HYBRID RETRIEVAL via RECIPROCAL RANK FUSION: fuse the sparse
    * (BM25, d37) and dense (cosine, d9) top-[[RrfDepth]] lists for the
    * same information need into one ranking by summing 1/(60+rank) per
    * list — the standard first-stage fusion in RAG retrieval stacks
    * (keyword recall + semantic recall, neither score comparable to
    * the other, ranks always are). Documents and vectors share the id
    * space (the d87 convention); a doc present in only one list keeps
    * that list's contribution alone — FULL outer fusion, nothing
    * silently dropped.
    *
    * Scale shape: each branch is its own already-gated retrieval plan
    * (d37's one-scan BM25, d9's narrow-scan top-k) truncated to depth
    * 20, so the fusion itself joins two 20-row lists — driver-trivial
    * regardless of corpus size. Fan-out to thousands of queries makes
    * each list (query_id, doc_id, rank)-keyed and the fusion a
    * (query_id, doc_id) grouped sum — still rank-depth-sized, never
    * corpus-sized. */
  def d112RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    // ranks over the depth-bounded lists use the d19 idiom (TakeOrdered
    // head → one collapsed row → array_sort → posexplode) — never an
    // unpartitioned window, which the surface bans outright
    def ranked(list: DataFrame, score: Column, rankCol: String): DataFrame =
      list
        .agg(collect_list(struct((-score).as("neg"),
          col("doc_id").as("id"))).as("rows"))
        .select(posexplode(array_sort(col("rows"))).as(Seq("p", "r")))
        .select(col("r.id").as("doc_id"),
          (col("p") + 1).cast("long").as(rankCol))
    // d37Bm25 happens to end in its own limit(20), but the fusion depth
    // must not depend on another op's display constant staying equal to
    // RrfDepth — truncate HERE so changing either never silently admits
    // rank tails beyond the documented depth (VERDICT r10 ADVICE).
    val sparse = ranked(
      CorpusOps.d37Bm25(spark, dir).limit(RrfDepth), col("bm25"), "r_s")
    val e = emb(spark, dir)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val dense = ranked(
      e.crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          cosine(col("v"), col("qv")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("doc_id"))
        .limit(RrfDepth),
      col("cos_sim"), "r_d")
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_s")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_d")), lit(0.0)), 6)
          .as("rrf"),
        // long, matching the oracle's BIGINT row_number (the driver's
        // hash canonicalizes by type — the d60/d73/d80 lesson)
        coalesce(col("r_s"), lit(0)).cast("long").as("bm25_rank"),
        coalesce(col("r_d"), lit(0)).cast("long").as("cos_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** d37's full oracle is the sparse CTE; the dense CTE is the d9 shape
    * at depth 20. Rank arithmetic is the identical double expression in
    * both engines. */
  val d112Oracle: String =
    s"""WITH sparse0 AS (${CorpusOps.d37Oracle}),
       sparse AS (SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
             AS r_s
         FROM sparse0),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       probe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       dense0 AS (
         SELECT vec_id AS doc_id, ${cosineSql("v", "qv")} AS cos_sim
         FROM e, probe
         ORDER BY cos_sim DESC, doc_id LIMIT $RrfDepth),
       dense AS (SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT)
             AS r_d
         FROM dense0)
       SELECT doc_id,
         round(coalesce(1.0 / ($RrfK + r_s), 0.0)
             + coalesce(1.0 / ($RrfK + r_d), 0.0), 6) AS rrf,
         coalesce(r_s, 0) AS bm25_rank,
         coalesce(r_d, 0) AS cos_rank
       FROM sparse FULL JOIN dense USING (doc_id)
       ORDER BY rrf DESC, doc_id LIMIT 10"""

  // -------------------------------------------------------------- d129
  /** Eval-set size and cosine threshold for the semantic
    * decontamination audit. The fixture's cross-set max cosine is
    * ~0.49, so 0.40 flags a real (small) tail; production sets τ from
    * a held-out calibration of paraphrase pairs. */
  private[graft] val SemEvalN = 32
  private[graft] val SemContamTau = 0.40

  /** SEMANTIC DECONTAMINATION AUDIT — the embedding-space twin of the
    * d17 n-gram overlap scan: flag every corpus vector whose cosine to
    * ANY eval-set vector reaches [[SemContamTau]], with the best-match
    * eval id beside it. n-gram decontamination (d17/d50) misses
    * paraphrases and translations; embedding similarity is how those
    * leak into training sets, and "which eval item is it close to" is
    * the triage column a removal reviewer needs.
    *
    * Scale shape: the eval set is tiny by definition — broadcast; the
    * corpus side is ONE narrow scan with [[SemEvalN]] codegen'd
    * cosines per row. The argmax is a per-vec_id `max(struct(cos,
    * -eval_id))` aggregate whose map-side partial collapses each
    * vector's [[SemEvalN]] scored rows to ONE before any exchange
    * (the scored rows for a vector never leave their input
    * partition), so the shuffle carries one 24-byte struct per corpus
    * vector — and the τ-filter drops the non-flagged mass before the
    * final presentation sort. Ranking compares the 4dp-ROUNDED cosine
    * (the rounding absorbs cross-engine ulp), ties broken toward the
    * LOWEST eval id via the negated struct field. */
  def d129SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val evalSet = e.filter(col("vec_id") < SemEvalN)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
    e.filter(col("vec_id") >= SemEvalN)
      .crossJoin(broadcast(evalSet))
      .select(col("vec_id"),
        cosine(col("v"), col("ev")).as("cos_sim"),
        col("eval_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos_sim"), (-col("eval_id")).as("neg"))).as("b"))
      .filter(col("b.cos_sim") >= SemContamTau)
      .select(col("vec_id"), (-col("b.neg")).as("eval_id"),
        col("b.cos_sim").as("max_cos"))
      .orderBy("vec_id")
  }

  val d129Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       ev AS (SELECT vec_id AS eval_id, v AS qv FROM e
              WHERE vec_id < $SemEvalN),
       s AS (SELECT e.vec_id, eval_id, ${cosineSql("v", "qv")} AS cos
             FROM e, ev WHERE e.vec_id >= $SemEvalN),
       b AS (SELECT vec_id, max(cos) AS max_cos FROM s GROUP BY vec_id)
       SELECT s.vec_id, min(eval_id) AS eval_id, b.max_cos
       FROM s JOIN b ON s.vec_id = b.vec_id AND s.cos = b.max_cos
       WHERE b.max_cos >= $SemContamTau
       GROUP BY s.vec_id, b.max_cos
       ORDER BY s.vec_id"""

  // -------------------------------------------------------------- d143
  /** Neighborhood size for the margin denominator (Artetxe & Schwenk
    * 2019's k) — the average similarity of each vector's k nearest
    * candidates. */
  private[graft] val BitextK = 4

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings") —
    * align two corpora by embedding similarity, scored not by raw
    * cosine but by the MARGIN: cos(x,y) divided by the mean of the two
    * vectors' own top-k candidate similarities. Raw-cosine thresholds
    * fail on hubness (some vectors are near everything); the margin
    * normalizes each pair by how promiscuous its endpoints are, and
    * the mutual-best + margin > 1 rule keeps only pairs that stand
    * out from BOTH sides' neighborhoods — the standard recipe for
    * mining parallel text across languages/sources. Sides here are
    * the vec_id parity split of the embeddings table.
    *
    * Scale shape: candidates come from the d10 sign-LSH bucket join
    * (side A fans out to its 9 Hamming<=1 probe buckets, side B never
    * replicates) — never all-pairs; the six window passes all share
    * the two (a_id)/(b_id) clusterings. Cross-engine determinism: the
    * cosine is scaled ONCE to an exact e4 INTEGER, so every
    * downstream sum/product/ratio is exact-integer double arithmetic
    * — identical bits in both engines — and the emitted margin is an
    * integer-floored e4, never a rounded double on a boundary. */
  def d143BitextMining(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).withColumn("bucket", signBucket(col("v")))
    val a = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("v").as("va"), col("bucket"))
    val b = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("b_id"), col("v").as("vb"),
        col("bucket").as("bb"))
    val probes = a.withColumn("pb", explode(array(
      col("bucket") +:
        (0 until 8).map(i => col("bucket").bitwiseXOR(lit(1 << i))): _*)))
    val pairs = probes.join(b, col("pb") === col("bb"))
      .select(col("a_id"), col("b_id"),
        round(graft.functions.CosineSim(col("va"), col("vb")) * 10000)
          .cast("long").as("c"))
    val wa = Window.partitionBy("a_id").orderBy(col("c").desc, col("b_id"))
    val wb = Window.partitionBy("b_id").orderBy(col("c").desc, col("a_id"))
    val k = BitextK
    // window passes grouped BY PARTITION KEY (guide §2.4): all three
    // a_id-clustered columns are computed under ONE a_id exchange, then
    // all three b_id-clustered ones under ONE b_id exchange — the
    // previous ra,rb,sa,na,sb,nb order alternated keys and paid six
    // keyed exchanges of the candidate table where four suffice (each
    // column is a per-row function of its own partition, so evaluation
    // order across keys cannot change any value)
    val scored = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("sa", sum(when(col("ra") <= k, col("c")))
        .over(Window.partitionBy("a_id")))
      .withColumn("na", sum(when(col("ra") <= k, lit(1L)))
        .over(Window.partitionBy("a_id")))
      .withColumn("rb", row_number().over(wb))
      .withColumn("sb", sum(when(col("rb") <= k, col("c")))
        .over(Window.partitionBy("b_id")))
      .withColumn("nb", sum(when(col("rb") <= k, lit(1L)))
        .over(Window.partitionBy("b_id")))
      .withColumn("den", col("sa") * col("nb") + col("sb") * col("na"))
      .filter(col("den") > 0)
      // all operands are exact small integers: the ratio is the same
      // IEEE double in both engines, so ranking on it is deterministic
      .withColumn("margin",
        lit(2.0) * col("c") * col("na") * col("nb") / col("den"))
    scored
      .withColumn("fa", row_number().over(
        Window.partitionBy("a_id").orderBy(col("margin").desc, col("b_id"))))
      .withColumn("fb", row_number().over(
        Window.partitionBy("b_id").orderBy(col("margin").desc, col("a_id"))))
      .filter(col("fa") === 1 && col("fb") === 1 && col("margin") > 1.0)
      .select(col("a_id"), col("b_id"), col("c").as("cos_e4"),
        floor(lit(20000.0) * col("c") * col("na") * col("nb") / col("den"))
          .cast("long").as("margin_e4"))
      .orderBy("a_id")
  }

  val d143Oracle: String = {
    val k = BitextK
    s"""WITH e AS (
         SELECT vec_id, embedding::DOUBLE[] AS v, ($bucketSql) AS bucket
         FROM embeddings),
       a AS (SELECT vec_id AS a_id, v AS va, bucket FROM e
             WHERE vec_id % 2 = 0),
       b AS (SELECT vec_id AS b_id, v AS vb, bucket AS bb FROM e
             WHERE vec_id % 2 = 1),
       probes AS (
         SELECT a_id, va, unnest([bucket,
           ${(0 until 8).map(i => s"xor(bucket, ${1 << i})").mkString(", ")}])
           AS pb
         FROM a),
       pairs AS (
         SELECT a_id, b_id,
           CAST(round(${cosineRawSql("va", "vb")} * 10000) AS BIGINT) AS c
         FROM probes JOIN b ON pb = bb),
       ranked AS (
         SELECT a_id, b_id, c,
           row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS ra,
           row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rb
         FROM pairs),
       scored AS (
         SELECT a_id, b_id, c,
           sum(CASE WHEN ra <= $k THEN c END) OVER (PARTITION BY a_id) AS sa,
           sum(CASE WHEN ra <= $k THEN 1 END) OVER (PARTITION BY a_id) AS na,
           sum(CASE WHEN rb <= $k THEN c END) OVER (PARTITION BY b_id) AS sb,
           sum(CASE WHEN rb <= $k THEN 1 END) OVER (PARTITION BY b_id) AS nb
         FROM ranked),
       m AS (
         SELECT a_id, b_id, c, na, nb, sa * nb + sb * na AS den,
           2.0 * c * na * nb / (sa * nb + sb * na) AS margin
         FROM scored WHERE sa * nb + sb * na > 0),
       best AS (
         SELECT a_id, b_id, c, na, nb, den, margin,
           row_number() OVER (PARTITION BY a_id
             ORDER BY margin DESC, b_id) AS fa,
           row_number() OVER (PARTITION BY b_id
             ORDER BY margin DESC, a_id) AS fb
         FROM m)
       SELECT a_id, b_id, c AS cos_e4,
         CAST(floor(20000.0 * c * na * nb / den) AS BIGINT) AS margin_e4
       FROM best WHERE fa = 1 AND fb = 1 AND margin > 1.0
       ORDER BY a_id"""
  }

  // -------------------------------------------------------------- d192
  /** EMBEDDING-NORM HYGIENE per label — the pre-flight every
    * cosine-space consumer (d9–d14, d51–d59, d129) silently assumes:
    * a ZERO vector makes cosine undefined (and most stacks emit NaN
    * or a crash at serving time), and a wildly drifting norm range
    * usually means two encoder versions were mixed into one table.
    * Per label: vector count, zero-vector count, and the norm's
    * min/mean/max. The per-row norm is an element-ordered fold
    * (identical accumulation order in both engines — the d67
    * discipline), so min/max compare bit-identical doubles; only the
    * mean is a float sum (the d118 avg precedent). Zero is detected
    * as EXACT 0.0 — a true zero vector sums to +0.0 in both engines;
    * near-zeros are a calibration question, not a hygiene one.
    *
    * Scale shape: one narrow pass computing a scalar per vector, then
    * a K-label aggregate — the store never shuffles. */
  def d192EmbeddingNorms(spark: SparkSession, dir: String): DataFrame = {
    val norms = emb(spark, dir)
      .select(col("label"),
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
          .as("nrm"))
    norms.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        (round(min("nrm"), 4) + 0.0).as("min_norm"),
        (round(avg("nrm"), 4) + 0.0).as("mean_norm"),
        (round(max("nrm"), 4) + 0.0).as("max_norm"))
      .orderBy("label")
  }

  val d192Oracle: String =
    """WITH n AS (
         SELECT label,
           sqrt(list_sum(list_transform(embedding::DOUBLE[],
             x -> x * x))) AS nrm
         FROM embeddings)
       SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero,
         round(min(nrm), 4) + 0.0 AS min_norm,
         round(avg(nrm), 4) + 0.0 AS mean_norm,
         round(max(nrm), 4) + 0.0 AS max_norm
       FROM n GROUP BY label ORDER BY label"""

  // -------------------------------------------------------------- d217
  /** PRODUCT QUANTIZATION + asymmetric distance (ADC) — the serving
    * compression IVF (d14) coarse-quantizes AROUND and scalar int8
    * (d42/d51) cannot reach: the 64-dim vector is split into
    * [[PqM]] 16-dim subspaces, each with its own tiny k-means codebook
    * ([[PqK]] centroids, the d14 training discipline: first-K init,
    * [[LloydIters]] assign→mean rounds over the deterministic
    * 1-in-[[TrainMod]] sample, means rounded 4dp for cross-engine
    * reproducibility), and every vector stores only its [[PqM]] codes
    * — 4 bytes instead of 256. A query never decompresses anything:
    * its per-subspace distance TABLE (PqM·PqK = 16 entries) is
    * computed once, and each candidate's approximate distance is the
    * sum of 4 table lookups keyed by its codes. All distances are
    * EXACT e4-scaled integers (the d143 convention: `round(L2²·10⁴)`
    * as BIGINT, summed in any order without float drift), squared-L2
    * accumulated in element order in both engines.
    *
    * Scale: training touches only the sample; encode is one
    * broadcast-join pass (K·M tiny comparisons per vector); serving
    * state is 4 bytes/vector + a 16-row LUT per query, and the ADC
    * scan is the point of PQ — brute force over COMPRESSED codes,
    * with the per-probe top-k the only ordering. */
  private val PqM = 4
  private val PqDim = 16
  private val PqK = 8

  /** Full embedding width as the codebooks see it (`PqM` subspaces of
    * `PqDim` each) — the oracle's residual subtraction must derive its
    * `range` bound from this, not a literal, so an embedding-width
    * change cannot desynchronize engine and oracle (r16 ADVICE #3). */
  private val PqFullDim = PqM * PqDim

  /** Squared L2 over two equal-length vectors as an EXACT e4 integer —
    * the native [[graft.functions.L2SqE4]] expression (one codegen'd
    * fused loop; the PQ ENCODE runs it K·M times per vector, and a
    * production codebook has K = 256). Element-order accumulation and
    * Spark-exact rounding are pinned bit-identical to the HOF fold it
    * replaced by a `FunctionsSpec` parity test. */
  private def l2e4(a: Column, b: Column): Column =
    graft.functions.L2SqE4(a, b)

  def d217PqAdc(spark: SparkSession, dir: String): DataFrame =
    pqAdc(emb(spark, dir))

  /** Split a vector column `vc` into the [[PqM]] per-subspace rows
    * (id cols + m + sv) — shared by the raw-vector PQ (d217) and the
    * residual PQ inside IVF-PQ (d219). */
  private def subspaceRows(df: DataFrame, vc: String,
      idCols: String*): DataFrame =
    df.select(idCols.map(col) :+ explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          slice(col(vc), m * PqDim + 1, PqDim).as("sv"))): _*)).as("s"): _*)
      .select(idCols.map(col) :+ col("s.m").as("m") :+ col("s.sv").as("sv"): _*)

  /** Residual subspace rows — assign each vector its nearest cell,
    * center it on that cell's centroid, split into the [[PqM]]
    * subspaces: (vec_id, cell, m, sv). The shared IVF-PQ encode front
    * (d219's corpus pass; d226's frozen-artifact corpus AND per-batch
    * arrival encodes). */
  private def residSubs(vecs: DataFrame, cents: DataFrame): DataFrame =
    subspaceRows(
      assignCells(vecs, cents)
        .join(broadcast(cents), col("cell") === col("cent_id"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cv"), (x, c) => x - c).as("r")),
      "r", "vec_id", "cell")

  /** Nearest-codebook-entry assignment per (vector, subspace) — the PQ
    * analogue of [[assignCells]]: the K·M-row codebook is broadcast,
    * distances are exact e4 integers, ties break to the LOWER code by
    * plain struct ordering, and the argmin is a partial-aggregating
    * groupBy (never a row_number window over the K-way fanout).
    * `extraKeys` carries functionally-dependent columns (d219's coarse
    * cell id) through the aggregate. */
  private def pqAssign(v: DataFrame, c: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame =
    v.join(broadcast(c), Seq("m"))
      .select(Seq(col("vec_id"), col("m"), col("sv"), col("code"),
        l2e4(col("sv"), col("cv")).as("d")) ++ extraKeys.map(col): _*)
      .groupBy((Seq("vec_id", "m") ++ extraKeys).map(col): _*)
      .agg(min(struct(col("d"), col("code"), col("sv"))).as("b"))
      .select(Seq(col("vec_id"), col("m"), col("b.sv").as("sv"),
        col("b.code").as("code")) ++ extraKeys.map(col): _*)

  /** One PQ Lloyd update: element-wise 4dp-rounded mean per
    * (subspace, code) — the [[updateCentroids]] discipline on the
    * subspace key: one `avg(sv[i])` aggregate per subspace dimension
    * on the unexploded rows (one exchange keyed on (m, code)), not the
    * posexplode → two-exchange → collect_list reassembly (guide
    * §2.3/§2.4). */
  private def pqUpdate(a: DataFrame): DataFrame = a
    .groupBy(col("m"), col("code"))
    .agg(array((0 until PqDim).map(i =>
      round(avg(col("sv").getItem(i)), 4)): _*).as("cv"))

  /** Train the [[PqM]] subspace codebooks over the deterministic
    * 1-in-[[TrainMod]] sample: first-`pqK` init, [[LloydIters]]
    * assign→mean rounds. */
  private def pqTrain(subs: DataFrame, pqK: Int): DataFrame = {
    val c0 = subs.filter(col("vec_id") < pqK)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))
    val train = subs.filter(col("vec_id") % TrainMod === 0)
    (1 to LloydIters).foldLeft(c0) { (c, _) =>
      pqUpdate(pqAssign(train, c))
    }.localCheckpoint() // K·M tiny rows; reused by encode and every LUT
  }

  private[graft] def pqAdc(e: DataFrame): DataFrame = {
    val subs = subspaceRows(e, "v", "vec_id")
      .localCheckpoint() // feeds training, encode, and the probe LUTs
    val cents = pqTrain(subs, PqK)
    val codes = pqAssign(subs, cents).select("vec_id", "m", "code")
    val lut = subs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qv"))
      .join(broadcast(cents), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        l2e4(col("qv"), col("cv")).as("d_e4"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("d_e4").as("adc_e4"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_e4"), col("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "adc_e4")
      .orderBy("q_id", "rk")
  }

  val d217Oracle: String = {
    def l2Sql(a: String, b: String): String =
      s"""CAST(round(list_sum(list_transform(range(1, ${PqDim + 1}),
         i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) * 10000) AS BIGINT)"""
    def assignSql(vcte: String, ccte: String): String =
      s"""SELECT vec_id, m, sv, code FROM (
         SELECT t.vec_id, t.m, t.sv, c.code,
           row_number() OVER (PARTITION BY t.vec_id, t.m
             ORDER BY ${l2Sql("t.sv", "c.cv")}, c.code) AS rk
         FROM $vcte t JOIN $ccte c ON t.m = c.m)
         WHERE rk = 1"""
    def updateSql(acte: String): String =
      s"""SELECT m, code, list(cx ORDER BY i) AS cv FROM (
         SELECT m, code, i, round(avg(sv[i]), 4) AS cx
         FROM $acte, (SELECT unnest(range(1, ${PqDim + 1})) AS i)
         GROUP BY m, code, i)
         GROUP BY m, code"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       subs AS (
         SELECT vec_id, m, v[(m * $PqDim + 1):((m + 1) * $PqDim)] AS sv
         FROM e, (SELECT unnest(range($PqM)) AS m)),
       c0 AS (SELECT m, vec_id AS code, sv AS cv FROM subs
              WHERE vec_id < $PqK),
       train AS (SELECT * FROM subs WHERE vec_id % $TrainMod = 0),
       a1 AS (${assignSql("train", "c0")}),
       c1 AS (${updateSql("a1")}),
       a2 AS (${assignSql("train", "c1")}),
       c2 AS (${updateSql("a2")}),
       codes AS (${assignSql("subs", "c2")}),
       lut AS (
         SELECT s.vec_id AS q_id, s.m, c.code,
           ${l2Sql("s.sv", "c.cv")} AS d_e4
         FROM subs s JOIN c2 c ON s.m = c.m
         WHERE s.vec_id < 3),
       adc AS (
         SELECT q_id, vec_id, CAST(sum(d_e4) AS BIGINT) AS adc_e4
         FROM codes JOIN lut USING (m, code)
         WHERE vec_id <> q_id
         GROUP BY q_id, vec_id)
       SELECT q_id, rk, vec_id, adc_e4 FROM (
         SELECT q_id, vec_id, adc_e4,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_e4, vec_id) AS rk
         FROM adc)
       WHERE rk <= 3 ORDER BY q_id, rk"""
  }

  // -------------------------------------------------------------- d219
  /** IVF-PQ — the two serving tiers COMPOSED into the layout a 100 TB
    * vector store actually runs (r15 VERDICT top-next): d14's trained
    * coarse cells route each query to its [[NProbe]] nearest inverted
    * lists, and WITHIN the routed cells candidates are scored by d217's
    * asymmetric distance over 4-byte PQ codes — never a raw vector.
    * The codebooks are RESIDUAL-encoded (textbook IVF-PQ): every
    * vector is centered on its cell's centroid before the subspace
    * split, so the [[PqM]] codebooks spend their [[PqK]] codes on the
    * within-cell distribution instead of re-describing the coarse
    * structure the cell id already encodes; the query side mirrors it
    * with a PER-PROBED-CELL residual, giving one 32-entry LUT per
    * (query, probed cell). Distances are exact e4 integers end to end
    * (the [[graft.functions.L2SqE4]] native expression on both the
    * encode and LUT paths), so ADC sums are order-free and the oracle
    * reproduces every integer bit-for-bit.
    *
    * Scale shape, piecewise: coarse + subspace training touch only the
    * 1-in-[[TrainMod]] sample; the corpus moves ONCE through cell
    * assignment and once through residual encode (both broadcast
    * joins, K-row and K·M-row tables); serving state is
    * (cell, 4 codes) ≈ 5 bytes/vector; a query broadcasts its
    * nProbe·M·K-entry LUT and scans only the routed cells' code lists
    * via an equi-join on (cell, m, code) — work per query is
    * nProbe·N/K LUT lookups, and recall/cost trade off by nProbe and
    * the codebook widths with the structure unchanged. */
  def d219Ivfpq(spark: SparkSession, dir: String): DataFrame =
    ivfpq(emb(spark, dir), IvfK, PqK, NProbe)

  /** [[d219Ivfpq]] with the widths as switches — the spec's planted
    * fixtures use 2-cell/2-code corners where every centroid, residual,
    * and LUT entry is hand-computable. */
  private[graft] def ivfpq(e: DataFrame, k: Int, pqK: Int,
      nProbe: Int): DataFrame =
    ivfpqAdc(e, k, pqK, nProbe)
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_e4"), col("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "adc_e4")
      .orderBy("q_id", "rk")

  /** The full per-candidate ADC distance table (q_id, vec_id, adc_e4)
    * — d219 keeps its top-3, the d224 refine stage its top-[[RefineR]]
    * for exact re-ranking. */
  private[graft] def ivfpqAdc(e: DataFrame, k: Int, pqK: Int,
      nProbe: Int): DataFrame = {
    // coarse quantizer: first-k init + LloydIters rounds over the
    // deterministic sample (the d14 discipline, k parameterized)
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val train = e.filter(col("vec_id") % TrainMod === 0)
    val cents = (1 to LloydIters).foldLeft(c0) { (c, _) =>
      updateCentroids(assignCells(train, c))
    }.localCheckpoint() // k rows; reused by assignment, residuals, probes
    // residual encode: center every vector on ITS cell before the
    // subspace split (one zip_with pass per vector — 64 subtractions,
    // once, off the candidate-scoring hot path)
    val rsubs = residSubs(e, cents)
      .localCheckpoint() // feeds codebook training AND encode
    val books = pqTrain(rsubs, pqK)
    val codes = pqAssign(rsubs, books, extraKeys = Seq("cell"))
      .select("vec_id", "cell", "m", "code")
    // probe routing: each query ranks the k cells by the SAME cosine
    // the assignment used and keeps its nProbe nearest
    val probes = e.filter(col("vec_id") < 3)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cent_id"),
        cosine(col("v"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("rk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"))
    // per-probed-cell query residual → one LUT row per (q, cell, m, code)
    val qresid = probes.join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("q_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    val lut = subspaceRows(qresid, "qr", "q_id", "cell")
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("cell"), col("m"), col("code"),
        l2e4(col("sv"), col("cv")).as("d_e4"))
    // ADC: candidates surface ONLY via the equi-join on their routed
    // cell — a candidate in an unprobed cell never joins, and a routed
    // candidate meets exactly its M code rows, so the sum is its
    // complete asymmetric distance
    codes.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("d_e4").as("adc_e4"))
  }

  /** Oracle-side exact squared-L2 as an e4 BIGINT over `dims`-long
    * vectors — the SQL twin of [[graft.functions.L2SqE4]], shared by
    * the d219 and d223 oracles. */
  private def l2E4Sql(a: String, b: String, dims: Int = PqDim): String =
    s"""CAST(round(list_sum(list_transform(range(1, ${dims + 1}),
       i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) * 10000) AS BIGINT)"""

  /** The d219 oracle's CTE list through `adc` (the per-candidate
    * asymmetric distances) — shared with the d223 recall monitor,
    * which re-ranks the same `adc` against an exact-L2 truth set. */
  private val d219CtesSql: String = {
    def l2Sql(a: String, b: String): String = l2E4Sql(a, b)
    def passignSql(vcte: String, ccte: String, extra: String): String = {
      val inner = if (extra.isEmpty) "" else s", t.$extra"
      val outer = if (extra.isEmpty) "" else s", $extra"
      s"""SELECT vec_id, m, sv, code$outer FROM (
         SELECT t.vec_id, t.m, t.sv, c.code$inner,
           row_number() OVER (PARTITION BY t.vec_id, t.m
             ORDER BY ${l2Sql("t.sv", "c.cv")}, c.code) AS rk
         FROM $vcte t JOIN $ccte c ON t.m = c.m)
         WHERE rk = 1"""
    }
    def pupdateSql(acte: String): String =
      s"""SELECT m, code, list(cx ORDER BY i) AS cv FROM (
         SELECT m, code, i, round(avg(sv[i]), 4) AS cx
         FROM $acte, (SELECT unnest(range(1, ${PqDim + 1})) AS i)
         GROUP BY m, code, i)
         GROUP BY m, code"""
    s"""$trainedCtesSql,
       resid AS (
         SELECT a.vec_id, a.cell,
           list_transform(range(1, ${PqFullDim + 1}), i -> a.v[i] - c.cv[i]) AS r
         FROM assigned a JOIN c2 c ON a.cell = c.cent_id),
       rsubs AS (
         SELECT vec_id, cell, m,
           r[(m * $PqDim + 1):((m + 1) * $PqDim)] AS sv
         FROM resid, (SELECT unnest(range($PqM)) AS m)),
       pc0 AS (SELECT m, vec_id AS code, sv AS cv FROM rsubs
              WHERE vec_id < $PqK),
       ptrain AS (SELECT vec_id, m, sv FROM rsubs
              WHERE vec_id % $TrainMod = 0),
       pa1 AS (${passignSql("ptrain", "pc0", "")}),
       pc1 AS (${pupdateSql("pa1")}),
       pa2 AS (${passignSql("ptrain", "pc1", "")}),
       pc2 AS (${pupdateSql("pa2")}),
       codes AS (${passignSql("rsubs", "pc2", "cell")}),
       probes AS (
         SELECT q_id, cell FROM (
           SELECT t.vec_id AS q_id, c.cent_id AS cell,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY ${cosineSql("t.v", "c.cv")} DESC, c.cent_id) AS rk
           FROM e t, c2 c WHERE t.vec_id < 3)
         WHERE rk <= $NProbe),
       qresid AS (
         SELECT p.q_id, p.cell,
           list_transform(range(1, ${PqFullDim + 1}), i -> t.v[i] - c.cv[i]) AS qr
         FROM probes p JOIN e t ON t.vec_id = p.q_id
           JOIN c2 c ON c.cent_id = p.cell),
       qsubs AS (
         SELECT q_id, cell, m,
           qr[(m * $PqDim + 1):((m + 1) * $PqDim)] AS sv
         FROM qresid, (SELECT unnest(range($PqM)) AS m)),
       lut AS (
         SELECT q.q_id, q.cell, c.m, c.code, ${l2Sql("q.sv", "c.cv")} AS d_e4
         FROM qsubs q JOIN pc2 c ON q.m = c.m),
       adc AS (
         SELECT l.q_id, k.vec_id, CAST(sum(l.d_e4) AS BIGINT) AS adc_e4
         FROM codes k JOIN lut l
           ON k.cell = l.cell AND k.m = l.m AND k.code = l.code
         WHERE k.vec_id <> l.q_id
         GROUP BY l.q_id, k.vec_id)"""
  }

  val d219Oracle: String =
    s"""WITH $d219CtesSql
       SELECT q_id, rk, vec_id, adc_e4 FROM (
         SELECT q_id, vec_id, adc_e4,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_e4, vec_id) AS rk
         FROM adc)
       WHERE rk <= 3 ORDER BY q_id, rk"""

  // -------------------------------------------------------------- d223
  /** IVF-PQ RECALL MONITOR — the number an ANN serving team actually
    * watches (d53 is this monitor for the sign-LSH tier; this is it
    * for the composed d219 layout): per probe, how many of the exact
    * squared-L2 top-3 neighbors the IVF-PQ serving path returns.
    * Truth is exact e4-integer L2 over the FULL vectors (the metric
    * ADC approximates — like-for-like, unlike a cosine truth set);
    * the candidate set is d219's own routed-cell ADC ranking. Recall
    * loss decomposes into routing loss (the true neighbor's cell was
    * not probed) and quantization loss (4-byte codes mis-rank inside
    * a probed cell) — both real, both monitored by this one number.
    *
    * Scale: truth is K probes × one broadcast pass (the d9 shape);
    * everything else reuses d219's machinery unchanged. */
  def d223IvfpqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val truth = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), l2e4(col("v"), col("qv")).as("d"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d"), col("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id")
    val index = ivfpq(e, IvfK, PqK, NProbe).select("q_id", "vec_id")
    val hits = truth.join(index, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    probes.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / 3, 4)
          .as("recall_at_3"))
      .orderBy("q_id")
  }

  /** d219's CTE chain + an exact-L2 truth set + the d53 verdict join. */
  val d223Oracle: String =
    s"""WITH $d219CtesSql,
       idx AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adc_e4, vec_id) AS rk
           FROM adc)
         WHERE rk <= 3),
       truth AS (
         SELECT q_id, vec_id FROM (
           SELECT t.vec_id AS q_id, e2.vec_id,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY ${l2E4Sql("e2.v", "t.v", 64)}, e2.vec_id) AS rk
           FROM e t JOIN e e2 ON e2.vec_id <> t.vec_id
           WHERE t.vec_id < 3)
         WHERE rk <= 3),
       hits AS (
         SELECT t.q_id, count(*) AS n_hits
         FROM truth t JOIN idx i
           ON t.q_id = i.q_id AND t.vec_id = i.vec_id
         GROUP BY t.q_id)
       SELECT p.vec_id AS q_id,
         CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         round(coalesce(n_hits, 0) / 3.0, 4) AS recall_at_3
       FROM (SELECT vec_id FROM e WHERE vec_id < 3) p
       LEFT JOIN hits ON p.vec_id = hits.q_id
       ORDER BY q_id"""

  // -------------------------------------------------------------- d224
  /** How many ADC candidates the refine stage exactly re-scores. */
  private val RefineR = 10

  /** IVF-PQ + EXACT RE-RANK — the REFINE stage that completes the
    * production serving stack (route → ADC → refine): the compressed
    * scan keeps its top-[[RefineR]] per query, the refine stage
    * fetches ONLY those R full vectors and re-scores them with the
    * exact e4-integer L2, and the served top-3 is ranked by the exact
    * distances. This recovers the QUANTIZATION half of d223's recall
    * loss (a true neighbor mis-ranked 4th..10th by its 4-byte codes is
    * re-found exactly); only routing loss — the true neighbor's cell
    * not probed — survives, which is the documented IVF trade.
    *
    * Scale: the refine fetch is R point lookups per query (a broadcast
    * of the R·K-row candidate list probing the vector store scan-side
    * — never a shuffle of the store), and the exact scoring touches
    * R·K vectors total per batch of K queries. The 100 TB cost order
    * is: LUT scan over compressed codes (cheap, wide) → R exact reads
    * (tiny, pointed) — exactly why PQ serving can afford exactness at
    * the top. */
  def d224IvfpqRefine(spark: SparkSession, dir: String): DataFrame =
    ivfpqRefine(emb(spark, dir), IvfK, PqK, NProbe, RefineR)

  /** [[d224IvfpqRefine]] with the widths as switches — the spec probes
    * the all-cells corner, where refine provably reduces to exact
    * search. */
  private[graft] def ivfpqRefine(e: DataFrame, k: Int, pqK: Int,
      nProbe: Int, r: Int): DataFrame = {
    val cands = ivfpqAdc(e, k, pqK, nProbe)
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_e4"), col("vec_id"))))
      .filter(col("rk") <= r)
      .select("q_id", "vec_id")
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(cands), "vec_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"), l2e4(col("v"), col("qv")).as("l2_e4"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("l2_e4"), col("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "vec_id", "l2_e4")
      .orderBy("q_id", "rk")
  }

  /** d219's CTE chain + the R-candidate exact re-rank. */
  val d224Oracle: String =
    s"""WITH $d219CtesSql,
       cands AS (
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adc_e4, vec_id) AS rk
           FROM adc)
         WHERE rk <= $RefineR),
       rer AS (
         SELECT c.q_id, c.vec_id,
           ${l2E4Sql("e2.v", "t.v", 64)} AS l2_e4
         FROM cands c
           JOIN e e2 ON e2.vec_id = c.vec_id
           JOIN e t ON t.vec_id = c.q_id)
       SELECT q_id, rk, vec_id, l2_e4 FROM (
         SELECT q_id, vec_id, l2_e4,
           row_number() OVER (PARTITION BY q_id
             ORDER BY l2_e4, vec_id) AS rk
         FROM rer)
       WHERE rk <= 3 ORDER BY q_id, rk"""

  // -------------------------------------------------------------- d226
  /** Corpus / arrival-batch id boundaries of the streaming ANN-ingest
    * cycle — the d221 nightly splits lifted to the vector store
    * (`StreamGates.d226StreamAnnIngest` drives the stream; the batch
    * pieces and the oracle live here with the rest of the ANN stack). */
  private[graft] val IngestSplit1 = 300L
  private[graft] val IngestSplit2 = 400L

  /** ADC near-dup threshold (e4-scaled squared L2): an arrival whose
    * best asymmetric distance to an INDEXED vector is ≤ this is a
    * NEAR-DUP (probe-before-add keeps it out of the index); above it,
    * NOVEL. Calibrated against the synthetic store the same way d59's
    * cosine threshold is (the fixture embeddings are near-orthogonal —
    * max pairwise cosine ≈ 0.51 — so a production-grade tight
    * threshold would make every arrival novel and the near-dup append
    * path would go unexercised); the verdict COMPARISON is exact
    * integers on both engines, so the gate is hash-exact at any scale
    * regardless of the mix this particular constant yields. */
  private[graft] val IngestDupE4 = 8700L // ≈5-10% of the sf0.01 batches

  /** FROZEN serving artifacts — coarse centroids, residual codebooks,
    * and the corpus's code index — trained on the CORPUS ALONE. d219
    * trains over the whole table (its corpus IS the whole table); an
    * ingest pipeline must never let arrivals move the codebooks —
    * re-training would silently re-mean yesterday's persisted codes,
    * so the artifacts are trained once and the stream only APPENDS
    * codes encoded against them. */
  private[graft] def ingestArtifacts(
      corpus: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cents = trainedCentroids(corpus).localCheckpoint()
    val rsubs = residSubs(corpus, cents).localCheckpoint()
    val books = pqTrain(rsubs, PqK)
    val codes = pqAssign(rsubs, books, extraKeys = Seq("cell"))
      .select("vec_id", "cell", "m", "code")
    (cents, books, codes)
  }

  /** Route + PQ-encode one micro-batch of arrivals against the frozen
    * artifacts — a STATELESS map over the batch (two broadcast joins:
    * the K-row centroid table and the K·M-row codebook), exactly what
    * an encode-on-arrival executor does at any batch size. */
  private[graft] def ingestEncode(arrivals: DataFrame, cents: DataFrame,
      books: DataFrame): DataFrame =
    pqAssign(residSubs(arrivals, cents), books, extraKeys = Seq("cell"))
      .select("vec_id", "cell", "m", "code")

  /** PROBE-BEFORE-ADD: score one micro-batch of arrivals against the
    * CURRENT index — codes only, no raw corpus vector ever loads — and
    * verdict each arrival near_dup/novel by its best ADC distance.
    * Candidates surface ONLY via the (cell, m, code) equi-join on the
    * arrival's [[NProbe]] routed cells (the d219 serving shape); the
    * argmin is a partial-aggregating groupBy. The LUT side is
    * batch-sized (arrivals × nProbe × M × K rows) and the index side
    * corpus-sized — the join is left to AQE, which broadcasts
    * whichever side a production trigger actually bounds. */
  private[graft] def ingestProbe(arrivals: DataFrame, idx: DataFrame,
      cents: DataFrame, books: DataFrame, threshE4: Long,
      excludeSelf: Boolean = false): DataFrame = {
    val probes = arrivals.crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cent_id"),
        cosine(col("v"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("rk") <= NProbe)
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"))
    val qresid = probes.join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("q_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    val lut = subspaceRows(qresid, "qr", "q_id", "cell")
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("cell"), col("m"), col("code"),
        l2e4(col("sv"), col("cv")).as("d_e4"))
    val cands = idx
      .select(col("vec_id").as("cand_id"), col("cell"), col("m"), col("code"))
      .join(lut, Seq("cell", "m", "code"))
    // d231's store self-audit probes vectors that are themselves
    // indexed — the trivial distance-0 self-match would mask every
    // real neighbor
    val adc = (if (excludeSelf) cands.filter(col("cand_id") =!= col("q_id"))
      else cands)
      .groupBy("q_id", "cand_id").agg(sum("d_e4").as("adc_e4"))
    val best = adc
      .groupBy("q_id").agg(min(struct(col("adc_e4"), col("cand_id"))).as("b"))
      .select(col("q_id").as("vec_id"), col("b.cand_id").as("match_id"),
        col("b.adc_e4").as("adc_e4"))
    arrivals.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id"), col("adc_e4"),
        // null adc (empty probed cells) falls through to novel
        when(col("adc_e4") <= threshE4, "near_dup")
          .otherwise("novel").as("verdict"))
  }

  /** The full two-batch ingest cycle in DuckDB: corpus-only training,
    * batch-A probe vs the base index, batch-A NOVELS encoded with the
    * FROZEN codebooks and appended, batch-B probe vs the UPDATED index
    * — so a batch-B verdict naming a batch-A arrival is reproduced
    * bit-for-bit, the staleness case. */
  val d226Oracle: String = {
    def l2Sql(a: String, b: String): String = l2E4Sql(a, b)
    def passignSql(vcte: String, ccte: String, extra: String): String = {
      val inner = if (extra.isEmpty) "" else s", t.$extra"
      val outer = if (extra.isEmpty) "" else s", $extra"
      s"""SELECT vec_id, m, sv, code$outer FROM (
         SELECT t.vec_id, t.m, t.sv, c.code$inner,
           row_number() OVER (PARTITION BY t.vec_id, t.m
             ORDER BY ${l2Sql("t.sv", "c.cv")}, c.code) AS rk
         FROM $vcte t JOIN $ccte c ON t.m = c.m)
         WHERE rk = 1"""
    }
    def pupdateSql(acte: String): String =
      s"""SELECT m, code, list(cx ORDER BY i) AS cv FROM (
         SELECT m, code, i, round(avg(sv[i]), 4) AS cx
         FROM $acte, (SELECT unnest(range(1, ${PqDim + 1})) AS i)
         GROUP BY m, code, i)
         GROUP BY m, code"""
    /** residual subspace rows of an assignment CTE (vec_id, v, cell) */
    def subsSql(assCte: String): String =
      s"""SELECT vec_id, cell, m,
           r[(m * $PqDim + 1):((m + 1) * $PqDim)] AS sv
         FROM (
           SELECT a.vec_id, a.cell,
             list_transform(range(1, ${PqFullDim + 1}),
               i -> a.v[i] - c.cv[i]) AS r
           FROM $assCte a JOIN c2 c ON a.cell = c.cent_id),
           (SELECT unnest(range($PqM)) AS m)"""
    /** top-NProbe routed cells per arrival */
    def probeSql(vcte: String): String =
      s"""SELECT q_id, cell FROM (
         SELECT t.vec_id AS q_id, c.cent_id AS cell,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY ${cosineSql("t.v", "c.cv")} DESC, c.cent_id) AS rk
         FROM $vcte t, c2 c)
         WHERE rk <= $NProbe"""
    /** one LUT row per (arrival, probed cell, m, code) */
    def lutSql(probeCte: String, vcte: String): String =
      s"""SELECT q.q_id, q.cell, b.m, b.code, ${l2Sql("q.sv", "b.cv")} AS d_e4
         FROM (
           SELECT qr.q_id, qr.cell, mm.m,
             qr.qr[(mm.m * $PqDim + 1):((mm.m + 1) * $PqDim)] AS sv
           FROM (
             SELECT p.q_id, p.cell,
               list_transform(range(1, ${PqFullDim + 1}),
                 i -> t.v[i] - c.cv[i]) AS qr
             FROM $probeCte p JOIN $vcte t ON t.vec_id = p.q_id
               JOIN c2 c ON c.cent_id = p.cell) qr,
             (SELECT unnest(range($PqM)) AS m) mm) q
         JOIN pc2 b ON q.m = b.m"""
    def adcSql(lutCte: String, idxCte: String): String =
      s"""SELECT l.q_id, k.vec_id AS cand_id,
           CAST(sum(l.d_e4) AS BIGINT) AS adc_e4
         FROM $idxCte k JOIN $lutCte l
           ON k.cell = l.cell AND k.m = l.m AND k.code = l.code
         GROUP BY l.q_id, k.vec_id"""
    def bestSql(adcCte: String): String =
      s"""SELECT q_id, cand_id, adc_e4 FROM (
         SELECT q_id, cand_id, adc_e4,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_e4, cand_id) AS rk
         FROM $adcCte) WHERE rk = 1"""
    def verdSql(vcte: String, assCte: String, bestCte: String,
        batch: Int): String =
      s"""SELECT t.vec_id, CAST($batch AS BIGINT) AS batch, a.cell,
           b.cand_id AS match_id, b.adc_e4,
           CASE WHEN b.adc_e4 <= $IngestDupE4 THEN 'near_dup'
                ELSE 'novel' END AS verdict
         FROM $vcte t JOIN $assCte a ON a.vec_id = t.vec_id
           LEFT JOIN $bestCte b ON b.q_id = t.vec_id"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       corpus AS (SELECT vec_id, v FROM e WHERE vec_id < $IngestSplit1),
       train AS (SELECT vec_id, v FROM corpus WHERE vec_id % $TrainMod = 0),
       c0 AS (SELECT vec_id AS cent_id, v AS cv FROM corpus
              WHERE vec_id < $IvfK),
       a1 AS (${assignSql("train", "c0")}),
       c1 AS (${updateSql("a1")}),
       a2 AS (${assignSql("train", "c1")}),
       c2 AS (${updateSql("a2")}),
       cass AS (${assignSql("corpus", "c2")}),
       csubs AS (${subsSql("cass")}),
       pc0 AS (SELECT m, vec_id AS code, sv AS cv FROM csubs
              WHERE vec_id < $PqK),
       ptrain AS (SELECT vec_id, m, sv FROM csubs
              WHERE vec_id % $TrainMod = 0),
       pa1 AS (${passignSql("ptrain", "pc0", "")}),
       pc1 AS (${pupdateSql("pa1")}),
       pa2 AS (${passignSql("ptrain", "pc1", "")}),
       pc2 AS (${pupdateSql("pa2")}),
       idx0 AS (${passignSql("csubs", "pc2", "cell")}),
       ba AS (SELECT vec_id, v FROM e
              WHERE vec_id >= $IngestSplit1 AND vec_id < $IngestSplit2),
       bass AS (${assignSql("ba", "c2")}),
       pba AS (${probeSql("ba")}),
       luta AS (${lutSql("pba", "ba")}),
       adca AS (${adcSql("luta", "idx0")}),
       besta AS (${bestSql("adca")}),
       verda AS (${verdSql("ba", "bass", "besta", 0)}),
       anovel AS (SELECT a.vec_id, a.v, a.cell FROM bass a
              JOIN verda v ON v.vec_id = a.vec_id
              WHERE v.verdict = 'novel'),
       asubs AS (${subsSql("anovel")}),
       acodes AS (${passignSql("asubs", "pc2", "cell")}),
       idx1 AS (SELECT vec_id, m, code, cell FROM idx0
              UNION ALL SELECT vec_id, m, code, cell FROM acodes),
       bb AS (SELECT vec_id, v FROM e WHERE vec_id >= $IngestSplit2),
       bbss AS (${assignSql("bb", "c2")}),
       pbb AS (${probeSql("bb")}),
       lutb AS (${lutSql("pbb", "bb")}),
       adcb AS (${adcSql("lutb", "idx1")}),
       bestb AS (${bestSql("adcb")}),
       verdb AS (${verdSql("bb", "bbss", "bestb", 1)})
       SELECT vec_id, batch, cell, match_id, adc_e4, verdict
       FROM (SELECT * FROM verda UNION ALL SELECT * FROM verdb)
       ORDER BY vec_id"""
  }

  // -------------------------------------------------------------- d231
  /** 1-in-AuditMod deterministic audit panel: the post-compaction
    * serving audit probes a fixed sample of the store, not the whole
    * store — the nightly integrity check is O(panel × bucket), never
    * O(store²). */
  private[graft] val AuditMod = 25L

  /** Hard panel budget: the audit is a fixed-cost integrity SAMPLE, so
    * its size must not scale with the store — without the cap a 10×
    * corpus pays 10× panel × 10× bucket width = 100× audit work
    * (measured: 5.7 s → 45 s at the 10× fixture). The cap binds only
    * past 25·AuditCap vectors; the panel stays deterministic (lowest
    * qualifying ids). */
  private[graft] val AuditCap = 200

  /** Target partition count of the compacted index artifact. */
  private[graft] val CompactFiles = 4

  /** ANN INDEX COMPACTION — the LSM maintenance step the ingest path
    * (d221's nightly band RMW, d226's streaming code appends) makes
    * necessary: after enough nights the store is one base artifact
    * plus a delta directory per batch — dozens of small files whose
    * per-file (cell, m, code) rows interleave arbitrarily, so every
    * probe's equi-join opens every delta. Compaction rewrites
    * base + deltas into ONE artifact, range-laid-out on the serving
    * key (`repartitionByRange(cell)` + in-file sort), so a probe's
    * routed cells map to a contiguous file/row-group range and parquet
    * min/max stats skip the rest. The op pins, in order: (1) no rows
    * lost or invented (count identity); (2) the bounded layout — the
    * compacted artifact is ≤ [[CompactFiles]] part files however many
    * the store's dirs held; (3) the layout —
    * per-file cell ranges, read back from the compacted bytes, may
    * touch at a boundary cell but never interleave; (4) SERVING
    * IDENTITY — a deterministic [[AuditMod]] panel probed against
    * base+deltas and against the compacted artifact must produce
    * byte-identical nearest-neighbor verdicts (`exceptAll` both ways),
    * the guarantee that lets production swap artifacts under a live
    * server. The gate output is the panel audit itself: each probed
    * vector's nearest OTHER indexed vector by ADC with the
    * [[IngestDupE4]] near-dup verdict — the store-integrity report a
    * vector database runs after every compaction.
    *
    * Scale shape: compaction is one read + one range shuffle of
    * 5-byte-per-vector code rows (never raw vectors); the audit is
    * panel-sized LUT work against cell-bounded candidate lists; the
    * identity check compares two panel-sized frames. Deltas here are
    * ALL arrivals encoded against the frozen codebooks (no novelty
    * filter — d226 owns probe-before-add; compaction must preserve
    * whatever the store holds). */
  def d231IndexCompact(spark: SparkSession, dir: String): DataFrame =
    Scratch.within("d231") { s =>
      val root = s.dir("store")
      val e = emb(spark, dir)
        .localCheckpoint() // feeds training, three encodes, and the panel
      val corpus = e.filter(col("vec_id") < IngestSplit1)
      val (cents, books, base) = ingestArtifacts(corpus)
      // the base write and the two delta encodes are independent
      // actions over checkpointed inputs (e, cents, books) writing to
      // three distinct dirs — overlap them (guide §2.6)
      graft.Par.actions(Seq(
        () => base.write.mode("overwrite").parquet(s"$root/idx/base"),
        () => ingestEncode(e.filter(col("vec_id") >= IngestSplit1 &&
            col("vec_id") < IngestSplit2), cents, books)
          .write.mode("overwrite").parquet(s"$root/idx/b0"),
        () => ingestEncode(e.filter(col("vec_id") >= IngestSplit2),
            cents, books)
          .write.mode("overwrite").parquet(s"$root/idx/b1")))
      def dataFiles(sub: String): Long =
        scala.util.Using.resource(java.nio.file.Files.walk(root.resolve(sub)))(
          _.filter(p => p.getFileName.toString.startsWith("part-")).count())
      val parts = spark.read.parquet(
          Seq("base", "b0", "b1").map(n => s"$root/idx/$n"): _*)
        .localCheckpoint()
      // count identity from the artifacts' committed footers (guide
      // §1.2) — the store dirs and the compacted dir carry their row
      // counts in parquet metadata; no scan job per count
      val nParts = graft.io.ParquetMeta.rowCount(
        Seq("base", "b0", "b1").map(n => s"$root/idx/$n"): _*)
      val filesBefore = dataFiles("idx")
      parts.repartitionByRange(CompactFiles, col("cell"), col("vec_id"))
        .sortWithinPartitions("cell", "vec_id", "m")
        .write.mode("overwrite").parquet(s"$root/compact")
      val compact = spark.read.parquet(s"$root/compact").localCheckpoint()
      val nCompact = graft.io.ParquetMeta.rowCount(s"$root/compact")
      require(nCompact == nParts,
        s"compaction changed the store: $nParts rows in, $nCompact out")
      // the bound is ABSOLUTE (≤ CompactFiles whatever the store held):
      // at production scale the delta dirs hold hundreds of part files
      // and the collapse is large; at fixture scale each tiny delta is
      // already one file, so a strict-decrease check would be a toy
      // artifact, not an invariant
      val filesAfter = dataFiles("compact")
      require(filesAfter <= CompactFiles,
        s"compacted artifact exceeds $CompactFiles files: $filesAfter " +
          s"(store held $filesBefore)")
      // layout pin from the compacted BYTES: files ordered by their
      // min cell may share at most the boundary cell (a cell split on
      // vec_id), never interleave ranges
      val ranges = spark.read.parquet(s"$root/compact")
        .groupBy(input_file_name().as("f"))
        .agg(min("cell").as("lo"), max("cell").as("hi"))
        .collect() // ≤ CompactFiles rows — driver-bounded
        .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
        .sortBy(identity)
      ranges.iterator.sliding(2).withPartial(false).foreach { w =>
        require(w(1)._1 >= w(0)._2,
          s"compacted cell ranges interleave: ${ranges.mkString(",")}")
      }
      val panel = e.filter(col("vec_id") % AuditMod === 0)
        .orderBy("vec_id").limit(AuditCap).localCheckpoint()
      val audit = ingestProbe(panel, compact, cents, books, IngestDupE4,
        excludeSelf = true).localCheckpoint()
      // checkpointed: exceptAll evaluates both directions — an
      // unmaterialized `before` would re-run the whole probe twice
      val before = ingestProbe(panel, parts, cents, books, IngestDupE4,
        excludeSelf = true).localCheckpoint()
      require(audit.exceptAll(before).isEmpty &&
          before.exceptAll(audit).isEmpty,
        "compaction changed serving results on the audit panel")
      audit.orderBy("vec_id")
    }

  /** The compacted store's panel audit in DuckDB: the full store (base
    * corpus + both arrival batches, all encoded against the
    * corpus-trained frozen artifacts) probed by the 1-in-[[AuditMod]]
    * panel with self-matches excluded. Compaction itself has no SQL
    * shadow — it permutes bytes, not rows — so the oracle computes the
    * serving answer from the UNCOMPACTED store; the Spark side's
    * pre==post `exceptAll` pin is what extends the equality to the
    * compacted artifact. */
  val d231Oracle: String = {
    def l2Sql(a: String, b: String): String = l2E4Sql(a, b)
    def passignSql(vcte: String, ccte: String, extra: String): String = {
      val inner = if (extra.isEmpty) "" else s", t.$extra"
      val outer = if (extra.isEmpty) "" else s", $extra"
      s"""SELECT vec_id, m, sv, code$outer FROM (
         SELECT t.vec_id, t.m, t.sv, c.code$inner,
           row_number() OVER (PARTITION BY t.vec_id, t.m
             ORDER BY ${l2Sql("t.sv", "c.cv")}, c.code) AS rk
         FROM $vcte t JOIN $ccte c ON t.m = c.m)
         WHERE rk = 1"""
    }
    def pupdateSql(acte: String): String =
      s"""SELECT m, code, list(cx ORDER BY i) AS cv FROM (
         SELECT m, code, i, round(avg(sv[i]), 4) AS cx
         FROM $acte, (SELECT unnest(range(1, ${PqDim + 1})) AS i)
         GROUP BY m, code, i)
         GROUP BY m, code"""
    def subsSql(assCte: String): String =
      s"""SELECT vec_id, cell, m,
           r[(m * $PqDim + 1):((m + 1) * $PqDim)] AS sv
         FROM (
           SELECT a.vec_id, a.cell,
             list_transform(range(1, ${PqFullDim + 1}),
               i -> a.v[i] - c.cv[i]) AS r
           FROM $assCte a JOIN c2 c ON a.cell = c.cent_id),
           (SELECT unnest(range($PqM)) AS m)"""
    def probeSql(vcte: String): String =
      s"""SELECT q_id, cell FROM (
         SELECT t.vec_id AS q_id, c.cent_id AS cell,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY ${cosineSql("t.v", "c.cv")} DESC, c.cent_id) AS rk
         FROM $vcte t, c2 c)
         WHERE rk <= $NProbe"""
    def lutSql(probeCte: String, vcte: String): String =
      s"""SELECT q.q_id, q.cell, b.m, b.code, ${l2Sql("q.sv", "b.cv")} AS d_e4
         FROM (
           SELECT qr.q_id, qr.cell, mm.m,
             qr.qr[(mm.m * $PqDim + 1):((mm.m + 1) * $PqDim)] AS sv
           FROM (
             SELECT p.q_id, p.cell,
               list_transform(range(1, ${PqFullDim + 1}),
                 i -> t.v[i] - c.cv[i]) AS qr
             FROM $probeCte p JOIN $vcte t ON t.vec_id = p.q_id
               JOIN c2 c ON c.cent_id = p.cell) qr,
             (SELECT unnest(range($PqM)) AS m) mm) q
         JOIN pc2 b ON q.m = b.m"""
    def adcSql(lutCte: String, idxCte: String): String =
      s"""SELECT l.q_id, k.vec_id AS cand_id,
           CAST(sum(l.d_e4) AS BIGINT) AS adc_e4
         FROM $idxCte k JOIN $lutCte l
           ON k.cell = l.cell AND k.m = l.m AND k.code = l.code
         WHERE k.vec_id <> l.q_id
         GROUP BY l.q_id, k.vec_id"""
    def bestSql(adcCte: String): String =
      s"""SELECT q_id, cand_id, adc_e4 FROM (
         SELECT q_id, cand_id, adc_e4,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_e4, cand_id) AS rk
         FROM $adcCte) WHERE rk = 1"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       corpus AS (SELECT vec_id, v FROM e WHERE vec_id < $IngestSplit1),
       train AS (SELECT vec_id, v FROM corpus WHERE vec_id % $TrainMod = 0),
       c0 AS (SELECT vec_id AS cent_id, v AS cv FROM corpus
              WHERE vec_id < $IvfK),
       a1 AS (${assignSql("train", "c0")}),
       c1 AS (${updateSql("a1")}),
       a2 AS (${assignSql("train", "c1")}),
       c2 AS (${updateSql("a2")}),
       cass AS (${assignSql("corpus", "c2")}),
       csubs AS (${subsSql("cass")}),
       pc0 AS (SELECT m, vec_id AS code, sv AS cv FROM csubs
              WHERE vec_id < $PqK),
       ptrain AS (SELECT vec_id, m, sv FROM csubs
              WHERE vec_id % $TrainMod = 0),
       pa1 AS (${passignSql("ptrain", "pc0", "")}),
       pc1 AS (${pupdateSql("pa1")}),
       pa2 AS (${passignSql("ptrain", "pc1", "")}),
       pc2 AS (${pupdateSql("pa2")}),
       idx0 AS (${passignSql("csubs", "pc2", "cell")}),
       ba AS (SELECT vec_id, v FROM e
              WHERE vec_id >= $IngestSplit1 AND vec_id < $IngestSplit2),
       bass AS (${assignSql("ba", "c2")}),
       asubs AS (${subsSql("bass")}),
       acodes AS (${passignSql("asubs", "pc2", "cell")}),
       bb AS (SELECT vec_id, v FROM e WHERE vec_id >= $IngestSplit2),
       bbss AS (${assignSql("bb", "c2")}),
       bsubs AS (${subsSql("bbss")}),
       bcodes AS (${passignSql("bsubs", "pc2", "cell")}),
       idx2 AS (SELECT vec_id, m, code, cell FROM idx0
              UNION ALL SELECT vec_id, m, code, cell FROM acodes
              UNION ALL SELECT vec_id, m, code, cell FROM bcodes),
       panel AS (SELECT vec_id, v FROM e WHERE vec_id % $AuditMod = 0
              ORDER BY vec_id LIMIT $AuditCap),
       pp AS (${probeSql("panel")}),
       lutp AS (${lutSql("pp", "panel")}),
       adcp AS (${adcSql("lutp", "idx2")}),
       bestp AS (${bestSql("adcp")})
       SELECT p.vec_id, b.cand_id AS match_id, b.adc_e4,
         CASE WHEN b.adc_e4 <= $IngestDupE4 THEN 'near_dup'
              ELSE 'novel' END AS verdict
       FROM panel p LEFT JOIN bestp b ON b.q_id = p.vec_id
       ORDER BY p.vec_id"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("d231_index_compact", d231IndexCompact, d231Oracle),
    Gate("d219_ivfpq", d219Ivfpq, d219Oracle),
    Gate("d224_ivfpq_refine", d224IvfpqRefine, d224Oracle),
    Gate("d223_ivfpq_recall", d223IvfpqRecall, d223Oracle),
    Gate("d192_embedding_norms", d192EmbeddingNorms, d192Oracle),
    Gate("d217_pq_adc", d217PqAdc, d217Oracle),
    Gate("d143_bitext_mining", d143BitextMining, d143Oracle),
    Gate("d129_semantic_decontam", d129SemanticDecontam, d129Oracle),
    Gate("d110_power_pca", d110PowerPca, d110Oracle),
    Gate("d111_knn_labels", d111KnnLabels, d111Oracle),
    Gate("d112_rrf_fusion", d112RrfFusion, d112Oracle),
    Gate("d30_label_profiles", d30LabelProfiles, d30Oracle),
    Gate("d9_cosine_topk", d9CosineTopk, d9Oracle),
    Gate("d10_ann_lsh", d10AnnLsh, d10Oracle),
    Gate("d12_embedding_dedup", d12EmbeddingDedup, d12Oracle),
    Gate("d14_ann_ivf", d14AnnIvf, d14Oracle),
    Gate("d22_embedding_clusters", d22EmbeddingClusters, d22Oracle),
    Gate("d36_balanced_sample", d36BalancedSample, d36Oracle),
    Gate("d42_quantization", d42Quantization, d42Oracle),
    Gate("d44_balanced_quota", d44BalancedQuota, d44Oracle),
    Gate("d51_quantized_ann", d51QuantizedAnn, d51Oracle),
    Gate("d53_ann_recall", d53AnnRecall, d53Oracle),
    Gate("d83_matryoshka_audit", d83MatryoshkaAudit, d83Oracle),
    Gate("d87_hybrid_dedup", d87HybridDedup, d87Oracle),
    Gate("d59_semantic_dedup", d59SemanticDedup, d59Oracle),
    Gate("d67_embedding_outliers", d67EmbeddingOutliers, d67Oracle),
    Gate("d69_hard_negatives", d69HardNegatives, d69Oracle))
}
