package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps, FuzzyDedup, Multimodal, Relational, Similarity, TextOps}

/** LLM-pipeline operators: semantics + physical-plan guarantees on
  * sf0.001. The value-level correctness gate is the driver's DuckDB
  * compare; these tests pin the scale-critical plan shapes (bucketed
  * joins, no all-pairs) and the multimodal decode plumbing. */
class OpsSpec extends AnyFunSuite with SparkSpec {
  import OpsSpec.GatePlans

  private val dir = "/root/testdata/sf0.001"

  private def collectPlans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    // AdaptiveSparkPlanExec is a LEAF node — without unwrapping it the
    // traversal sees exactly one node and every plan assertion passes
    // vacuously. Assert over the AQE initial plan (the static shape;
    // AQE runtime re-planning only ever improves on it).
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: collectPlans(a.initialPlan)
    case p =>
      p +: (p.children.flatMap(collectPlans) ++
        p.subqueries.flatMap(collectPlans))
  }

  private def assertNoAllPairs(name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val nodes = collectPlans(df.queryExecution.executedPlan)
    val bad = nodes.filter {
      case _: CartesianProductExec => true
      // 1-row scalar broadcasts are deliberate; an all-pairs BNLJ over the
      // corpus is not. Candidate generation must be an equi-join.
      case _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    assert(bad.isEmpty,
      s"$name plan contains all-pairs join nodes: ${bad.map(_.nodeName)}")
  }

  test("minhash dedup plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d2_minhash_dedup", FuzzyDedup.d2MinhashDedup(spark, dir))
  }

  test("ann lsh plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d10_ann_lsh", Similarity.d10AnnLsh(spark, dir))
  }

  test("embedding dedup plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d12_embedding_dedup", Similarity.d12EmbeddingDedup(spark, dir))
  }

  test("simhash banded dedup plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d16_simhash_dedup", FuzzyDedup.d16SimhashDedup(spark, dir))
  }

  test("image dhash near-dup plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d70_image_dhash", Multimodal.d70ImageDhash(spark, dir))
  }

  test("audio dhash near-dup plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d81_audio_dhash", Multimodal.d81AudioDhash(spark, dir))
  }

  test("d71's CMS probe gates the exchange — filter below every shuffle") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = CorpusOps.d71HeavyHitters(spark, dir).queryExecution.executedPlan
    val probeFilters = collectPlans(plan).collect {
      case f: FilterExec if f.condition.collectFirst {
        case m: graft.functions.CmsEstimate => m
      }.isDefined => f
    }
    assert(probeFilters.nonEmpty,
      "no FilterExec carries the CMS probe — the sketch was optimized away")
    // the probe must prune the token stream BEFORE the count shuffle:
    // no KEYED exchange may sit below it, or the vocabulary-sized
    // exchange the sketch exists to shrink already happened. A
    // round-robin exchange is exempt: that is Tables.loadSpread restoring
    // scan width on the single-row-group test corpus (a no-op at any
    // production layout), which moves raw doc rows, not the exploded
    // token stream the pin protects.
    probeFilters.foreach { f =>
      val keyed = collectPlans(f).collect {
        case s: ShuffleExchangeLike if !s.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
            .RoundRobinPartitioning] => s
      }
      assert(keyed.isEmpty,
        "the CMS probe runs above a keyed shuffle — it must gate the exchange")
    }
  }

  test("hard-negative mining plan is bucketed — no cartesian / nested-loop join") {
    assertNoAllPairs("d69_hard_negatives", Similarity.d69HardNegatives(spark, dir))
  }

  test("asof join compiles to a window-only plan — no join node at all") {
    val nodes = collectPlans(Queries.q21Asof(spark, dir).queryExecution.executedPlan)
    val joins = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins.isEmpty,
      s"asof must be the union+window composition, found ${joins.map(_.nodeName)}")
  }

  test("vocab top-k is a distributed TakeOrderedAndProject, not a global sort") {
    val plan = TextOps.d19Vocab(spark, dir).queryExecution.executedPlan
    assert(collectPlans(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-30 must be per-partition heaps, not a full-vocab sort")
  }

  test("quantized ANN top-k is a distributed TakeOrderedAndProject, not a global sort") {
    val plan = Similarity.d51QuantizedAnn(spark, dir).queryExecution.executedPlan
    assert(collectPlans(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-10 over the codes must be per-partition heaps, like d9")
  }

  test("containment finds excerpt pairs that Jaccard dedup misses") {
    import spark.implicits._
    val words = (0 until 200).map(i => s"w$i")
    val long = words.mkString(" ")
    val excerpt = words.slice(50, 80).mkString(" ") // contiguous quote
    val unrelated = (0 until 50).map(i => s"z$i").mkString(" ")
    val corpus = Seq((0L, long), (1L, excerpt), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = FuzzyDedup.containmentPairs(corpus).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)),
      "exactly the (long, excerpt) pair must be reported")
    val row = pairs.head
    assert(row.getAs[Double]("overlap_coef") == 1.0,
      "every excerpt shingle is contained in the long doc")
    assert(row.getAs[Double]("jaccard") < 0.5,
      "the pair must sit BELOW the Jaccard dedup threshold — that is the point")
    // and the Jaccard-verified pair machinery (d2) indeed rejects it
    val jac = FuzzyDedup.verifiedPairs(corpus).collect()
    assert(!jac.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "minhash+verify must not report the excerpt pair (jaccard < 0.5)")
  }

  test("containment candidate join is equi on the shingle hash — no cartesian") {
    val plan = FuzzyDedup.d52Containment(spark, dir).queryExecution.executedPlan
    val bad = collectPlans(plan).filter(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(bad.isEmpty, s"found non-equi join: ${bad.map(_.nodeName)}")
  }

  test("split leakage reports exact copies landing in different splits") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // pick ids the salted split hash routes to DIFFERENT splits (the
    // assignment is deterministic, so probe it rather than hard-code)
    val ids = spark.range(0, 200)
      .select(col("id"), CorpusOps.splitOf(col("id")).as("s"))
      .collect()
    val trainId = ids.find(_.getString(1) == "train").get.getLong(0)
    val otherId = ids.find(_.getString(1) != "train").get.getLong(0)
    val sameSplitId = ids.filter(_.getString(1) == "train")
      .map(_.getLong(0)).find(_ != trainId).get
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (trainId, text), (otherId, text), // exact copy ACROSS the boundary
      (sameSplitId, text),              // exact copy within train: no leak row
      (9999L, "completely different unrelated words about nothing at all"))
      .toDF("doc_id", "text")
    val rows = FuzzyDedup.splitLeakage(corpus).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact channel pairs every member against the GROUP
    // REPRESENTATIVE (min id), so the expected rows are (rep, member)
    // for members whose split differs from the rep's
    val splitOf = ids.map(r => r.getLong(0) -> r.getString(1)).toMap
      .withDefaultValue("train")
    val group = Seq(trainId, otherId, sameSplitId)
    val rep = group.min
    val expected = group.filter(m => m != rep && splitOf(m) != splitOf(rep))
      .map(m => (rep, m)).toSet
    assert(expected.nonEmpty && pairs == expected,
      s"expected $expected, got $pairs")
    assert(rows.forall(_.getDouble(2) == 1.0), "exact channel reports jaccard 1.0")
    // pairs within one split are not leakage
    assert(rows.forall(r => r.getString(3) != r.getString(4)))
  }

  test("bloom decontamination matches the exact-join report bit-for-bit") {
    // the bloom stage is a plan optimization only — false positives are
    // discarded by the verify join, false negatives don't exist
    val exact = FuzzyDedup.d17Decontaminate(spark, dir).collect().toSeq
    val bloom = FuzzyDedup.d43BloomDecontaminate(spark, dir).collect().toSeq
    assert(bloom == exact)
  }

  test("bloom probe filters the corpus on the scan side, below any exchange") {
    val plan = FuzzyDedup.d43BloomDecontaminate(spark, dir)
      .queryExecution.executedPlan
    val probeFilters = collectPlans(plan).collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.collectFirst {
            case b: org.apache.spark.sql.catalyst.expressions
              .BloomFilterMightContain => b
          }.isDefined => f
    }
    assert(probeFilters.nonEmpty, "no bloom might_contain filter in the plan")
    // at 100 TB the whole point is pre-shuffle pruning: nothing below
    // the probe may be an exchange (it must sit directly on the
    // scan+explode pipeline)
    probeFilters.foreach { f =>
      val below = collectPlans(f).drop(1)
      assert(!below.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
        "bloom probe sits above a shuffle — prefilter must run scan-side")
    }
  }

  test("incremental gate plan is hash-joined — no cartesian / nested-loop") {
    assertNoAllPairs("d27_incremental_novelty",
      FuzzyDedup.d27IncrementalNovelty(spark, dir))
  }

  test("source overlap pair expansion is an equi-join — no cartesian / BNLJ") {
    assertNoAllPairs("d35_source_overlap",
      ops.CorpusOps.d35SourceOverlap(spark, dir))
  }

  test("bm25 reads the corpus once — final plan has zero file scans") {
    val df = ops.CorpusOps.d37Bm25(spark, dir)
    val nodes = collectPlans(df.queryExecution.executedPlan)
    // the single parquet scan happened eagerly when the pruned
    // (doc_id, dl, query-term matches) projection was checkpointed;
    // every consumer (stats, tf, df) must read that checkpoint — a file
    // scan in the FINAL plan means a branch re-reads the corpus
    val fileScans = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(fileScans.isEmpty,
      s"bm25 must score from the checkpointed pruned table, found ${fileScans.size} file scans")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-20 must be per-partition heaps, not a global sort")
  }

  test("fixed-quota balanced resample plans as WindowGroupLimit") {
    val e = Tables.load(spark, dir, "embeddings")
    val out = Similarity.balancedSampleTo(e, 10)
    assert(collectPlans(out.queryExecution.executedPlan).exists(
      _.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      "literal quota must get map-side per-label top-k heaps")
    val counts = out.groupBy("label").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) <= 10))
  }

  /** Every registered gate run once on sf0.001, and the `graft-d*`
    * entries of `java.io.tmpdir` the pass left behind. A gate whose
    * result is a checkpoint shows only a `Scan ExistingRDD` in its
    * returned plan, so the plans it ran on the way come from a
    * `QueryExecutionListener`, read once the listener bus has drained. */
  private lazy val registryPass: (Seq[GatePlans], Set[String]) = {
    val before = SparkSpec.tmpEntries("graft-d")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val found =
      try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        val returned = q(spark, dir).queryExecution.executedPlan
        org.apache.spark.TestListenerBus.drain(spark.sparkContext)
        val ran = Iterator.continually(executed.poll()).takeWhile(_ != null).toSeq
        val nodes = (returned +: ran).flatMap(collectPlans)
        GatePlans(name, ran.size,
          nodes.collect { case c: CartesianProductExec => c.nodeName },
          nodes.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty => w.nodeName
            case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
                if w.partitionSpec.isEmpty => w.nodeName
          })
      } finally spark.listenerManager.unregister(listener)
    (found, SparkSpec.tmpEntries("graft-d") -- before)
  }

  test("no registered query plans a CartesianProduct") {
    // 1-row scalar broadcasts plan as BroadcastNestedLoopJoin and are
    // deliberate; an unkeyed CartesianProduct is never acceptable in
    // this surface — catch regressions across the whole registry
    // the same pass over every gate checks that none leaves a temp dir
    val (gates, left) = registryPass
    assert(gates.map(_.executed).sum > 0, "the listener saw no executed plan")
    info(s"${gates.size} gates, ${gates.map(_.executed).sum} executed plans")
    gates.foreach(g =>
      assert(g.cartesian.isEmpty, s"${g.name} plans a CartesianProduct"))
    assert(left.isEmpty, s"gates left temp dirs: ${left.toSeq.sorted}")
  }

  test("no registered query windows over an empty partition spec") {
    // an empty partitionSpec drags ALL rows through one partition — the
    // WindowExec warning in the bench logs; every window in the surface
    // must either partition on a real key or (rank-of-top-k) a constant
    // applied after the data is already reduced to O(k) rows
    registryPass._1.foreach(g =>
      assert(g.unpartitionedWindows.isEmpty,
        s"${g.name} has a window with no partition spec: ${g.unpartitionedWindows}"))
  }

  test("dedup clusters: one canonical survivor per cluster, pairs co-clustered") {
    val docs = Tables.load(spark, dir, "documents")
    val out = FuzzyDedup.d15DedupClusters(spark, dir).collect()
    assert(out.length == docs.count(), "every doc gets a cluster assignment")
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_.getInt(2) == 1) == 1,
        s"cluster $cid must have exactly one survivor")
      assert(members.map(_.getLong(0)).min == cid,
        s"cluster $cid label must be its minimum doc_id")
      assert(members.find(_.getInt(2) == 1).get.getLong(0) == cid,
        s"cluster $cid survivor must be the canonical minimum")
    }
    // every verified near-dup pair must land in the same cluster
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    FuzzyDedup.d2MinhashDedup(spark, dir).collect().foreach { p =>
      assert(cluster(p.getLong(0)) == cluster(p.getLong(1)),
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) split across clusters")
    }
  }

  test("embedding clusters: one survivor per cluster, d12 pairs co-clustered") {
    val out = Similarity.d22EmbeddingClusters(spark, "/root/testdata/sf0.01").collect()
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_.getInt(2) == 1) == 1, s"cluster $cid survivors")
      assert(members.map(_.getLong(0)).min == cid, s"cluster $cid label")
    }
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.d12EmbeddingDedup(spark, "/root/testdata/sf0.01").collect().foreach { p =>
      assert(cluster(p.getLong(0)) == cluster(p.getLong(1)),
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) split across clusters")
    }
  }

  test("d59: cell-bounded clusters, one most-central survivor each") {
    val out = Similarity.d59SemanticDedup(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    val byCluster = out.groupBy(_._3)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._5 == 1) == 1, s"cluster $cid survivors")
      assert(members.map(_._1).min == cid, s"cluster $cid label")
      // edges never cross cells, so every member shares the survivor's cell
      assert(members.map(_._2).distinct.length == 1, s"cluster $cid spans cells")
      // the survivor is the member MOST similar to the cell centroid
      // (ties to smaller vec_id) — the keep policy's whole contract
      val best = members.minBy(m => (-m._4, m._1))
      assert(members.find(_._5 == 1).get == best, s"cluster $cid keep policy")
    }
    // nontrivial at gate scale: some cluster must actually merge pairs
    assert(byCluster.exists(_._2.length >= 2), "no multi-member cluster found")
  }

  test("d59: byte-identical replicas co-cluster with their rep; only ids ≥ rep lose") {
    // plants exact replicas — the case the collapse pre-pass exists
    // for — and pins the expansion step: every replica inherits the
    // rep's cluster/cell/cent_sim, and keep=1 can only land on a rep
    import org.apache.spark.sql.functions._
    val src = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val replicas = src.filter(col("vec_id") < 4)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val dir = SparkSpec.tempDir("graft-d59").toString
    src.unionByName(replicas).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.d59SemanticDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))).toMap
    for (id <- 0L until 4L) {
      val (origCell, origCluster, origSim, _) = out(id)
      val (repCell, repCluster, repSim, repKeep) = out(id + 100000L)
      assert((repCell, repCluster, repSim) == ((origCell, origCluster, origSim)),
        s"replica of $id diverged from its rep")
      assert(repKeep == 0, s"replica of $id must lose the id tie-break")
    }
  }

  test("saltedJoin = plain join bitwise; the exchange partitions on the salt") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 distinct keys over 3000 rows — the few-hot-keys case AQE's
    // skew splitting cannot fix (one key fills a whole partition)
    val fact = spark.range(3000)
      .select((col("id") % 3).cast("string").as("k"), col("id"))
    val dim = Seq(("0", 10L), ("1", 20L), ("2", 30L)).toDF("k", "w")
    val plain = fact.join(dim, "k").select("k", "id", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val salted = Relational.saltedJoin(fact, dim, Seq("k"), xxhash64(col("id")), 8)
      .select("k", "id", "w")
    val got = salted.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == plain.toSeq, "salting changed the join result")
    // the whole point: the shuffle key must include the salt so a hot
    // key spreads over `salts` partitions instead of filling one
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salt column missing from the physical plan")
  }

  test("d62: KL(train‖train) = 0, other splits ≥ 0, full top-V support") {
    val out = CorpusOps.d62SplitDrift(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set("train", "val", "test"))
    // the fixture vocab is smaller than DriftTopV, so the support is
    // the full vocabulary — identical width for every split either way
    assert(out.values.map(_._1).toSet.size == 1, "support width differs")
    assert(out.values.head._1 <= 200L)
    out.foreach { case (s, (_, kl)) =>
      assert(kl >= 0.0, s"$s KL must be non-negative (Gibbs)")
    }
    assert(out("train")._2 == 0.0, "KL of train against itself")
  }

  test("d60: leaf-reaggregated rollup = Spark's native rollup operator") {
    // the scale claim behind d60: deriving subtotal/total levels from
    // the (split, source) leaf must be VALUE-equal to rollup(), whose
    // Expand replays the corpus scan once per level
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.01"
    val got = CorpusOps.d60DataCard(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val naive = Tables.load(spark, sfDir, "documents")
      .select(CorpusOps.splitOf(col("doc_id")).as("split"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        col("n_chars"))
      .rollup("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        round(sum("n_chars").cast("double") / count(lit(1)), 2).as("avg_chars"))
      .select(coalesce(col("split"), lit("all")).as("split"),
        coalesce(col("source"), lit("all")).as("source"),
        col("n_docs"), col("n_tokens"), col("avg_chars"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == naive, "data card diverged from the native rollup")
  }

  test("q22 scale path: approx percentiles track exact within 1%") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.01"
    val exact = Queries.q22Percentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // the documented 100 TB path: a fixed-size mergeable sketch instead
    // of the exact percentile's full per-group sort
    val approx = Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
          .as("m"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("p"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    exact.foreach { case (k, (m, p)) =>
      assert(math.abs(approx(k)._1 - m) / m < 0.01, s"$k median drift")
      assert(math.abs(approx(k)._2 - p) / p < 0.01, s"$k p90 drift")
    }
  }

  test("clustering converges on a 200-hop chain (pointer jumping)") {
    import org.apache.spark.sql.functions._
    // a path graph is the worst case for plain min-label propagation
    // (O(diameter) rounds — this aborted on the pre-compression version)
    val chain = spark.range(199).toDF("a").withColumn("b", col("a") + 1)
    val labels = graft.ops.Clustering.minLabelComponents(chain)
    assert(labels.filter(col("label") =!= 0).count() == 0,
      "every chain node must take the component minimum label")
    assert(labels.count() == 200)
  }

  test("asofJoin: strictly-earlier match, ties excluded, null when none") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L), (1L, 15L), (1L, 25L), (3L, 1L)).toDF("k", "t")
    val out = graft.ops.Relational.asofJoin(left, right, "k", "t", "asof")
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(out("p1").isEmpty, "tie at t=10 must NOT match (strict <)")
    assert(out("p2").contains(15L))
    assert(out("p3").isEmpty, "no right rows for key 2")
  }

  test("sessionize: ids increment exactly at gaps, per key") {
    import spark.implicits._
    val min = 60L * 1000 * 1000
    val rows = Seq( // (user, event, micros)
      (1L, 1L, 0L), (1L, 2L, 10 * min), (1L, 3L, 50 * min), // gap at 3
      (2L, 4L, 0L)
    ).toDF("user_id", "event_id", "us")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros($"us"))
    val out = graft.ops.Relational
      .sessionize(rows, "user_id", "ts", gapUs = 30 * min,
        order = Seq($"event_id"))
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L), s"got $out")
  }

  test("incremental novelty gate: exact, near, and novel verdicts") {
    import spark.implicits._
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (0L, corpusText), // corpus
      (1L, "one two three four five six seven eight"), // corpus
      (100L, corpusText), // exact copy of 0
      (101L, "alpha beta gamma delta epsilon zeta eta iota"), // near: most shingles shared
      (102L, "totally different words appear in this document here now")
    ).toDF("doc_id", "text")
    val out = FuzzyDedup.incrementalNovelty(d, split = 100L).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getDouble(2), r.getString(3))))
      .toMap
    assert(out.keySet == Set(100L, 101L, 102L))
    assert(out(100L)._1.contains(0L) && out(100L)._3 == "exact_dup")
    assert(out(101L)._1.isEmpty && out(101L)._3 == "near_dup",
      s"shared-shingle doc must be near_dup, got ${out(101L)}")
    assert(out(101L)._2 > 0 && out(101L)._2 <= 0.5)
    assert(out(102L)._1.isEmpty && out(102L)._2 == 1.0 &&
      out(102L)._3 == "novel")
  }

  test("minhash skew defense: 1000 identical docs collapse before banding") {
    import spark.implicits._
    val boiler = (0L until 1000L)
      .map(i => (i, "the same boilerplate text repeated in every single document"))
      .toDF("doc_id", "text")
    // exact pre-pass leaves ONE representative → zero near-dup pairs and
    // zero band buckets over the cap; completes without a quadratic blowup
    assert(FuzzyDedup.verifiedPairs(boiler).count() == 0)
    assert(FuzzyDedup.overflowBuckets(boiler).count() == 0)
  }

  test("minhash bucket cap drops degenerate near-constant-band buckets") {
    import spark.implicits._
    val common = (1 to 20).map(i => s"word$i").mkString(" ")
    val nearDups = (0L until 300L).map(i => (i, s"$common unique$i"))
      .toDF("doc_id", "text")
    // distinct texts, ~0.9 pairwise shingle-jaccard: all 300 share the
    // dominant minhash signature, so the main bucket is ~corpus-sized
    assert(FuzzyDedup.overflowBuckets(nearDups, 64).count() > 0,
      "degenerate corpus must surface overflowing buckets")
    val capped = FuzzyDedup.verifiedPairs(nearDups, maxBucket = 64).count()
    val uncapped = FuzzyDedup.verifiedPairs(nearDups, maxBucket = Int.MaxValue).count()
    // banding recall is <1 by construction; nearly all of the 44850
    // possible pairs collide in at least one band on this corpus
    assert(uncapped > 40000L, s"uncapped pair count $uncapped unexpectedly low")
    assert(capped < uncapped / 10, "the cap must refuse the degenerate buckets")
  }

  test("exact dedup keeps one row per distinct text, lowest doc_id") {
    val docs = Tables.load(spark, dir, "documents")
    val out = TextOps.d1ExactDedup(spark, dir).collect()
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.length == distinctTexts)
    assert(out.map(_.getLong(0)).toSeq == out.map(_.getLong(0)).toSeq.sorted)
  }

  test("minhash candidates are verified near-dups (jaccard >= 0.5)") {
    val rows = FuzzyDedup.d2MinhashDedup(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered doc_a < doc_b")
      assert(r.getDouble(2) >= 0.5)
    }
  }

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => r.getLong(2)).toSet }

  private def recall(ann: Map[Long, Set[Long]],
      truth: Map[Long, Set[Long]]): Double = {
    val hits = truth.map { case (q, t) =>
      (t intersect ann.getOrElse(q, Set.empty)).size
    }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }

  test("lsh ann: multi-probe recall beats single-bucket recall") {
    val d01 = "/root/testdata/sf0.01"
    val truth = topSets(Similarity.exactTopk(spark, d01, numProbes = 8))
    val single = recall(topSets(Similarity.annLsh(spark, d01, multiProbe = false)), truth)
    val multi = recall(topSets(Similarity.annLsh(spark, d01, multiProbe = true)), truth)
    assert(multi >= single,
      s"Hamming-1 probing must not lose recall (single=$single multi=$multi)")
    assert(multi > single,
      s"on the gate corpus the 9-bucket probe strictly improves recall " +
        s"(single=$single multi=$multi)")
  }

  test("ivf ann: training improves quantization; recall is monotone in nProbe") {
    val d01 = "/root/testdata/sf0.01"
    // Lloyd training must improve the objective it optimizes — mean
    // similarity of vectors to their assigned centroid (measured:
    // 0.189 → 0.220 on the gate corpus). Top-k RECALL against d9 ground
    // truth is the honest caveat: the fixture embeddings are isotropic
    // (near-orthogonal, no cluster structure — see TESTDATA notes), so
    // single-probe recall under ANY centroids is chance; what transfers
    // to real clustered embeddings is the trained quantizer + the
    // monotone recall/cost trade of probing more cells.
    val qUntrained = Similarity.meanAssignSim(spark, d01, trained = false)
    val qTrained = Similarity.meanAssignSim(spark, d01, trained = true)
    assert(qTrained > qUntrained,
      s"Lloyd rounds must tighten cells (untrained=$qUntrained trained=$qTrained)")
    val truth = topSets(Similarity.exactTopk(spark, d01, numProbes = 3))
    val r = (np: Int) =>
      recall(topSets(Similarity.annIvf(spark, d01, trained = true, nProbe = np)), truth)
    val (r1, r2, r3) = (r(1), r(2), r(3))
    assert(r2 >= r1 && r3 >= r2,
      s"recall must be monotone in nProbe (got $r1, $r2, $r3)")
    assert(r3 > r1,
      s"probing 3 cells must strictly beat 1 on the gate corpus ($r1 → $r3)")
  }

  test("cosine topk: probe itself ranks first with similarity 1") {
    val top = Similarity.d9CosineTopk(spark, dir).head()
    assert(top.getLong(0) == 0L)
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-9)
  }

  test("documents fixture is pure ASCII (d11 byte-op / char-op oracle parity)") {
    // d11 measures UTF-8 BYTES (encode + binary substring) while its
    // DuckDB oracle uses character ops; the two agree only on ASCII
    // payloads. This enforces that documented assumption on the fixture.
    import org.apache.spark.sql.functions._
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonAscii = Tables.load(spark, d, "documents")
        .filter(length(encode(col("text"), "UTF-8")) =!= length(col("text")))
        .count()
      assert(nonAscii == 0, s"$d documents contain non-ASCII text")
    }
  }

  test("binaryFile blob source: ids, modalities, and decode plumbing") {
    import java.nio.file.Files
    val bdir = SparkSpec.tempDir("graft-blobs")
    Files.write(bdir.resolve("0.jpg"), Array.fill[Byte](300)(1))
    Files.write(bdir.resolve("1.wav"), Array.fill[Byte](700)(2))
    Files.write(bdir.resolve("2.bin"), "hello".getBytes)
    val blobs = Multimodal.blobsFromDir(spark, bdir.toString)
    val byId = blobs.collect().map(b => b.doc_id -> b).toMap
    assert(byId.keySet == Set(0L, 1L, 2L))
    assert(byId(0L).modality == "image" && byId(0L).data.length == 300)
    assert(byId(1L).modality == "audio" && byId(1L).data.length == 700)
    assert(byId(2L).modality == "binary" && byId(2L).data.length == 5)
    val frames = Multimodal.decodeFrames(blobs).collect()
    val counts = frames.groupBy(_.doc_id).view.mapValues(_.length).toMap
    assert(counts == Map(0L -> 2, 1L -> 3, 2L -> 1),
      "frame counts must be ceil(byte_len / FrameBytes)")
  }

  test("multimodal decode: frame counts and feature shape") {
    val blobs = Multimodal.blobs(spark, dir)
    val frames = Multimodal.decodeFrames(blobs).collect()
    val byDoc = frames.groupBy(_.doc_id)
    val lens = blobs.collect().map(b => b.doc_id -> b.data.length).toMap
    assert(byDoc.keySet == lens.keySet)
    byDoc.foreach { case (id, fs) =>
      val expected = math.ceil(lens(id).toDouble / Multimodal.FrameBytes).toInt
      assert(fs.length == expected, s"doc $id frame count")
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until expected))
      fs.foreach(f => assert(f.feature.length == Multimodal.FeatureDim))
    }
    // determinism: same bytes → same feature
    val f1 = Multimodal.fakeFeature("abcdef".getBytes)
    val f2 = Multimodal.fakeFeature("abcdef".getBytes)
    assert(f1.toSeq == f2.toSeq)
  }

  test("hot-path plans carry no interpreted higher-order functions") {
    // Spark's array HOFs (transform/aggregate/zip_with/filter) are
    // CodegenFallback — every lambda application interpreted. The
    // per-element hot paths all moved to native expressions
    // (TokenHashes, ShingleHashes, BigramHashes, SimHash48, QuantError,
    // CosineSim, MinHashSigs); this pins that no HOF sneaks back into
    // the plans where per-element cost is the operator's dominant term
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    val hot = Seq(
      "d2" -> FuzzyDedup.d2MinhashDedup(spark, dir),
      "d3" -> FuzzyDedup.d3Simhash(spark, dir),
      "d9" -> Similarity.d9CosineTopk(spark, dir),
      "d12" -> Similarity.d12EmbeddingDedup(spark, dir),
      "d41" -> graft.ops.CorpusOps.d41BigramSurprisal(spark, dir),
      "d42" -> Similarity.d42Quantization(spark, dir),
      "d51" -> Similarity.d51QuantizedAnn(spark, dir),
      "d52" -> FuzzyDedup.d52Containment(spark, dir))
    hot.foreach { case (name, df) =>
      val found = collectPlans(df.queryExecution.executedPlan)
        .flatMap(_.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
        }))
      assert(found.isEmpty, s"$name plan contains interpreted HOFs: $found")
    }
  }

  test("d29/d38 fused signals cannot drift from the gated d6/d20 ops") {
    // d29/d38 compute their predicate signals in one fused corpus scan
    // (CorpusOps.qualitySignals) instead of composing d6 ⋈ d20; this
    // pins the fuse value-equal to the standalone gated ops, so a
    // change to either formulation that forgets the other fails here
    // before it reaches the driver gate
    import org.apache.spark.sql.functions._
    val fused = CorpusOps.d29CurationGate(spark, dir)
      .select("doc_id", "n_tokens", "len_ok", "rep_ratio")
    val composed = TextOps.d6QualityScore(spark, dir)
      .select("doc_id", "n_tokens", "len_ok")
      .join(FuzzyDedup.d20Repetition(spark, dir)
        .select("doc_id", "rep_ratio"), "doc_id")
      .select("doc_id", "n_tokens", "len_ok", "rep_ratio")
    assert(fused.exceptAll(composed).isEmpty && composed.exceptAll(fused).isEmpty,
      "fused qualitySignals diverged from d6 ⋈ d20")
  }

  test("globalOrder.rank = single-partition row_number, for ANY bucket count") {
    // the primitive's whole contract: the scale-safe formulation (range
    // exchange + per-bucket windows + offset table) must be VALUE-equal
    // to the naive global window, and invariant to where the sampled
    // range boundaries land — one bucket, a few, or more buckets than
    // distinct keys
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(500)
      .select((col("id") * 37 % 100).as("score"), col("id"))
    val base = df
      .withColumn("r", row_number().over(Window.orderBy(col("score"), col("id"))))
      .collect().map(r => r.getLong(1) -> r.getInt(2).toLong).toMap
    for (b <- Seq(1, 3, 17, 200)) {
      val got = graft.ops.GlobalOrder
        .rank(df, Seq(col("score").asc, col("id").asc), b)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == base, s"ranks diverged from the global window at buckets=$b")
    }
  }

  test("globalOrder.runningTotal = single-partition rank + prefix sum") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(500)
      .select((col("id") * 37 % 100).as("score"), col("id"),
        (col("id") % 7 + 1).as("v"))
    val w = Window.orderBy(col("score"), col("id"))
    val base = df
      .withColumn("r", row_number().over(w))
      .withColumn("s", sum("v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getLong(1) -> ((r.getInt(3).toLong, r.getLong(4))))
      .toMap
    for (b <- Seq(1, 3, 17, 200)) {
      val got = graft.ops.GlobalOrder
        .runningTotal(df, Seq(col("score").asc, col("id").asc), col("v"), b)
        .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4))))
        .toMap
      assert(got == base, s"running totals diverged at buckets=$b")
    }
  }

  test("d57: the LONGEST member survives its near-dup cluster, not the first") {
    // two near-dup docs where the LATER doc_id is longer — d15's
    // min-doc_id policy keeps doc 0, the content policy must keep doc 1
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val short = (1 to 38).map(i => s"tok$i").mkString(" ")
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val dir = SparkSpec.tempDir("graft-d57").toString
    Seq((0L, short), (1L, long), (2L, other)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = FuzzyDedup.d57ClusterBest(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(0L)._1 == 0L && out(1L)._1 == 0L,
      "near-dup pair must share cluster 0 (min member id)")
    assert(out(1L)._2 == 1 && out(0L)._2 == 0,
      "the longer member (doc 1) must be the survivor")
    assert(out(2L) == ((2L, 1)), "singleton survives trivially")
  }

  test("d67: flags exactly the >2σ centroid distances (driver recompute)") {
    import org.apache.spark.sql.functions._
    val flagged = Similarity.d67EmbeddingOutliers(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet

    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // .toSeq before flatMap: flatMapping a Map with a tuple-valued
    // function rebuilds a Map and silently collapses to one id per label
    val expected = vecs.groupBy(_._2).toSeq.flatMap { case (lab, vs) =>
      val dim = vs.head._3.length
      val cent = Array.tabulate(dim)(i => vs.map(_._3(i)).sum / vs.length)
      val dists = vs.map { case (id, _, v) =>
        id -> math.sqrt((0 until dim)
          .map(i => (v(i) - cent(i)) * (v(i) - cent(i))).sum)
      }
      val m = dists.map(_._2).sum / dists.length
      val s = math.sqrt(
        dists.map(d => (d._2 - m) * (d._2 - m)).sum / dists.length)
      val zs = dists.map { case (id, d) => (id, (d - m) / s) }
      // guard the equality below against a knife-edge fixture: no z may
      // sit AT the threshold, else engine-order ulp noise decides the set
      zs.foreach { case (id, z) =>
        assert(math.abs(z - 2.0) > 1e-9, s"vec $id has z exactly at 2σ") }
      zs.filter(_._2 > 2).map { case (id, _) => (lab, id) }.toSeq
    }.toSet

    assert(flagged == expected,
      s"flag set mismatch: spark=$flagged expected=$expected")
    assert(expected.nonEmpty,
      "fixture should contain at least one outlier or the gate is vacuous")
  }

  test("d69: worst margins match an exact driver recompute of the bucketed mining") {
    import org.apache.spark.sql.functions._
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.d69HardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(4)))

    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def bucket(v: Array[Double]): Int =
      (0 until 8).map(i => if (v(i) > 0) 1 << i else 0).sum
    // element-order accumulation — same IEEE op sequence as CosineSim,
    // so the 4dp rounding lands on the identical double
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      r4(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val expected = vecs.groupBy(v => bucket(v._3)).toSeq.flatMap {
      case (_, vs) => vs.flatMap { case (id, lab, v) =>
        val others = vs.filter(_._1 != id)
        val pos = others.filter(_._2 == lab).map(o => cos(v, o._3))
        val neg = others.filter(_._2 != lab).map(o => cos(v, o._3))
        if (pos.isEmpty || neg.isEmpty) None
        else Some((id, r4(pos.max - neg.max)))
      }
    }.sortBy { case (id, m) => (m, id) }.take(50)

    assert(got.toSeq == expected,
      s"worst-margin list mismatch: spark=${got.toSeq} expected=$expected")
    assert(expected.nonEmpty, "fixture yields no eligible anchors — gate is vacuous")
  }

  test("q23: percentile_approx at gate accuracy is the rank-⌈p·N⌉ statistic") {
    // the definitional pin behind the q23 gate: with accuracy ≥ N the
    // Greenwald-Khanna summary is exact and returns the order statistic
    // at rank ceil(p*N) — the same definition as DuckDB quantile_disc,
    // which is what makes the approximate scale path hash-comparable
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vals = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3, 2.3)
    val sorted = vals.sorted
    def atRank(p: Double): Double =
      sorted(math.ceil(p * vals.size).toInt - 1)
    val r = vals.toDF("v").agg(
      percentile_approx($"v", lit(0.5), lit(1000000)).as("p50"),
      percentile_approx($"v", lit(0.9), lit(1000000)).as("p90")).head()
    assert(r.getDouble(0) == atRank(0.5), "p50 definition drift")
    assert(r.getDouble(1) == atRank(0.9), "p90 definition drift")
  }

  test("round-13 window ops: every window sits above an aggregate — " +
      "calendar-grain rollups, never raw scans") {
    // q42's running distinct, q44's LOCF, and d200's running offset all
    // window over a (type, day/hour) rollup; a regression that windows
    // the raw event stream instead would still pass the oracle (same
    // answer) while dragging data-sized partitions through one task
    for ((name, df) <- Seq(
        "q42" -> Queries.q42WindowDistinct(spark, dir),
        "q44" -> Queries.q44Locf(spark, dir),
        "d200" -> CorpusOps.d200CompactionPlan(spark, dir))) {
      val windows = collectPlans(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected a window")
      windows.foreach { w =>
        val hasAgg = collectPlans(w.child).exists {
          case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
          case _ => false
        }
        assert(hasAgg, s"$name: window input is not an aggregate rollup")
      }
    }
  }

  test("d203: purge propagation is LEFT SEMI end to end — key joins " +
      "can never fan out row counts") {
    val joins = collectPlans(
      CorpusOps.d203DeletionSweep(spark, dir).queryExecution.executedPlan)
      .collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType
      }
    assert(joins.nonEmpty &&
      joins.forall(_ == org.apache.spark.sql.catalyst.plans.LeftSemi),
      s"want only LeftSemi joins, got $joins")
  }

  test("q45: correlated EXISTS / NOT EXISTS decorrelate to one semi " +
      "and one anti join — never per-row subquery execution") {
    val plan = Queries.q45Exists(spark, dir).queryExecution.executedPlan
    val joins = collectPlans(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType
    }
    assert(joins.count(_ == org.apache.spark.sql.catalyst.plans.LeftSemi) == 1,
      s"want one LeftSemi, got $joins")
    assert(joins.count(_ == org.apache.spark.sql.catalyst.plans.LeftAnti) == 1,
      s"want one LeftAnti, got $joins")
  }
}

object OpsSpec {

  /** What one gate's plans hold that the registry-wide checks forbid:
    * its CartesianProduct nodes and its windows with no partition spec,
    * over the plan of the frame it returns and every plan it executed. */
  private final case class GatePlans(name: String, executed: Int,
      cartesian: Seq[String], unpartitionedWindows: Seq[String])
}
