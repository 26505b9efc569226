package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{CorpusOps, FuzzyDedup, GraphOps, TextOps}

/** Round-10 operators, each checked against an INDEPENDENT sequential
  * reimplementation in plain Scala (not a re-run of the DataFrame code)
  * on planted fixtures that exercise the edge the operator exists for:
  * dangling nodes (d98), a binding waterline (d99), out-of-vocabulary
  * mass (d100), cross-block typo pairs (d101), and a cohort gap (d103).
  */
class NewOpsSpec extends SparkSpec {

  private def tmp(): String = SparkSpec.tempDir("newops").toString

  // ------------------------------------------------------------- d98
  test("d98 pagerank matches an independent power iteration, dangling included") {
    // Three users walking a 4-type graph where type "z" is a SINK:
    // every user's stream ends at z and z never transitions out, so z
    // holds dangling mass that must be redistributed — the branch a
    // dangling-free fixture would leave dead.
    val walks = Seq(
      (1L, Seq("a", "b", "a", "c", "z")),
      (2L, Seq("b", "c", "b", "a", "z")),
      (3L, Seq("a", "b", "c", "z")))
    val rows = walks.flatMap { case (u, types) =>
      types.zipWithIndex.map { case (t, i) =>
        (u * 100 + i, 1700000000000000L + i * 60000000L, u, t)
      }
    }
    val dir = tmp()
    import spark.implicits._
    rows.toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // independent model: edge counts by hand from the walks
    val pairs = walks.flatMap { case (_, ts) => ts.zip(ts.tail) }
    val counts = pairs.groupBy(identity).map { case (p, l) => p -> l.size.toDouble }
    val outTot = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val nodes = walks.flatMap(_._2).distinct.sorted
    val n = nodes.size.toDouble
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to GraphOps.PrIters) {
      val dang = nodes.filterNot(outTot.contains).map(pr).sum
      pr = nodes.map { v =>
        val in = counts.collect {
          case ((s, d), c) if d == v => pr(s) * (c / outTot(s))
        }.sum
        v -> (GraphOps.PrTeleport / n + GraphOps.PrDamp * (in + dang / n))
      }.toMap
    }

    val got = GraphOps.d98PageRank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach { v =>
      assert(math.abs(got(v) - pr(v)) < 1e-6, s"node $v: ${got(v)} vs ${pr(v)}")
    }
    // a proper PageRank over a row-stochastic graph with redistributed
    // dangling mass conserves total mass
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
  }

  // ------------------------------------------------------------- d99
  test("d99 epoch mix equals sequential water-filling on a skewed corpus") {
    // sources with strongly skewed sizes so the waterline BINDS: the
    // small sources hit their 3-epoch cap, the large ones level at tau
    val dir = tmp()
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      val src = s"s${i % 8}"
      // source k gets docs of ~ (k+1)^2 tokens -> heavy size skew
      val k = i % 8
      val words = Seq.tabulate((k + 1) * (k + 1))(j => s"w$j").mkString(" ")
      (i.toLong, words, "en", src, words.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent sequential water-filling
    val toks = docs.groupBy(_._4).map { case (s, ds) =>
      s -> ds.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
    }
    val caps = toks.map { case (s, t) => (s, t, t * TextOps.EpochCap) }.toSeq
      .sortBy(c => (c._3, c._1))
    val budget = toks.values.sum * TextOps.BudgetNum / TextOps.BudgetDen
    var remaining = budget
    var left = caps.size
    var tau = -1L
    val expected = scala.collection.mutable.Map[String, Long]()
    caps.foreach { case (s, _, cap) =>
      if (tau >= 0) expected(s) = tau
      else if (cap * left <= remaining) {
        expected(s) = cap; remaining -= cap; left -= 1
      } else { tau = remaining / left; expected(s) = tau }
    }

    val got = TextOps.d99EpochMix(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 8)
    got.foreach { case (s, nTok, cap, alloc) =>
      assert(nTok == toks(s))
      assert(cap == nTok * TextOps.EpochCap)
      assert(alloc == expected(s), s"source $s: $alloc vs ${expected(s)}")
    }
    // waterline must actually bind on this fixture (else the test
    // degenerates to the all-full branch)
    assert(got.exists { case (_, _, cap, alloc) => alloc < cap })
    assert(got.exists { case (_, _, cap, alloc) => alloc == cap })
    assert(got.map(_._4).sum <= budget)
  }

  // ------------------------------------------------------------- d100
  test("d100 oov rate counts exactly the tokens outside the top-V vocab") {
    // 1100 distinct singleton tokens + a frequent core -> the 1000-cap
    // vocabulary must EXCLUDE ~the 100+ rarest; rare-heavy docs score
    // high oov. Ties at the frequency boundary break by token asc
    // (d19's order), mirrored in the reference computation.
    val dir = tmp()
    import spark.implicits._
    val core = (0 until 50).map(i => f"core$i%03d")
    val rare = (0 until 1100).map(i => f"rare$i%04d")
    val docs = (0 until 110).map { i =>
      val text =
        if (i < 100) (core ++ rare.slice(i * 10, i * 10 + 10)).mkString(" ")
        else core.take(10).mkString(" ")
      (i.toLong, text, "en", "s0", text.length.toLong)
    } :+ ((110L, "", "en", "s0", 0L)) // zero-token doc stays, NULL rate
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val freq = docs.flatMap(_._2.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, l) => t -> l.size }
    val vocab = freq.toSeq.sortBy { case (t, n) => (-n, t) }
      .take(TextOps.OovVocabSize).map(_._1).toSet
    val got = TextOps.d100OovRate(spark, dir).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val doc = docs(r.getLong(0).toInt)
      val toks = doc._2.toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(r.getLong(1) == toks.length)
      assert(r.getLong(2) == toks.count(t => !vocab(t)),
        s"doc ${doc._1}: oov ${r.getLong(2)}")
      if (toks.isEmpty) assert(r.isNullAt(3))
    }
    assert(got.exists(r => r.getLong(2) > 0)) // OOV mass actually exists
  }

  // ------------------------------------------------------------- d101
  test("d101 multi-pass blocking catches typos in first AND last chars") {
    val dir = tmp()
    import spark.implicits._
    val names = Seq(
      "widget", "widgot",   // same first+last: both passes catch it
      "bidget",             // differs in FIRST char from widget -> only last-char pass
      "widgex",             // differs in LAST char from widget -> only first-char pass
      "unrelated thing")
    val parts = names.zipWithIndex.flatMap { case (nm, i) =>
      // duplicate rows so the exact pre-pass frequencies are > 1
      (0 to i).map(j => ((i * 10 + j).toLong, nm, s"Brand#${i % 3}",
        "t", 1, 1.0))
    }
    parts.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")

    val got = FuzzyDedup.d101FuzzyMatch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    val expected = Set(
      ("widget", "widgot", 1, 1L, 2L),
      ("bidget", "widget", 1, 3L, 1L),   // first chars differ
      ("widget", "widgex", 1, 1L, 4L),   // last chars differ
      ("bidget", "widgot", 2, 3L, 2L),
      ("widgex", "widgot", 2, 4L, 2L))
    // NOT expected: (bidget, widgex) differs in BOTH block keys — the
    // documented recall limit of two-pass blocking (d84's audit role).
    assert(got == expected, s"got $got")
  }

  // ------------------------------------------------------------- d102
  test("d102 dsir weights rank target-like docs above off-target docs") {
    // Target (en) docs share a distinctive phrase; off-target (zh) docs
    // share a different one. A fresh doc written in the target's
    // phrasing must outscore one written in the off-target's — the
    // ordering DSIR selection relies on. Bigram features, so the
    // discriminative signal is the adjacent PAIRS, not the words.
    val dir = tmp()
    import spark.implicits._
    val docs =
      (0 until 40).map(i => (i.toLong,
        s"alpha beta gamma delta run $i", "en", "s0", 10L)) ++
      (40 until 80).map(i => (i.toLong,
        s"uno dos tres cuatro corrida $i", "zh", "s0", 10L)) ++
      Seq((80L, "alpha beta gamma delta fresh", "fr", "s1", 10L),
          (81L, "uno dos tres cuatro fresco", "fr", "s1", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = CorpusOps.d102DsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(80L) > w(81L),
      s"target-phrased doc ${w(80L)} must outscore off-target ${w(81L)}")
    assert(w(0L) > w(40L)) // and the training rows themselves separate
  }

  // ------------------------------------------------------------- d109
  test("d109 retention triangle is exact on a staggered-cohort log") {
    // the sf fixture's uniform log collapses to one cohort; this plants
    // two cohorts with known dropout so every (cohort, offset) cell and
    // retention ratio is hand-checkable
    val dir = tmp()
    import spark.implicits._
    val monday = 1704067200000000L // 2024-01-01T00:00Z, a Monday
    val week = 604800000000L
    def active(u: Long): Seq[Long] = {
      val f = if (u < 10) 0L else 1L // cohorts of 10 users each
      Seq(f) ++ (if (u % 2 == 0) Seq(f + 1) else Nil) ++
        (if (u % 4 == 0) Seq(f + 2) else Nil)
    }
    val rows = (0L until 20L).flatMap { u =>
      active(u).zipWithIndex.map { case (w, i) =>
        (u * 100 + i, monday + w * week + u * 3600000000L, u, "a", 1.0, "{}")
      }
    }
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = CorpusOps.d109RetentionCohorts(spark, dir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // both cohorts: offset 0 = 10 users, offset 1 = evens (5), offset 2
    // = multiples of 4 (cohort 0 has 0,4,8 -> 3; cohort 1 has 12,16 -> 2)
    val c0 = monday / 1000; val c1 = (monday + week) / 1000 // µs -> ms
    val expected = Seq(
      (c0, 0L, 10L, 1.0), (c0, 1L, 5L, 0.5), (c0, 2L, 3L, 0.3),
      (c1, 0L, 10L, 1.0), (c1, 1L, 5L, 0.5), (c1, 2L, 2L, 0.2))
    assert(got.toSeq == expected, s"got ${got.toSeq}")
  }

  // ------------------------------------------------------------- d110
  test("d110 power iteration recovers a planted dominant direction") {
    val dir = tmp()
    import spark.implicits._
    // 40 vectors in R^4: big variance along (1,1,0,0)/sqrt(2), small
    // noise elsewhere — PC1 must align with the planted direction
    val vecs = (0 until 40).map { i =>
      val t = (i - 20).toDouble
      val noise = Seq(0.01 * (i % 3), 0.02 * (i % 5), 0.01 * (i % 7), 0.0)
      (i.toLong,
        Seq(t + noise(0), t + noise(1), noise(2), 0.1 * (i % 2) + noise(3))
          .map(_.toFloat), i % 2)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // independent JVM power iteration on the same centered data
    val x = vecs.map(_._2.map(_.toDouble))
    val n = x.size; val dim = 4
    val mu = (0 until dim).map(d => x.map(_(d)).sum / n)
    val xc = x.map(v => v.indices.map(d => v(d) - mu(d)))
    var v = Seq.fill(dim)(1.0 / math.sqrt(dim))
    for (_ <- 1 to ops.Similarity.PcaIters) {
      val y = xc.map(r => r.indices.map(d => r(d) * v(d)).sum)
      val s = (0 until dim).map(d => xc.zip(y).map { case (r, yi) => r(d) * yi }.sum)
      val nrm = math.sqrt(s.map(e => e * e).sum)
      v = s.map(_ / nrm)
    }
    val got = ops.Similarity.d110PowerPca(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.size == dim)
    (0 until dim).foreach { d =>
      assert(math.abs(got(d + 1) - v(d)) < 1e-3,
        s"dim ${d + 1}: ${got(d + 1)} vs ${v(d)}")
    }
    // and the recovered direction is the planted one (|cos| > 0.99)
    val planted = Seq(1.0, 1.0, 0.0, 0.0).map(_ / math.sqrt(2))
    val cos = (0 until dim).map(d => v(d) * planted(d)).sum
    assert(math.abs(cos) > 0.99, s"cos=$cos")
  }

  // ------------------------------------------------------------- d108
  test("d108 poisson bootstrap matches an independent JVM recomputation") {
    val dir = tmp()
    import spark.implicits._
    val events = (0 until 60).map { u =>
      (u.toLong, 1700000000000000L + u * 1000000L, u.toLong, "a",
        5.0 + (u % 7), "{}")
    }
    events.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // independent path: JVM md5 -> 60-bit uniform -> Poisson weight
    def u01(s: String): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) / 1152921504606846976.0
    }
    def pw(x: Double): Int = {
      val i = CorpusOps.PoissonCdf.indexWhere(x < _)
      if (i < 0) CorpusOps.PoissonCdf.size else i
    }
    val metrics = events.groupBy(_._3).map { case (u, es) =>
      u -> es.map(_._5).sum }
    val repMeans = (1 to CorpusOps.BootReps).map { r =>
      val ws = metrics.toSeq.map { case (u, m) =>
        (pw(u01(s"boot:$r:$u")), m) }
      ws.map { case (w, m) => w * m }.sum / ws.map(_._1).sum
    }.sorted
    val row = CorpusOps.d108PoissonBootstrap(spark, dir).collect().head
    assert(row.getLong(0) == 60 && row.getInt(1) == CorpusOps.BootReps)
    assert(math.abs(row.getDouble(3) - repMeans(CorpusOps.BootLoIdx - 1)) < 1e-3)
    assert(math.abs(row.getDouble(4) - repMeans(CorpusOps.BootMedIdx - 1)) < 1e-3)
    assert(math.abs(row.getDouble(5) - repMeans(CorpusOps.BootHiIdx - 1)) < 1e-3)
    // the interval is a real interval around the mean
    assert(row.getDouble(3) < row.getDouble(2) && row.getDouble(2) < row.getDouble(5))
  }

  // ------------------------------------------------------------- d103
  test("d103 Welch t matches the closed-form computation") {
    val dir = tmp()
    import spark.implicits._
    // cohort 0 (even users): metric ~ 10 + u; cohort 1 (odd): 30 + u
    val events = (0 until 40).flatMap { u =>
      val base = if (u % 2 == 0) 10.0 else 30.0
      Seq((u.toLong * 2, 1700000000000000L, u.toLong, "a", base + u, "{}"),
        (u.toLong * 2 + 1, 1700000000100000L, u.toLong, "b", 1.0, "{}"))
    }
    events.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val metrics = events.groupBy(_._3).map { case (u, es) =>
      u -> es.map(_._5).sum
    }
    def stats(c: Long) = {
      val xs = metrics.collect { case (u, m) if u % 2 == c => m }.toSeq
      val n = xs.size
      val mean = xs.sum / n
      val v = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      (n, mean, v)
    }
    val (na, ma, va) = stats(0); val (nb, mb, vb) = stats(1)
    val sa = va / na; val sb = vb / nb
    val t = (ma - mb) / math.sqrt(sa + sb)
    val df = (sa + sb) * (sa + sb) /
      (sa * sa / (na - 1) + sb * sb / (nb - 1))

    val r = CorpusOps.d103AbTest(spark, dir).collect().head
    assert(r.getLong(0) == na && r.getLong(2) == nb)
    assert(math.abs(r.getDouble(1) - ma) < 1e-3)
    assert(math.abs(r.getDouble(3) - mb) < 1e-3)
    assert(math.abs(r.getDouble(4) - t) < 1e-3, s"t ${r.getDouble(4)} vs $t")
    assert(math.abs(r.getDouble(5) - df) < 1e-3)
  }

  /** Cosine rounded to 4dp, element-order accumulation — the same
    * arithmetic [[graft.functions.CosineSim]] runs. */
  private def cos4(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.lazyZip(b).map(_ * _).sum
    val c = dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
    BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  // ------------------------------------------------------------- d111
  test("d111 knn vote matches an independent recomputation on planted clusters") {
    val dir = tmp()
    import spark.implicits._
    // two tight clusters on orthogonal axes; label == cluster, small
    // per-id noise keeps every pairwise cosine distinct
    val vecs = (0 until 24).map { i =>
      val lbl = i % 2
      val base =
        if (lbl == 0) Seq(1.0, 0.0, 0.05 * (i % 3), 0.0)
        else Seq(0.0, 1.0, 0.0, 0.05 * (i % 5))
      (i.toLong, base.map(_.toFloat), lbl)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val dv = vecs.map { case (id, v, l) => (id, v.map(_.toDouble), l) }
    val expect = dv.filter(_._1 < ops.Similarity.KnnProbes)
      .map { case (q, qv, tl) =>
        val top = dv.filter(_._1 != q)
          .map { case (id, v, l) => (id, l, cos4(qv, v)) }
          .sortBy { case (id, _, c) => (-c, id) }
          .take(ops.Similarity.KnnK)
        val (pl, n) = top.groupBy(_._2).view.mapValues(_.size).toSeq
          .sortBy { case (l, n) => (-n, l) }.head
        (q, tl, pl, n.toLong, if (tl == pl) 1 else 0)
      }.sortBy(_._1)
    val got = ops.Similarity.d111KnnLabels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got == expect)
    // the planted separation is clean: unanimous, correct votes
    assert(got.forall { case (_, _, _, n, a) =>
      n == ops.Similarity.KnnK && a == 1 })
  }

  // ------------------------------------------------------------- d112
  test("d112 rrf fusion matches an independent sparse+dense recomputation") {
    val dir = tmp()
    import spark.implicits._
    // docs mix the BM25 demo query terms at varying tf and lengths;
    // some docs carry no query term at all (absent from the sparse
    // list — the FULL-join branch)
    val words = Seq("column", "window", "scan", "alpha", "beta", "gamma")
    val docsRows = (0 until 12).map { i =>
      val toks = (0 to i % 5).map(j => words((i + j) % words.size)) ++
        Seq.fill(i % 4 + 1)("filler")
      val text = toks.mkString(" ")
      (i.toLong, text, "en", "s" + (i % 2), text.length.toLong)
    }
    docsRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // docs 8-11 have NO vector (the unembedded tail a real corpus
    // always has) — they can only enter the fusion through BM25
    val vecs = (0 until 8).map { i =>
      (i.toLong,
        Seq(math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * i, 1.0).map(_.toFloat),
        i % 2)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // independent sparse branch: plain-Scala BM25 (Robertson defaults)
    val toksOf = docsRows.map { case (id, text, _, _, _) =>
      id -> "\\S+".r.findAllIn(text.toLowerCase).toSeq }.toMap
    val n = toksOf.size
    val avgdl = toksOf.values.map(_.size).sum.toDouble / n
    val tf = for {
      (id, ts) <- toksOf.toSeq
      t <- ops.CorpusOps.Bm25Query
      c = ts.count(_ == t) if c > 0
    } yield (id, t, c, ts.size)
    val dfq = tf.groupBy(_._2).view.mapValues(_.size).toMap
    val sparse = tf.groupBy(_._1).view.mapValues { xs =>
      val s = xs.map { case (_, t, c, dl) =>
        math.log((n - dfq(t) + 0.5) / (dfq(t) + 0.5) + 1.0) * c * 2.2 /
          (c + (0.25 + dl / avgdl * 0.75) * 1.2)
      }.sum
      BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, _), r) => id -> (r + 1L) }.toMap
    // independent dense branch: cosine vs vec 0
    val dv = vecs.map { case (id, v, _) => id -> v.map(_.toDouble) }.toMap
    val dense = dv.toSeq.map { case (id, v) => id -> cos4(dv(0L), v) }
      .sortBy { case (id, c) => (-c, id) }.take(20)
      .zipWithIndex.map { case ((id, _), r) => id -> (r + 1L) }.toMap
    val expect = (sparse.keySet ++ dense.keySet).toSeq.map { id =>
      val rrf = sparse.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, sparse.getOrElse(id, 0L), dense.getOrElse(id, 0L))
    }.sortBy { case (id, rrf, _, _) => (-rrf, id) }.take(10)
    val got = ops.Similarity.d112RrfFusion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got.map(_._1) == expect.map(_._1))
    got.lazyZip(expect).foreach { case ((_, g, gs, gd), (_, e, es, ed)) =>
      assert(math.abs(g - e) < 1e-6 && gs == es && gd == ed)
    }
    // both branches contribute and the full join kept single-list docs
    assert(got.exists { case (_, _, s, d) => s == 0 || d == 0 })
    assert(got.exists { case (_, _, s, d) => s > 0 && d > 0 })
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // ------------------------------------------------------------- d113
  test("d113 entropy matches the closed form on planted distributions") {
    val dir = tmp()
    // source "uni": 8 equiprobable tokens -> H = ln 8;
    // source "skew": {a:7, b:1} -> H = ln 8 - (7 ln 7)/8
    writeDocs(dir, Seq(
      (1L, "t0 t1 t2 t3", "uni"), (2L, "t4 t5 t6 t7", "uni"),
      (3L, "a a a a a a a b", "skew")))
    val got = ops.CorpusOps.d113TokenEntropy(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got("uni") == ((8L, 8L, round4(math.log(8))))
      && got("skew") == ((8L, 2L,
        round4(math.log(8) - 7 * math.log(7) / 8))))
  }

  // ------------------------------------------------------------- d114
  test("d114 ks picks the top-2 sources and matches a hand ECDF walk") {
    val dir = tmp()
    // "big1" lengths 1..10, "big2" lengths 6..15 (shifted): the CDFs
    // separate maximally at value 5 (F1=0.5, F2=0) before big2 starts
    // catching up; a 2-doc "tiny" source must be EXCLUDED by the
    // top-2 pick
    val rows =
      (1 to 10).map(i => (i.toLong, "x" * i, "big1")) ++
        (1 to 10).map(i => (100L + i, "x" * (i + 5), "big2")) ++
        Seq((201L, "x" * 3, "tiny"), (202L, "x" * 30, "tiny"))
    writeDocs(dir, rows)
    // independent walk over pooled distinct values
    val a = (1 to 10).map(_.toLong); val b = (6 to 15).map(_.toLong)
    val pooled = (a ++ b).distinct.sorted
    val diffs = pooled.map { v =>
      v -> math.abs(a.count(_ <= v) / 10.0 - b.count(_ <= v) / 10.0)
    }
    val (atV, ks) = diffs.maxBy { case (v, d) => (d, -v) }
    val r = ops.CorpusOps.d114KsDrift(spark, dir).collect().head
    assert((r.getString(0), r.getString(1)) == (("big1", "big2")))
    assert((r.getLong(2), r.getLong(3)) == ((10L, 10L)))
    assert(r.getDouble(4) == round4(ks) && r.getLong(5) == atV)
    assert(ks == 0.5 && atV == 5L)
  }

  // ------------------------------------------------------------- d115
  test("d115 gini is 0 for equal mass and matches the sorted formula") {
    val dir = tmp()
    // "flat": 4 equal docs -> G = 0; "conc": lengths 1,1,1,37
    writeDocs(dir, Seq(
      (1L, "aaaa", "flat"), (2L, "bbbb", "flat"),
      (3L, "cccc", "flat"), (4L, "dddd", "flat"),
      (5L, "a", "conc"), (6L, "b", "conc"), (7L, "c", "conc"),
      (8L, "d" * 37, "conc")))
    def gini(xs: Seq[Long]): Double = {
      val s = xs.sorted; val n = s.size
      val si = s.zipWithIndex.map { case (x, i) => (i + 1.0) * x }.sum
      round4(2.0 * si / n / s.sum - (n + 1.0) / n)
    }
    val got = ops.CorpusOps.d115GiniSources(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got("flat") == ((4L, 16L, 0.0)))
    assert(got("conc") == ((4L, 40L, gini(Seq(1L, 1L, 1L, 37L)))))
    assert(got("conc")._3 > 0.6) // concentrated source reads high
  }

  // ------------------------------------------------------------- d116
  test("d116 feature hash matches JVM md5 hashing, incl. a cancelling collision") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    }
    // brute-force a pair of distinct terms in the SAME bucket with
    // OPPOSITE signs — their doc must emit an explicit val=0 row
    val pool = (0 until 2000).map(i => s"w$i")
    val byIdx = pool.groupBy(w => h60(w) % ops.CorpusOps.HashDim)
    val (cw1, cw2) = byIdx.values.flatMap { ws =>
      val (pos, neg) = ws.partition(w => ((h60(w) >> 6) & 1) == 1)
      if (pos.nonEmpty && neg.nonEmpty) Some((pos.head, neg.head)) else None
    }.head
    val dir = tmp()
    writeDocs(dir, Seq(
      (1L, s"$cw1 $cw2", "s"),           // collision: cancels to 0
      (2L, s"$cw1 $cw1 w5 w9", "s"),     // repeated term: |val| = 2
      (3L, "Hello WORLD hello", "s")))   // case-folded before hashing
    val expect = Seq(
      (1L, s"$cw1 $cw2"), (2L, s"$cw1 $cw1 w5 w9"),
      (3L, "hello world hello"))
      .flatMap { case (id, text) =>
        text.toLowerCase.split(" ").map { t =>
          (id, (h60(t) % ops.CorpusOps.HashDim).toInt,
            ((h60(t) >> 6) & 1) * 2 - 1)
        }
      }
      .groupBy { case (id, idx, _) => (id, idx) }
      .map { case ((id, idx), xs) => (id, idx, xs.map(_._3).sum) }
      .toSeq.sorted
    val got = ops.CorpusOps.d116FeatureHash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == expect)
    assert(got.exists { case (id, _, v) => id == 1L && v == 0L })
    assert(got.exists { case (id, _, v) => id == 2L && math.abs(v) == 2L })
  }

  // ------------------------------------------------------------- d117
  test("d117 chi2 ranks the planted class-locked terms first") {
    val dir = tmp()
    // 'alpha' appears ONLY in lang aa, 'beta' only in bb; 'common'
    // is uniform (chi2 = 0); all three clear the min-df bar
    val rows = (0 until 20).map { i =>
      (i.toLong, s"alpha common filler$i", "aa")
    } ++ (20 until 40).map { i =>
      (i.toLong, s"beta common filler$i", "bb")
    }
    import spark.implicits._
    rows.map { case (id, t, l) => (id, t, l, "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent chi2: a=20,b=0,c=0,d=20 for the locked terms
    def chi2(a: Long, b: Long, c: Long, d: Long): Double = {
      val (ad, bd, cd, dd) = (a.toDouble, b.toDouble, c.toDouble, d.toDouble)
      val n = ad + bd + cd + dd
      round4(n * (ad * dd - bd * cd) * (ad * dd - bd * cd) /
        ((ad + bd) * (ad + cd) * (bd + dd) * (cd + dd)))
    }
    val got = ops.CorpusOps.d117Chi2Terms(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // per-lang winner is the planted locked term with full-table chi2
    val byLang = got.groupBy(_._1)
    assert(byLang("aa").head == (("aa", "alpha", 20L, chi2(20, 0, 0, 20))))
    assert(byLang("bb").head == (("bb", "beta", 20L, chi2(20, 0, 0, 20))))
    // the uniform term scores 0 in both classes
    assert(got.filter(_._2 == "common").forall(_._4 == 0.0))
    // fillers are below min-df (df=1) and never appear
    assert(!got.exists(_._2.startsWith("filler")))
  }

  // ------------------------------------------------------------- d118
  test("d118 recovers a planted exact linear trend, NULLs a degenerate one") {
    val dir = tmp()
    import spark.implicits._
    // type 'lin': value = 2 + 3*hours exactly -> slope 3, r2 = 1;
    // type 'flat': constant value -> slope 0, r2 NULL (zero variance)
    val t0 = 1700000000000000L
    val events = (0 until 48).flatMap { h =>
      Seq((h.toLong * 2, t0 + h * 3600000000L, 1L, "lin", 2.0 + 3.0 * h, "{}"),
        (h.toLong * 2 + 1, t0 + h * 3600000000L, 2L, "flat", 7.0, "{}"))
    }
    events.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = ops.CorpusOps.d118ValueTrend(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val lin = got("lin")
    assert(lin.getLong(1) == 48)
    assert(math.abs(lin.getDouble(2) - 3.0) < 1e-6)
    assert(math.abs(lin.getDouble(3) - 2.0) < 1e-6)
    assert(math.abs(lin.getDouble(4) - 1.0) < 1e-6)
    val flat = got("flat")
    assert(math.abs(flat.getDouble(2)) < 1e-6) // zero slope
    assert(flat.isNullAt(4))                   // r2 undefined
  }

  // ------------------------------------------------------------- d119
  test("d119 k-anonymity counts planted cell sizes exactly") {
    val dir = tmp()
    // all texts < 100 chars -> one length bucket; cells are (lang,
    // source): 6-doc cell (safe), 2-doc cell (at risk), singleton
    val rows =
      (0 until 6).map(i => (i.toLong, s"doc $i", "aa")) ++
        Seq((10L, "x", "bb"), (11L, "y", "bb"), (20L, "z", "cc"))
    writeDocs(dir, rows)
    val r = ops.CorpusOps.d119KAnonymity(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 9L, 1L, 2L, 3L)))
    assert(r.getDouble(5) == round4(3.0 / 9.0))
  }

  // ------------------------------------------------------------- d120
  test("d120 heaps fit matches an independent JVM recomputation") {
    val dir = tmp()
    // per-doc: one unique word, one word shared by 5 docs, one by 3
    val rows = (0 until 40).map { i =>
      (i.toLong, s"u$i s${i % 5} t${i % 3}", "s0")
    }
    writeDocs(dir, rows)

    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val b = rows.map { case (id, _, _) =>
      id -> (h60(s"heaps:$id") % ops.CorpusOps.HeapsBuckets) }.toMap
    val toks = rows.map { case (id, t, _) => id -> t.split(" ").toSeq }.toMap
    val tser = toks.groupBy { case (id, _) => b(id) }
      .view.mapValues(_.map(_._2.size).sum.toLong).toMap
    val vser = toks.toSeq.flatMap { case (id, ts) => ts.map(_ -> b(id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min)
      .toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val buckets = (tser.keySet ++ vser.keySet).toSeq.sorted
    val pts = buckets.scanLeft((0L, 0L)) { case ((ct, cv), bk) =>
      (ct + tser.getOrElse(bk, 0L), cv + vser.getOrElse(bk, 0L))
    }.tail.filter { case (ct, cv) => ct > 0 && cv > 0 }
    val xs = pts.map(p => math.log(p._1.toDouble))
    val ys = pts.map(p => math.log(p._2.toDouble))
    val n = pts.size
    val mx = xs.sum / n; val my = ys.sum / n
    val cov = xs.lazyZip(ys).map((a, c) => (a - mx) * (c - my)).sum / n
    val vx = xs.map(a => (a - mx) * (a - mx)).sum / n
    val vy = ys.map(c => (c - my) * (c - my)).sum / n
    val beta = cov / vx
    val kCoef = math.exp(my - beta * mx)
    val r2 = cov * cov / (vx * vy)

    val r = ops.CorpusOps.d120HeapsGrowth(spark, dir).collect().head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - beta) < 1e-3, s"beta ${r.getDouble(1)} vs $beta")
    assert(math.abs(r.getDouble(2) - kCoef) < 1e-2)
    assert(math.abs(r.getDouble(3) - r2) < 1e-3)
    assert(r.getLong(4) == 120L && r.getLong(5) == 48L) // 40u + 5s + 3t
    // growth is sublinear: 0 < beta < 1 on a corpus with shared words
    assert(r.getDouble(1) > 0 && r.getDouble(1) < 1)
  }

  // ------------------------------------------------------------- d121
  test("d121 median/MAD and modified-z outliers match hand-computed values") {
    val dir = tmp()
    // source s: lengths {10,10,10,10,100} -> med 10, MAD 0 (constant
    // core), so ANY deviation flags: 1 outlier. source t: 1..11 plus a
    // 1000 -> med 6.5, MAD 3.0, cutoff 3.5/0.6745*3 = 15.57: only the
    // 1000 (ad 993.5) flags.
    val rows =
      (0 until 4).map(i => (i.toLong, "x" * 10, "s")) ++
        Seq((4L, "x" * 100, "s")) ++
        (1 to 11).map(i => (100L + i, "x" * i, "t")) ++
        Seq((200L, "x" * 1000, "t"))
    writeDocs(dir, rows.map { case (id, txt, src) => (id, txt, src) })
    val got = ops.CorpusOps.d121RobustOutliers(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))).toMap
    assert(got("s") == ((5L, 10.0, 0.0, 1L)))
    assert(got("t") == ((12L, 6.5, 3.0, 1L)))
  }

  // ------------------------------------------------------------- d122
  test("d122 dp noise matches the JVM inverse-CDF transform exactly") {
    val dir = tmp()
    val rows = (0 until 30).map { i =>
      (i.toLong, s"doc $i", s"src${i % 4}")
    }
    writeDocs(dir, rows)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val expect = rows.groupBy(_._3).map { case (src, docs) =>
      val u = h60(s"dp:en:$src").toDouble / 1.152921504606846976e18
      val lap = -(1.0 / ops.CorpusOps.DpEpsilon) * math.signum(u - 0.5) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
      (("en", src)) -> BigDecimal(docs.size + lap)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = ops.CorpusOps.d122DpRelease(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (k, e) =>
      assert(math.abs(got(k)._1 - e) < 1e-9, s"$k: ${got(k)._1} vs $e")
      assert(got(k)._2 == ops.CorpusOps.DpEpsilon)
    }
    // the release is actually noised (not the raw counts)
    assert(expect.exists { case ((_, src), v) =>
      v != rows.count(_._3 == src).toDouble })
  }

  // ------------------------------------------------------------- d123
  test("d123 session paths: gap split, truncation, and counts are exact") {
    val dir = tmp()
    import spark.implicits._
    val t0 = 1700000000000000L
    val m = 60000000L // one minute in micros
    def ev(id: Long, u: Long, off: Long, t: String) =
      (id, t0 + off, u, t, 1.0, "{}")
    val events =
      // user 1: a,b,c then a 31-min gap -> second session d,e
      Seq(ev(1, 1, 0, "a"), ev(2, 1, m, "b"), ev(3, 1, 2 * m, "c"),
        ev(4, 1, 33 * m, "d"), ev(5, 1, 34 * m, "e")) ++
        // user 2: a,b,c (same signature as user 1's first session)
        Seq(ev(11, 2, 0, "a"), ev(12, 2, m, "b"), ev(13, 2, 2 * m, "c")) ++
        // user 3: 7 events -> signature truncated to the first 5
        (0 until 7).map(i => ev(21 + i, 3, i * m, ('a' + i).toChar.toString))
    events.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = ops.CorpusOps.d123SessionPaths(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a>b>c", 2L), ("a>b>c>d>e", 1L), ("d>e", 1L)))
  }

  // ------------------------------------------------------------- d124
  test("d124 rfm features and quartile labels match hand-computed values") {
    val dir = tmp()
    import spark.implicits._
    val t0 = 1700000000000000L
    val h = 3600000000L
    val events = Seq(
      // user 1: 3 events, last AT log end -> recency 0, monetary 6
      (1L, t0, 1L, "a", 1.0, "{}"), (2L, t0 + h, 1L, "b", 2.0, "{}"),
      (3L, t0 + 10 * h, 1L, "a", 3.0, "{}"),
      // user 2: one event 2h before end
      (11L, t0 + 8 * h, 2L, "a", 5.0, "{}"),
      // user 3: two events
      (21L, t0, 3L, "a", 1.5, "{}"), (22L, t0 + 9 * h, 3L, "b", 2.5, "{}"))
    events.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = ops.CorpusOps.d124RfmFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getString(5))).toSeq
    // frequencies {3,1,2} -> q1=1.5, q2=2, q3=2.5 (quantile_cont)
    assert(got == Seq(
      (1L, 0.0, 3L, 6.0, 2L, "Q4"),
      (2L, 2.0, 1L, 5.0, 1L, "Q1"),
      (3L, 1.0, 2L, 4.0, 2L, "Q2")))
  }

  // ------------------------------------------------------------- d125
  test("d125 join profile is exact on planted keys, incl. unmatched sides") {
    val dir = tmp()
    import spark.implicits._
    // lineitem keys {1:2, 2:3, 4:1}; orders keys {1, 2, 3}
    val li = Seq((1L, 1), (1L, 2), (2L, 1), (2L, 2), (2L, 3), (4L, 1))
    li.map { case (ok, ln) =>
      (ok, 10L, 20L, ln, 1.0, 2.0, 0.1, 0.05, "N", "O",
        java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L).map { ok =>
      (ok, 1L, "O", 10.0,
        java.sql.Timestamp.valueOf("1995-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val r = ops.CorpusOps.d125JoinCardinality(spark, dir).collect().head
    // join rows: 2*1 + 3*1 = 5; expansion 5/6
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 3L, 2L, 6L, 3L, 5L)))
    assert(r.getDouble(6) == round4(5.0 / 6.0))
    // cross-check against the materialized join
    val actual = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(actual == r.getLong(5))
  }

  // ------------------------------------------------------------- q30
  test("q30 fan-out rewrite equals range-frame semantics across day gaps") {
    val dir = tmp()
    import spark.implicits._
    // order days 1,2,3 then a gap to day 10: the trailing 7-day frame
    // at day 10 must contain ONLY day 10 (present rows, not calendar)
    val days = Seq(("1995-01-01", 10.0), ("1995-01-02", 20.0),
      ("1995-01-03", 30.0), ("1995-01-10", 70.0))
    days.zipWithIndex.map { case ((d, v), i) =>
      (i.toLong, i.toLong, "O", v, java.sql.Timestamp.valueOf(d + " 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val got = Queries.q30MovingAvg(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("1995-01-01", 10.0, 1L, 10.0),
      ("1995-01-02", 20.0, 2L, 15.0),
      ("1995-01-03", 30.0, 3L, 20.0),
      ("1995-01-10", 70.0, 1L, 70.0))) // the gap resets the frame
  }

  // ------------------------------------------------------------- q51
  test("q51 per-key range frame: 89 days back is in, 90 is out, " +
      "same-day orders collapse, and the window partitions on the key") {
    val dir = tmp()
    import spark.implicits._
    // cust 1: 1995-01-01, 1995-03-31 (exactly 89 days later — the
    // INTERVAL 89 DAY frame's inclusive edge), 1995-04-01 (90 days
    // after day 1 — the first day that must evict it);
    // cust 2: two same-day orders — one daily row, summed cents.
    val rows = Seq(
      (1L, "1995-01-01", 10.0), (1L, "1995-03-31", 20.0),
      (1L, "1995-04-01", 40.0),
      (2L, "1995-01-01", 5.0), (2L, "1995-01-01", 7.5))
    rows.zipWithIndex.map { case ((c, d, v), i) =>
      (i.toLong, c, "O", v, java.sql.Timestamp.valueOf(d + " 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val df = Queries.q51KeyedRangeFrame(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "1995-01-01", 10.0, 10.0, 1L),
      (1L, "1995-03-31", 20.0, 30.0, 2L), // day-89 edge: both in frame
      (1L, "1995-04-01", 40.0, 60.0, 2L), // day 0 evicted, day 89 kept
      (2L, "1995-01-01", 12.5, 12.5, 1L)), s"got ${got.toSeq}")
    // the scale pin: the range frame runs per-KEY — a hash exchange on
    // o_custkey, never an unpartitioned global walk
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.initialPlan)
      case q => q +: (q.children.flatMap(walk) ++ q.subqueries.flatMap(walk))
    }
    val wins = walk(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty, "q51 must plan a real range-frame window")
    wins.foreach { w =>
      val refs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(refs == Set("o_custkey"),
        s"window must partition on the customer key, got $refs")
    }
  }

  // ------------------------------------------------------------- q52
  test("q52 qualify ties: rank keeps BOTH tied latest-day orders where " +
      "row_number would keep an arbitrary one; plan gets WindowGroupLimit") {
    val dir = tmp()
    import spark.implicits._
    // cust 1: two orders on the same max day (the tie) + an older one;
    // cust 2: unique max day
    val rows = Seq(
      (10L, 1L, "1995-03-01", 10.0), (11L, 1L, "1995-03-01", 20.0),
      (12L, 1L, "1995-01-01", 30.0),
      (20L, 2L, "1995-02-01", 40.0), (21L, 2L, "1995-01-15", 50.0))
    rows.map { case (ok, c, d, v) =>
      (ok, c, "O", v, java.sql.Timestamp.valueOf(d + " 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val df = Queries.q52QualifyTies(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "1995-03-01", 10L), (1L, "1995-03-01", 11L),
      (2L, "1995-02-01", 20L)), s"got ${got.toSeq}")
    // the divergence the query exists to pin: a row_number()=1
    // formulation keeps ONE of cust 1's tied orders — and WHICH one is
    // partition luck, not semantics
    val wrn = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("order_day").desc)
    val rnRows = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("order_day"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(wrn))
      .filter(col("rn") === 1)
      .collect()
    assert(rnRows.count(_.getLong(0) == 1L) == 1,
      "row_number()=1 keeps exactly one of the tied pair — the " +
        "divergence rank() exists to avoid")
    // scale pin: the rank filter compiles to a map-side per-key limit
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.initialPlan)
      case q => q +: (q.children.flatMap(walk) ++ q.subqueries.flatMap(walk))
    }
    assert(walk(df.queryExecution.executedPlan).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      "rank()=1 filter must compile to WindowGroupLimit")
  }

  /** JVM twin of [[TextOps.hash60]] (first 15 md5 hex chars as long). */
  private def jvmHash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  // ------------------------------------------------------------- d128
  test("d128 salted join equals the plain join on a planted hot key") {
    val dir = tmp()
    import spark.implicits._
    // customer 7 holds 60% of orders — the key the salt must spread
    val orders = (0 until 200).map { i =>
      val cust = if (i < 120) 7L else (i % 10).toLong
      (i.toLong, cust, (i % 13) * 10.0 + 5.0)
    }
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (0L to 9L).map(c => (c, (c % 3).toInt))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // independent sequential join + rollup
    val nationOf = (0L to 9L).map(c => c -> (c % 3).toInt).toMap
    val want = orders.groupBy(o => nationOf(o._2)).map { case (n, os) =>
      (n, os.size.toLong,
        BigDecimal(os.map(_._3).sum).setScale(2,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = ops.CorpusOps.d128SaltedJoin(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  // ------------------------------------------------------------- d129
  test("d129 flags by threshold and breaks argmax ties to the lowest eval id") {
    val dir = tmp()
    import spark.implicits._
    // eval 0 and 1 are the SAME direction (tie at cosine 1.0 for any
    // corpus vector along it); eval 2 is orthogonal. Corpus: vec 40
    // along the shared eval direction (ties 0 and 1 — must report 0),
    // vec 41 orthogonal to evals 0/1 but aligned with 2, vec 42 at
    // ~45 degrees (cos ~0.707), vec 43 far from everything (cos 0 —
    // must NOT be flagged).
    val rows = Seq(
      (0L, "e", Seq(1.0f, 0.0f, 0.0f)),
      (1L, "e", Seq(2.0f, 0.0f, 0.0f)),
      (2L, "e", Seq(0.0f, 1.0f, 0.0f)),
      (40L, "c", Seq(3.0f, 0.0f, 0.0f)),
      (41L, "c", Seq(0.0f, 5.0f, 0.0f)),
      (42L, "c", Seq(1.0f, 1.0f, 0.0f)),
      (43L, "c", Seq(0.0f, 0.0f, 2.0f)))
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ops.Similarity.d129SemanticDecontam(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (40L, 0L, 1.0),          // tie between eval 0 and 1 → lowest id
      (41L, 2L, 1.0),
      (42L, 0L, round4(1.0 / math.sqrt(2.0)))))
  }

  // ------------------------------------------------------------- d130
  test("d130 linear-probe score matches a JVM recomputation") {
    val dir = tmp()
    writeDocs(dir, Seq(
      (1L, "alpha beta alpha gamma", "s"),
      (2L, "one-token", "s")))
    def score(text: String): (Long, Double) = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val feats = toks.groupBy { t =>
        val h = jvmHash60(t)
        (h % 64, if (((h >> 6) & 1L) == 1L) 1L else -1L)
      }
      // signed sum per idx, then dot with w(idx)
      val byIdx = feats.toSeq.groupBy(_._1._1).map { case (idx, gs) =>
        idx -> gs.map { case ((_, sgn), ts) => sgn * ts.length }.sum
      }
      val dot = byIdx.map { case (idx, v) =>
        v * (((idx * 37) % 101) - 50) / 100.0
      }.sum
      val z = dot / toks.length
      (toks.length.toLong,
        BigDecimal(1.0 / (1.0 + math.exp(-z))).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = ops.CorpusOps.d130LinearProbe(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == score("alpha beta alpha gamma"))
    assert(got(2L) == score("one-token"))
  }

  // ------------------------------------------------------------- d131
  test("d131 kappa matches the closed form on planted cells") {
    val dir = tmp()
    // a=1 iff >=250 chars, b=1 iff >=40 tokens. Plant the four cells:
    // both-high x3, both-low x4, a-only x2 (long text, few tokens:
    // one 300-char token), b-only x1 (49 short tokens, <250 chars).
    val bothHigh = "tok " * 100           // 400 chars, 100 tokens
    val bothLow = "short text"
    val aOnly = "x" * 300                 // 300 chars, 1 token
    val bOnly = Array.fill(49)("ab").mkString(" ") // 146 chars, 49 toks
    val rows = (0 until 3).map(i => (i.toLong, bothHigh, "s")) ++
      (10 until 14).map(i => (i.toLong, bothLow, "s")) ++
      (20 until 22).map(i => (i.toLong, aOnly, "s")) ++
      Seq((30L, bOnly, "s"))
    writeDocs(dir, rows)
    val r = ops.CorpusOps.d131CohensKappa(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((10L, 3L, 4L, 2L, 1L)))
    val po = round4(7.0 / 10.0)
    val pe = round4((5.0 * 4.0 + 5.0 * 6.0) / 100.0)
    assert(r.getDouble(5) == po && r.getDouble(6) == pe)
    assert(r.getDouble(7) == round4((po - pe) / (1.0 - pe)))
  }

  // ------------------------------------------------------------- d132
  test("d132 fractional pass follows the seeded hash order exactly") {
    val dir = tmp()
    // one source, 4 docs of 10 tokens each (n_tokens 40). Budget
    // 14/5 of 40 = 112; single source → cap 120 binds? is_full:
    // cap(120)*1 <= 112 → false → tau = 112 → alloc 112 =
    // 2 full epochs + 32 fractional tokens → hash-first 4 docs? No:
    // 32 tokens = first 3 docs (30 < 32 start of 4th doc is 30 < 32
    // → 4th doc also selected) → frac docs = 4? Compute exactly below.
    val docs4 = (0 until 4).map(i =>
      (i.toLong, (0 until 10).map(j => s"t$i$j").mkString(" "), "src"))
    writeDocs(dir, docs4)
    val r = ops.TextOps.d132EpochPlan(spark, dir).collect().head
    assert(r.getAs[Long]("n_tokens") == 40L)
    assert(r.getAs[Long]("alloc_tokens") == 112L)
    assert(r.getAs[Long]("n_full_epochs") == 2L)
    assert(r.getAs[Long]("frac_target") == 32L)
    // independent: hash order of the 4 docs, greedy fill to 32
    val order = docs4.map(_._1).sortBy(id => (jvmHash60(s"src:$id"), id))
    var run = 0L; var picked = 0L
    order.foreach { _ => if (run < 32L) { picked += 1 }; run += 10L }
    assert(r.getAs[Long]("n_frac_docs") == picked)
    assert(r.getAs[Long]("frac_real") == picked * 10L)
    assert(r.getAs[Long]("realized_tokens") == 2L * 40L + picked * 10L)
  }

  // ------------------------------------------------------------- d140
  test("d140 reservoir picks exactly the independent hash-ranked top-K " +
      "per source, honoring the double-rounded sort key") {
    val dir = tmp()
    // "big" exceeds the cap (8 docs -> keep 5); "small" fits (3 docs)
    val rows = (0 until 8).map(i => (10L + i, s"b$i", "big")) ++
      (0 until 3).map(i => (50L + i, s"s$i", "small"))
    writeDocs(dir, rows)
    // independent model: md5-derived 60-bit hash of the id string,
    // DOUBLE-rounded exactly as the op's sort key, desc, tie id asc
    def key(id: Long) = (-jvmHash60(id.toString).toDouble, id)
    val expect = rows.groupBy(_._3).flatMap { case (src, rs) =>
      rs.map(_._1).sortBy(key).take(CorpusOps.ReservoirK)
        .zipWithIndex.map { case (id, rk) => (src, rk, id) }
    }.toSet
    val got = CorpusOps.d140ReservoirPerKey(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expect, s"got $got want $expect")
    assert(got.count(_._1 == "big") == CorpusOps.ReservoirK)
    assert(got.count(_._1 == "small") == 3)
  }

  // ------------------------------------------------------------- d141
  test("d141 changelog apply: update wins over base, delete wins over " +
      "update, version order decides the 7*11 overlap") {
    val dir = tmp()
    import spark.implicits._
    // keys: plain (5), update-only (7, 14), delete-only (11, 22),
    // update+delete overlap (77 — the later delete must erase it)
    val orders = Seq(
      (5L, 100.25), (7L, 200.50), (14L, 300.75),
      (11L, 400.00), (22L, 500.00), (77L, 600.00))
    orders.toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = CorpusOps.d141ChangelogApply(spark, dir).collect().head
    // survivors: 5 (base), 7 and 14 (repriced +10); 11/22/77 deleted
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Double]("total_price") ==
      math.rint((100.25 + 210.50 + 310.75) * 100) / 100)
    assert(r.getAs[Long]("xor_keys") == (5L ^ 7L ^ 14L))
  }

  // ------------------------------------------------------------- d142
  test("d142 interval join: hand-walked census, open intervals, and " +
      "multi-bucket expansion") {
    val dir = tmp()
    import spark.implicits._
    val H = 3600L * 1000000
    def us(h: Long, m: Long): Long =
      1704067200L * 1000000 + h * H + m * 60 * 1000000 // 2024-01-01 UTC
    // u1: a [00:10, 03:05) b [03:05, 05:30) a [05:30, open)
    // u2: b [02:40, 13:45) c [13:45, open) — spans three 6 h buckets
    val ev = Seq(
      (1L, 1L, "a", us(0, 10)), (2L, 1L, "a", us(1, 20)),
      (3L, 1L, "b", us(3, 5)), (4L, 1L, "a", us(5, 30)),
      (5L, 2L, "b", us(2, 40)), (6L, 2L, "c", us(13, 45)))
    ev.toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d142IntervalJoin(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("snap").getTime / 1000,
        r.getAs[String]("event_type"), r.getAs[Long]("n_users"))).toSet
    def sec(h: Long) = us(h, 0) / 1000000
    val expect: Set[(Long, String, Long)] =
      Set((sec(1), "a", 1L), (sec(2), "a", 1L),
        (sec(3), "a", 1L), (sec(3), "b", 1L),
        (sec(4), "b", 2L), (sec(5), "b", 2L)) ++
        (6L to 13L).flatMap(h =>
          Seq((sec(h), "a", 1L), (sec(h), "b", 1L))).toSet
    assert(got == expect,
      s"missing ${expect -- got}; extra ${got -- expect}")
  }

  // ------------------------------------------------------------- d144
  test("d144 sliding distinct: 7-day windows, multi-day users counted " +
      "once, zero-dau days kept, targets capped at the log end") {
    val dir = tmp()
    import spark.implicits._
    val D = 86400L * 1000000
    val t0 = 1704067200L * 1000000 // 2024-01-01 UTC
    // u1 on days 0 and 2; u2 on day 0; u3 on day 9
    val ev = Seq((1L, 1L, 0L), (2L, 1L, 2L), (3L, 2L, 0L), (4L, 3L, 9L))
    ev.toDF("event_id", "user_id", "day")
      .select(col("event_id"), col("user_id"), lit("view").as("event_type"),
        timestamp_micros(lit(t0) + col("day") * D + lit(3700L * 1000000))
          .as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d144SlidingDistinct(spark, dir).collect()
      .map(r => ((r.getAs[java.sql.Timestamp]("day").getTime * 1000 - t0) / D,
        r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toList
    val expect = List(
      (0L, 2L, 2L), (1L, 0L, 2L), (2L, 1L, 2L), (3L, 0L, 2L),
      (4L, 0L, 2L), (5L, 0L, 2L), (6L, 0L, 2L),
      (7L, 0L, 1L), (8L, 0L, 1L), (9L, 1L, 1L))
    assert(got == expect, s"got $got want $expect")
  }

  // ------------------------------------------------------------- d143
  test("d143 bitext margins match an independent brute-force JVM " +
      "recomputation on planted near-duplicate pairs") {
    val dir = tmp()
    import spark.implicits._
    // all-positive first 8 dims — one shared sign bucket, so the LSH
    // candidate set IS the full cross product and brute force is exact
    def base(hot: Int): Array[Float] =
      (0 until 8).map(i => if (i == hot) 9f else 1f).toArray
    def pert(hot: Int): Array[Float] =
      (0 until 8).map(i => if (i == hot) 8f else 1f).toArray
    val rows = Seq(
      (0L, base(0), 0), (2L, base(1), 0), (4L, base(2), 0), (6L, base(3), 0),
      (1L, pert(0), 1), (3L, pert(1), 1), (5L, pert(2), 1), (7L, pert(3), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // independent margin recomputation (same e4-integer scheme)
    def cosE4(a: Array[Float], b: Array[Float]): Long = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      math.round(dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum)) * 10000)
    }
    val aSide = rows.filter(_._1 % 2 == 0); val bSide = rows.filter(_._1 % 2 == 1)
    val c = (for (a <- aSide; b <- bSide)
      yield ((a._1, b._1), cosE4(a._2, b._2))).toMap
    def topSum(cands: Seq[Long]): (Long, Long) = {
      val top = cands.sorted(Ordering[Long].reverse).take(4)
      (top.sum, top.size.toLong)
    }
    val expected = aSide.map { a =>
      val (sa, na) = topSum(bSide.map(b => c((a._1, b._1))))
      val best = bSide.maxBy { b =>
        val (sb, nb) = topSum(aSide.map(x => c((x._1, b._1))))
        2.0 * c((a._1, b._1)) * na * nb / (sa * nb + sb * na)
      }
      val (sb, nb) = topSum(aSide.map(x => c((x._1, best._1))))
      (a._1, best._1,
        math.floor(20000.0 * c((a._1, best._1)) * na * nb /
          (sa * nb + sb * na)).toLong)
    }.toSet
    val got = graft.ops.Similarity.d143BitextMining(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("margin_e4"))).toSet
    assert(got == expected, s"got $got want $expected")
    // the planted pairing is the parity twin (0-1, 2-3, 4-5, 6-7)
    assert(got.map(t => (t._1, t._2)) ==
      Set((0L, 1L), (2L, 3L), (4L, 5L), (6L, 7L)))
    assert(got.forall(_._3 > 10000L), "mutual-best margins must clear 1.0")
  }

  // ------------------------------------------------------------- d147
  test("d147 kmv sketch matches an independent JVM bottom-k recomputation " +
      "in both the above-K and small-set regimes") {
    val dir = tmp()
    import spark.implicits._
    // P: texts 0..199, Q: 100..299 (inter 100, union 300, J = 1/3) —
    // both above K=64, so the sketch genuinely estimates; R: 10 texts
    // shared with P's head (small sets: sketch holds all, est exact)
    val docs =
      (0 until 200).map(i => (s"t$i", "P")) ++
        (100 until 300).map(i => (s"t$i", "Q")) ++
        (0 until 10).map(i => (s"t$i", "R"))
    docs.zipWithIndex.map { case ((t, s), id) => (id.toLong, t, s) }
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent hash60 (first 15 hex chars of md5) + bottom-k
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def sketch(texts: Seq[String]): Seq[Long] =
      texts.map(h60).distinct.sorted.take(CorpusOps.KmvK)
    def expect(xs: Seq[String], ys: Seq[String]): (Long, Long) = {
      val (sx, sy) = (sketch(xs), sketch(ys))
      val uk = (sx ++ sy).distinct.sorted.take(CorpusOps.KmvK)
      (uk.count(v => sx.contains(v) && sy.contains(v)).toLong,
        uk.size.toLong)
    }
    val pTexts = (0 until 200).map(i => s"t$i")
    val qTexts = (100 until 300).map(i => s"t$i")
    val rTexts = (0 until 10).map(i => s"t$i")
    val rows = CorpusOps.d147KmvOverlap(spark, dir).collect()
      .map(r => ((r.getAs[String]("src_a"), r.getAs[String]("src_b")), r))
      .toMap
    val pq = rows(("P", "Q"))
    assert(pq.getAs[Long]("inter_exact") == 100L)
    assert(pq.getAs[Long]("jaccard_exact_e4") == 3333L) // floor(1e4/3)
    val (pqShared, pqK) = expect(pTexts, qTexts)
    assert(pqK == CorpusOps.KmvK.toLong)
    assert(pq.getAs[Long]("sk_shared") == pqShared,
      s"sketch shared ${pq.getAs[Long]("sk_shared")} != JVM $pqShared")
    val pr = rows(("P", "R"))
    val (prShared, prK) = expect(pTexts, rTexts)
    assert(pr.getAs[Long]("jaccard_exact_e4") == 500L) // 10/200
    assert((pr.getAs[Long]("sk_shared"), pr.getAs[Long]("sk_k")) ==
      ((prShared, prK)),
      s"(P,R) sketch (${pr.getAs[Long]("sk_shared")}, " +
        s"${pr.getAs[Long]("sk_k")}) != JVM ($prShared, $prK)")
  }

  // ------------------------------------------------------------- d148
  test("d148 merged scan equals a direct recomputation and nulls the " +
      "pre-evolution column") {
    val dir = "/root/testdata/sf0.001"
    val got = CorpusOps.d148SchemaEvolution(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Double]("total"))).toList
    val expect = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(when(col("o_orderkey") % 2 === 1, upper(col("o_orderpriority")))
        .otherwise(lit("(pre-v2)")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("priority").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Double]("total"))).toList
    assert(got == expect, s"got $got want $expect")
    assert(got.exists(_._1 == "(pre-v2)"), "v1 rows must survive the merge")
  }

  // ------------------------------------------------------------- d149
  test("d149 decay score matches hand-computed half-life weights") {
    val dir = tmp()
    import spark.implicits._
    val t1 = 1704067200L * 1000000
    val H = 3600L * 1000000
    // u1: value 3 at the anchor + value 2 one half-life back -> 3 + 1;
    // u2: value 8 two half-lives back -> 2
    val ev = Seq(
      (1L, 1L, t1, 3.0), (2L, 1L, t1 - 24 * H, 2.0),
      (3L, 2L, t1 - 48 * H, 8.0))
    ev.toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d149DecayScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got == List((1L, 2L, 4.0), (2L, 1L, 2.0)), s"got $got")
  }

  // ------------------------------------------------------------- d150
  test("d150 mrr/ndcg match an independent JVM bm25+grading recomputation " +
      "including unranked-but-relevant mass in the ideal") {
    val dir = tmp()
    import spark.implicits._
    // queries: 0 (source A, both terms), 1 (source B, one term);
    // corpus: 10 matches both terms (A), 11 is a short high-tf-ratio
    // alpha doc (B), 12 is relevant-to-A but shares NO term — it can
    // never rank, but must still count in the ideal (n_rel)
    val docs = Seq(
      (0L, "alpha beta", "A"), (1L, "alpha", "B"),
      (10L, "alpha beta", "A"), (11L, "alpha", "B"), (12L, "gamma", "A"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent JVM BM25 (same +1 idf form) + grading
    val corpus = docs.filter(_._1 >= 8)
    val n = corpus.size.toDouble
    val avgdl = corpus.map(_._2.split("\\s+").length).sum / n
    def bm25(qTerms: Seq[String], text: String): Double = {
      val toks = text.split("\\s+").toSeq
      val raw = qTerms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = corpus.count(_._2.split("\\s+").contains(t)).toDouble
          math.log((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + (0.25 + toks.length / avgdl * 0.75) * 1.2)
        }
      }.sum
      BigDecimal.valueOf(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def r4(x: Double) =
      BigDecimal.valueOf(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val expect = docs.filter(_._1 < 8).map { case (qid, qText, qSrc) =>
      val qTerms = qText.split("\\s+").toSeq.distinct
      val page = corpus.map(d => (d._1, d._3, bm25(qTerms, d._2)))
        .filter(_._3 != 0.0)
        .sortBy(d => (-d._3, d._1)).take(10)
      val nRel = corpus.count(_._3 == qSrc).toLong
      val firstRel = page.zipWithIndex
        .collectFirst { case ((_, s, _), i) if s == qSrc => i + 1L }
      val dcg = page.zipWithIndex.collect {
        case ((_, s, _), i) if s == qSrc => 1.0 / log2(i + 2.0) }.sum
      val idcg = (1L to math.min(nRel, 10L)).map(i => 1.0 / log2(i + 1.0)).sum
      (qid, nRel, firstRel,
        r4(firstRel.map(1.0 / _).getOrElse(0.0)),
        if (nRel > 0) Some(r4(dcg / idcg)) else None)
    }.toList
    val got = CorpusOps.d150NdcgEval(spark, dir).collect().map { r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("n_rel"),
        Option(r.getAs[java.lang.Long]("first_rel_rank")).map(_.toLong),
        r.getAs[Double]("rr"),
        Option(r.getAs[java.lang.Double]("ndcg")).map(_.toDouble))
    }.toList
    assert(got == expect, s"got $got want $expect")
    // the engineered edge: doc 12 inflates query 0's ideal (n_rel=2)
    // without ever appearing on the page, so ndcg < 1 despite a
    // perfect page-1 hit
    assert(got.head._2 == 2L && got.head._5.exists(_ < 1.0))
  }

  // ------------------------------------------------------------- d151
  test("d151 temporal split: hour-floored 70% cut, 24h embargo band, " +
      "in-op leakage pin") {
    val dir = tmp()
    import spark.implicits._
    val H = 3600L * 1000000
    val t0 = 1704067200L * 1000000
    val ev = (0 to 100).map(h => (h.toLong, (h % 5).toLong, t0 + h * H))
    ev.toDF("event_id", "user_id", "us")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d151TemporalSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"),
        (r.getAs[Long]("min_us") - t0) / H,
        (r.getAs[Long]("max_us") - t0) / H)).toList
    // span 100 h -> cut at hour 70; embargo [70, 94); test >= 94
    assert(got == List(
      ("1_train", 70L, 0L, 69L),
      ("2_embargo", 24L, 70L, 93L),
      ("3_test", 7L, 94L, 100L)), s"got $got")
  }

  // ------------------------------------------------------------- d153
  test("d153 asof join: inclusive boundary, pre-history null, " +
      "userless-probe null, same-us build dedup") {
    val dir = tmp()
    import spark.implicits._
    // user 1: purchases at us 10 (100.0), 20 (two rows, 150/200 -> max
    // 200); clicks at 5 (pre-history), 15, 20 (tie with the purchase);
    // user 2: click at 30 with no purchases; plus a 'view' decoy
    val ev = Seq(
      (100L, 1L, "purchase", 10L, 100.0), (101L, 1L, "purchase", 20L, 150.0),
      (102L, 1L, "purchase", 20L, 200.0),
      (1L, 1L, "click", 5L, 0.0), (2L, 1L, "click", 15L, 0.0),
      (3L, 1L, "click", 20L, 0.0), (4L, 2L, "click", 30L, 0.0),
      (200L, 1L, "view", 12L, 9.0))
    ev.toDF("event_id", "user_id", "event_type", "us", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d153AsofJoin(spark, dir).collect().map(r =>
      (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("last_purchase_value"))
          .map(_.toDouble),
        Option(r.getAs[java.lang.Long]("staleness_us")).map(_.toLong)))
      .toList
    assert(got == List(
      (1L, None, None),            // click before any purchase
      (2L, Some(100.0), Some(5L)), // latest strictly-before purchase
      (3L, Some(200.0), Some(0L)), // same-us purchase visible; max of dup
      (4L, None, None)),           // user with no purchases
      s"got $got")
  }

  // ------------------------------------------------------------- d154
  test("d154 quantile audit: exact interpolated percentiles match a " +
      "hand computation; all-ties group passes the rank-interval check") {
    val dir = tmp()
    import spark.implicits._
    // group a: values 1..100 -> p50=50.5, p90=90.1, p99=99.01
    // group b: 50 identical values (rank interval [1,50] must absorb
    // the sketch answer at every p)
    val ev = (1 to 100).map(i => (i.toLong, 1L, "a", i.toDouble)) ++
      (1 to 50).map(i => (200L + i, 2L, "b", 7.0))
    ev.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200L * 1000000) +
        col("event_id")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d154QuantileAudit(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("p50"), r.getAs[Double]("p90"),
        r.getAs[Double]("p99"), r.getAs[Boolean]("gk_within_bound")))
      .toList
    assert(got == List(
      ("a", 100L, 50.5, 90.1, 99.01, true),
      ("b", 50L, 7.0, 7.0, 7.0, true)), s"got $got")
  }

  // ------------------------------------------------------------- d155
  test("d155 prefix ssjoin: boundary pair at exactly tau (on the " +
      "length-filter edge too), near-miss excluded, short-doc " +
      "exact-dup pair; pairs match the hand-computed all-pairs answer") {
    val dir = tmp()
    import spark.implicits._
    // 12 words -> 10 3-gram shingles; 11 words -> 9, all shared when
    // the text is a prefix: J = 9/10 exactly (and 10*9 = 9*10 is the
    // length-filter boundary). Changing the LAST word of the 11-word
    // doc kills its last 3 shingles vs doc 0 -> J = 7/12, excluded.
    val w12 = (1 to 12).map(i => s"w$i").mkString(" ")
    val w11 = (1 to 11).map(i => s"w$i").mkString(" ")
    val w11x = (1 to 10).map(i => s"w$i").mkString(" ") + " zz"
    val docs = Seq(
      (0L, w12, "A"), (1L, w11, "A"), (2L, w11x, "A"),
      (3L, "alpha beta", "B"), (4L, "alpha beta", "B"), // <3 tokens:
      (5L, "zzz qqq", "B"))  // whole-text fallback shingle, J = 1 dups
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // truth: (0,1) i=9 u=10 -> 90; (1,2) i=8 u=10 -> 80 out;
    // (0,2) i=8 u=11 out; (3,4) J=1 -> 100; doc 5 pairs with nothing
    val got = CorpusOps.d155PrefixSsjoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
        r.getAs[Long]("j_pct"))).toList
    assert(got == List((0L, 1L, 90L), (3L, 4L, 100L)), s"got $got")
  }

  // ------------------------------------------------------------- d156
  test("d156 dpp scan: only dim-kept partitions survive, aggregates " +
      "match a hand recompute, the in-op pin held (op returned)") {
    val dir = tmp()
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 10.0), (2L, "click", 4.0), (3L, "error", 7.0),
      (4L, "view", 100.0), (5L, "purchase", 50.0), (6L, "signup", 3.0))
    ev.toDF("event_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200L * 1000000) +
        col("event_id")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d156DppScan(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"), r.getAs[Double]("min_value")))
      .toList
    assert(got == List(
      ("click", 2L, 14.0, 4.0), ("error", 1L, 7.0, 7.0)), s"got $got")
  }

  // ------------------------------------------------------------- d157
  test("d157 weighted quantiles: token mass diverges from count " +
      "quantiles on a length-skewed source; uniform weights reduce to " +
      "type-1 count quantiles") {
    val dir = tmp()
    import spark.implicits._
    // source A: two tiny docs (2 tokens each) + one giant doc holding
    // 16 of 20 tokens -> both wp50 and wp90 sit at the giant's length
    // (the count median would be 20); source B: uniform weights, so
    // wp50 is the smallest length with cum >= 50% (type-1 semantics)
    val docs = Seq(
      (0L, "a b", "A", 10L), (1L, "a b", "A", 20L),
      (2L, (1 to 16).map(i => s"t$i").mkString(" "), "A", 100L),
      (10L, "x", "B", 1L), (11L, "x", "B", 2L),
      (12L, "x", "B", 3L), (13L, "x", "B", 4L))
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d157WeightedQuantiles(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("w_total"),
        r.getAs[Long]("wp50_chars"), r.getAs[Long]("wp90_chars"))).toList
    // A: cum 2,4,20 of W=20 -> p50 crosses at 100 (cw 20 >= 10),
    //    p90 at 100; B: W=4, p50 at len 2 (cw 2 >= 2), p90 at len 4
    assert(got == List(("A", 20L, 100L, 100L), ("B", 4L, 2L, 4L)),
      s"got $got")
  }

  // ------------------------------------------------------------- d158
  test("d158 bloom join: answer matches the plain join on planted " +
      "tables; in-op might_contain pin held (op returned)") {
    val dir = tmp()
    import spark.implicits._
    Seq((1L, "1-URGENT"), (2L, "5-LOW"), (3L, "1-URGENT"))
      .toDF("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 10.0, "A"), (1L, 5.0, "R"), (2L, 99.0, "A"), (3L, 2.5, "A"))
      .toDF("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = CorpusOps.d158BloomJoin(spark, dir).collect().map(r =>
      (r.getAs[String]("l_returnflag"), r.getAs[Long]("n_rows"),
        r.getAs[Double]("sum_qty"))).toList
    // urgent orders 1,3 -> lines (1,10 A)(1,5 R)(3,2.5 A)
    assert(got == List(("A", 2L, 12.5), ("R", 1L, 5.0)), s"got $got")
  }

  // ------------------------------------------------------------- d159
  test("d159 stream-static enrichment: streamed clicks carry the batch " +
      "ltv; never-purchased users drop on the inner join") {
    val dir = tmp()
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "click", 0.0), (2L, 2L, "click", 0.0),
      (3L, 1L, "click", 0.0),
      (10L, 1L, "purchase", 5.0), (11L, 1L, "purchase", 2.5),
      (12L, 3L, "purchase", 9.0), (20L, 1L, "view", 1.0))
    // the file-stream source lists FILES, not directory-shaped tables:
    // plant events.parquet as a bare file (the testdata layout)
    ev.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200L * 1000000) +
        col("event_id")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ev_tmp")
    val part = new java.io.File(s"$dir/ev_tmp").listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val got = graft.streaming.StreamGates.d159StreamStatic(spark, dir)
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[Long]("user_id"), r.getAs[Double]("ltv"))).toList
    // user 1 ltv 7.5; user 2 never purchased -> its click drops
    assert(got == List((1L, 1L, 7.5), (3L, 1L, 7.5)), s"got $got")
  }

  // ------------------------------------------------------------- d160
  test("d160 apportionment: floor quotas + largest remainders hit the " +
      "budget exactly; remainder ranking by (rem desc, source)") {
    val dir = tmp()
    import spark.implicits._
    // token masses 1,2,4 of W=7: alloc0 = 142,285,571 (sum 998),
    // remainders 6,5,3 -> the 2 leftover slots go to A and B
    val docs = Seq(
      (0L, "x", "A"), (1L, "x y", "B"), (2L, "x y z w", "C"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d160Apportion(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("w_tokens"),
        r.getAs[Long]("alloc"))).toList
    assert(got == List(("A", 1L, 143L), ("B", 2L, 286L), ("C", 4L, 571L)),
      s"got $got")
    assert(got.map(_._3).sum == 1000L)
  }

  // ------------------------------------------------------------- d161
  test("d161 benford digits: cent-exact first digits bucketed right; " +
      "chi2 matches an independent JVM recompute") {
    val dir = tmp()
    import spark.implicits._
    val vals = Seq(1.00, 0.25, 3.00, 0.01, 0.19, 123.45) // fd 1,2,3,1,1,1
    val ev = vals.zipWithIndex.map { case (v, i) => (i.toLong, "a", v) }
    ev.toDF("event_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(1704067200L * 1000000) +
        col("event_id")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d161BenfordDigits(spark, dir).collect().head
    val hist = (1 to 9).map(k => r.getAs[Long](s"d$k"))
    assert(r.getAs[Long]("n_values") == 6L)
    assert(hist == Seq(4L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L), s"got $hist")
    val exp = (1 to 9).map { k =>
      val p = CorpusOps.BenfordP(k - 1); val e = 6.0 * p
      val o = hist(k - 1).toDouble
      (o - e) * (o - e) / e
    }.sum
    val want = BigDecimal.valueOf(exp)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("chi2") == want,
      s"chi2 ${r.getAs[Double]("chi2")} want $want")
  }

  // ------------------------------------------------------------- d162
  test("d162 coverage gaps: planted missing buckets collapse to runs; " +
      "fully-covered type emits nothing") {
    val dir = tmp()
    import spark.implicits._
    val G = 15L * 60 * 1000000
    val t0 = 1704067200L * 1000000 // grain-aligned
    // type a present in buckets 0,1,4,5,8 -> gaps [2,3] and [6,7];
    // type b present in every bucket 0..8 -> no gaps (and b pins the
    // global bounds so a's trailing bucket 8 is not an edge case)
    val ev = (Seq(0, 1, 4, 5, 8).map(b => ("a", b)) ++
      (0 to 8).map(b => ("b", b))).zipWithIndex.map {
      case ((ty, b), i) => (i.toLong, ty, t0 + b * G + 1000000L)
    }
    ev.toDF("event_id", "event_type", "us")
      .select(col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d162CoverageGaps(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"),
        (r.getAs[Long]("gap_start_us") - t0) / G,
        (r.getAs[Long]("gap_end_us") - t0) / G,
        r.getAs[Long]("n_buckets"))).toList
    assert(got == List(("a", 2L, 3L, 2L), ("a", 6L, 7L, 2L)), s"got $got")
  }

  // ------------------------------------------------------------- d163
  test("d163 quartile bins: ntile sizes differ by at most one and " +
      "realized boundaries match a hand computation") {
    val dir = tmp()
    import spark.implicits._
    // 6 docs, lengths 1..6 -> ntile(4) = sizes 2,2,1,1
    val docs = (1 to 6).map(i => (i.toLong, s"doc $i", "A", i.toLong))
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d163QuartileBins(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("q"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("lo_chars"),
        r.getAs[Long]("hi_chars"))).toList
    assert(got == List(
      ("A", 1L, 2L, 1L, 2L), ("A", 2L, 2L, 3L, 4L),
      ("A", 3L, 1L, 5L, 5L), ("A", 4L, 1L, 6L, 6L)), s"got $got")
  }

  // ------------------------------------------------------------- d164
  test("d164 psi drift: shifted bins score high, identical halves " +
      "score zero; matches an independent JVM recompute with smoothing") {
    val dir = tmp()
    import spark.implicits._
    val H = 3600L * 1000000
    val t0 = 1704067200L * 1000000
    // span 10 h -> mid = hour 5; type a: ref all 0.50 (bin 0), cur all
    // 7.00 (bin 2) -> large psi; type b: same value both halves -> 0
    val ev =
      (0 until 4).map(i => ("a", 0.50, i)) ++
      (6 until 10).map(i => ("a", 7.00, i)) ++
      (0 until 4).map(i => ("b", 2.00, i)) ++
      (6 until 10).map(i => ("b", 2.00, i))
    ev.zipWithIndex.map { case ((ty, v, h), i) =>
      (i.toLong, ty, v, t0 + h * H) }
      .toDF("event_id", "event_type", "value", "us")
      .select(col("event_id"), col("event_type"), col("value"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d164PsiDrift(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_ref"),
        r.getAs[Long]("n_cur"), r.getAs[Double]("psi"))).toList
    // independent recompute, type a: bins (nr, nc): b0 (4,0), b2 (0,4),
    // others (0,0); smoothed over 6 bins, tr = tc = 4
    def psi(pairs: Seq[(Long, Long)]): Double = {
      val (tr, tc) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val raw = pairs.map { case (nr, nc) =>
        val p = (nr + 1).toDouble / (tr + 6)
        val q = (nc + 1).toDouble / (tc + 6)
        (q - p) * math.log(q / p)
      }.sum
      BigDecimal.valueOf(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val wantA = psi(Seq((4L, 0L), (0L, 0L), (0L, 4L), (0L, 0L),
      (0L, 0L), (0L, 0L)))
    assert(got == List(("a", 4L, 4L, wantA), ("b", 4L, 4L, 0.0)),
      s"got $got want a=$wantA")
    assert(wantA > 1.0) // the shift registers as severe drift
  }

  // ------------------------------------------------------------- d152
  test("d152 triangle count: planted triangle + pendant edge, " +
      "degree-ordered enumeration counts each triangle once") {
    val dir = tmp()
    import spark.implicits._
    val H = 3600L * 1000000
    val t0 = 1704067200L * 1000000
    // hour 0: users 1,2,3 (a triangle); hour 1: users 1,4 (pendant);
    // hour 2: user 5 alone (no edges, excluded from the node count)
    val ev = Seq((1L, 0L), (2L, 0L), (3L, 0L), (1L, 1L), (4L, 1L), (5L, 2L))
      .zipWithIndex.map { case ((u, h), i) => (i.toLong, u, t0 + h * H + 60000000L) }
    ev.toDF("event_id", "user_id", "us")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d152TriangleCount(spark, dir).collect().head
    // edges (1,2)(1,3)(2,3)(1,4); deg 1:3 2:2 3:2 4:1; wedges 3+1+1=5
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"),
      r.getAs[Long]("gcc_e4")) == ((4L, 4L, 5L, 1L, 6000L)),
      s"got $r")
  }

  // ------------------------------------------------------------- d152 (banding)
  test("d152 triangle count: band width bounds per-bucket emission — " +
      "rank-gap > W pairs are not edges") {
    val dir = tmp()
    import spark.implicits._
    val t0 = 1704067200L * 1000000
    // one bucket, users 10..15 (ranks 1..6), W=3: 12 banded edges —
    // (10,14),(10,15),(11,15) are rank-gap>3 and must NOT appear
    val ev = (10L to 15L).zipWithIndex.map { case (u, i) =>
      (i.toLong, u, t0 + 60000000L) }
    ev.toDF("event_id", "user_id", "us")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d152TriangleCount(spark, dir).collect().head
    // degrees 3,4,5,5,4,3 -> wedges 38; band triangles: 10; gcc
    // floor(1e4*30/38) = 7894
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"),
      r.getAs[Long]("gcc_e4")) == ((6L, 12L, 38L, 10L, 7894L)),
      s"got $r")
  }

  // ------------------------------------------------------------- d152 (plan)
  test("d152 triangle count: no data-sized single-partition window — " +
      "every window partitions on the range-exchange bucket, never bk") {
    // `row_number() OVER (PARTITION BY bk)` would funnel every user
    // active in one hot hour through a single sort task (r12 verdict
    // "what's wrong" #2). The GlobalOrder rewrite must keep every
    // Window node partitioned on the synthetic range bucket
    // (spark_partition_id over a range exchange — bounded per task by
    // construction) and never on the data-sized hour key.
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.initialPlan)
      case q => q +: (q.children.flatMap(walk) ++ q.subqueries.flatMap(walk))
    }
    val plan = CorpusOps.d152Edges(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val windows = walk(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "expected GlobalOrder's bucket window")
    windows.foreach { w =>
      val refs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(w.partitionSpec.nonEmpty && refs == Set("__bucket"),
        s"window must partition on the range bucket only, got $refs")
    }
  }

  // ------------------------------------------------------------- d165
  test("d165 auc: hand-computed Mann-Whitney with ties, perfect and " +
      "inverted separations, missing-class NULL") {
    val dir = tmp()
    import spark.implicits._
    // sA: pos lengths {10,20}, neg {10,5} -> pairs: (10,10) tie .5,
    //   (10,5) win, (20,10) win, (20,5) win -> auc = 3.5/4 = 0.875
    // sB: perfect separation -> 1.0; sC: inverted -> 0.0
    // sD: all positive -> NULL
    val rows = Seq(
      ("sA", "en", 10L), ("sA", "en", 20L), ("sA", "de", 10L),
      ("sA", "de", 5L),
      ("sB", "en", 100L), ("sB", "de", 1L),
      ("sC", "en", 1L), ("sC", "de", 100L),
      ("sD", "en", 7L))
    rows.zipWithIndex.map { case ((s, l, c), i) => (i.toLong, s, l, c) }
      .toDF("doc_id", "source", "lang", "n_chars")
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d165Auc(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("n_neg"),
        Option(r.getAs[java.lang.Long]("auc_e6")))).toList
    assert(got == List(("sA", 2L, 2L, Some(875000L)),
      ("sB", 1L, 1L, Some(1000000L)), ("sC", 1L, 1L, Some(0L)),
      ("sD", 1L, 0L, None)), s"got $got")
  }

  // ------------------------------------------------------------- d165 (property)
  test("d165 auc: grouped running-sum formulation equals naive " +
      "O(n^2) pair counting on random data (ties, dups, skew)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (_ <- 1 to 12) {
      val dir = tmp()
      val rows = (1 to (rnd.nextInt(35) + 5)).map { i =>
        val src = s"s${rnd.nextInt(3)}"
        val lang = if (rnd.nextBoolean()) "en" else "de"
        // small score range -> plenty of ties and duplicate scores
        (i.toLong, src, lang, (rnd.nextInt(6) + 1).toLong)
      }
      rows.toDF("doc_id", "source", "lang", "n_chars")
        .withColumn("text", lit("x"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = CorpusOps.d165Auc(spark, dir).collect().map(r =>
        (r.getAs[String]("source"),
          Option(r.getAs[java.lang.Long]("auc_e6")).map(_.toLong))).toMap
      val want = rows.groupBy(_._2).map { case (src, rs) =>
        val pos = rs.filter(_._3 == "en").map(_._4)
        val neg = rs.filter(_._3 != "en").map(_._4)
        val e6 = if (pos.isEmpty || neg.isEmpty) None
        else {
          val wins = (for (p <- pos; n <- neg if p > n) yield 1L).sum
          val ties = (for (p <- pos; n <- neg if p == n) yield 1L).sum
          Some(1000000L * (2 * wins + ties) /
            (2L * pos.length * neg.length))
        }
        src -> e6
      }
      assert(got == want, s"got $got want $want rows $rows")
    }
  }

  // ------------------------------------------------------------- d166
  test("d166 l-diversity: single-user cell flagged, diverse cell not; " +
      "share over exact counts") {
    val dir = tmp()
    import spark.implicits._
    val H = 3600L * 1000000
    val t0 = 1704067200L * 1000000
    // cell (a, h0): users 1,2,3 -> l=3 ok; cell (b, h0): user 7 only,
    // 4 events -> l=1 weak+single; cell (a, h1): users 1,2 -> l=2 weak
    val ev = Seq(
      ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 0L),
      ("b", 7L, 0L), ("b", 7L, 0L), ("b", 7L, 0L), ("b", 7L, 0L),
      ("a", 1L, 1L), ("a", 2L, 1L))
    ev.zipWithIndex.map { case ((ty, u, h), i) =>
      (i.toLong, ty, u, t0 + h * H + 1000000L) }
      .toDF("event_id", "event_type", "user_id", "us")
      .select(col("event_id"), col("event_type"), col("user_id"),
        timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d166LDiversity(spark, dir).collect().head
    assert((r.getAs[Long]("n_cells"), r.getAs[Long]("n_events"),
      r.getAs[Long]("single_user_cells"), r.getAs[Long]("weak_cells"),
      r.getAs[Long]("events_at_risk"),
      r.getAs[Double]("risk_share")) == ((3L, 9L, 1L, 2L, 6L, 0.6667)),
      s"got $r")
  }

  // ------------------------------------------------------------- d167
  test("d167 group folds: every source in exactly one fold, census " +
      "disjoint-exhaustive, assignment salt-deterministic") {
    val dir = "/root/testdata/sf0.001"
    val got = CorpusOps.d167GroupFolds(spark, dir).collect()
    val src = spark.read.parquet(s"$dir/documents.parquet")
    assert(got.map(_.getAs[Long]("n_docs")).sum == src.count())
    assert(got.map(_.getAs[Long]("n_sources")).sum ==
      src.select("source").distinct().count())
    assert(got.map(_.getAs[Int]("fold")).forall(f =>
      f >= 0 && f < CorpusOps.CvK))
    // group integrity: a source's docs all land in one fold
    import spark.implicits._
    val perSrc = src
      .withColumn("fold", (graft.ops.TextOps.hash60(
        concat(lit(CorpusOps.CvSalt), col("source")))
        % CorpusOps.CvK).cast("int"))
      .groupBy("source")
      .agg(count_distinct(col("fold")).as("nf"))
      .agg(max("nf")).head.getLong(0)
    assert(perSrc == 1L)
  }

  // ------------------------------------------------------------- d168
  test("d168 script profile: planted CJK and replacement chars " +
      "counted by explicit codepoint range; shares from exact counts") {
    val dir = tmp()
    import spark.implicits._
    // sA: "ab中文" (2 ascii + 2 cjk), "xyz�" (3 ascii +
    // 1 fffd, counts as mojibake doc); sB: pure ascii
    val rows = Seq(
      (1L, "sA", "ab中文"), (2L, "sA", "xyz�"),
      (3L, "sB", "hello"))
    rows.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d168ScriptProfile(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_chars_total"), r.getAs[Double]("ascii_share"),
        r.getAs[Double]("cjk_share"),
        r.getAs[Long]("mojibake_docs"))).toList
    // sA: 8 chars, 5 ascii (ab + xyz), 2 cjk, 1 mojibake doc
    assert(got == List(("sA", 2L, 8L, 0.625, 0.25, 1L),
      ("sB", 1L, 5L, 1.0, 0.0, 0L)), s"got $got")
  }

  // ------------------------------------------------------------- d169
  test("d169 contract audit: every rule fires on its planted " +
      "violation exactly once, clean rows pass all rules") {
    val dir = tmp()
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val old = java.sql.Timestamp.valueOf("2019-12-31 23:59:59")
    // row template: (event_id, ts, user_id, event_type, value, props)
    val rows = Seq(
      (java.lang.Long.valueOf(1L), t0, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(1.0), """{"a":1}"""), // clean
      (null.asInstanceOf[java.lang.Long], t0, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(1.0), """{"a":1}"""), // r1
      (java.lang.Long.valueOf(1L), t0, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(1.0), """{"a":1}"""), // r2 dup id
      (java.lang.Long.valueOf(3L), old, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(1.0), """{"a":1}"""), // r3
      (java.lang.Long.valueOf(4L), t0, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(-0.5), """{"a":1}"""), // r4
      (java.lang.Long.valueOf(5L), t0, java.lang.Long.valueOf(10L),
        "Bad-Type", java.lang.Double.valueOf(1.0), """{"a":1}"""), // r5
      (java.lang.Long.valueOf(6L), t0, java.lang.Long.valueOf(0L),
        "click", java.lang.Double.valueOf(1.0), """{"a":1}"""), // r6
      (java.lang.Long.valueOf(7L), t0, java.lang.Long.valueOf(10L),
        "click", java.lang.Double.valueOf(1.0), "{not json")) // r7
    rows.toDF("event_id", "ts", "user_id", "event_type", "value",
      "props").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d169ContractAudit(spark, dir).collect().map(r =>
      (r.getAs[String]("rule"), r.getAs[Long]("violations"))).toMap
    assert(got == Map("event_id_not_null" -> 1L, "event_id_unique" -> 1L,
      "ts_in_window" -> 1L, "value_non_negative" -> 1L,
      "event_type_snake_case" -> 1L, "user_id_positive" -> 1L,
      "props_parseable_json" -> 1L), s"got $got")
  }

  // ------------------------------------------------------------- d171
  test("d171 loo influence: decomposed leave-one-out equals direct " +
      "recompute; single-source corpus yields NULL") {
    val dir = tmp()
    import spark.implicits._
    Seq((1L, "s1", "en", 10L), (2L, "s1", "de", 20L),
      (3L, "s2", "en", 30L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d171LooInfluence(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("loo_mean_chars"),
        r.getAs[Double]("loo_en_share"))).toList
    // drop s1 -> corpus is doc 3: mean 30, en 1.0
    // drop s2 -> docs 1,2: mean 15, en 0.5
    assert(got == List(("s1", 2L, 30.0, 1.0), ("s2", 1L, 15.0, 0.5)),
      s"got $got")

    val solo = tmp()
    Seq((1L, "only", "en", 10L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$solo/documents.parquet")
    val r = CorpusOps.d171LooInfluence(spark, solo).collect().head
    assert(r.isNullAt(r.fieldIndex("loo_mean_chars")) &&
      r.isNullAt(r.fieldIndex("loo_en_share")))
  }

  // ------------------------------------------------------------- d172
  test("d172 source affinity: hand-computed cosines over planted " +
      "vocabularies; zero-overlap pairs are absent") {
    val dir = tmp()
    import spark.implicits._
    Seq((1L, "s1", "a b"), (2L, "s2", "b c"), (3L, "s3", "a b"),
      (4L, "s4", "z"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d172SourceAffinity(spark, dir).collect().map(r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Double]("cosine"))).toList
    // all norms sqrt(2) except s4 (1); dots: (s1,s2)=1, (s1,s3)=2,
    // (s2,s3)=1; s4 shares no term with anyone -> no rows
    assert(got == List(("s1", "s2", 0.5), ("s1", "s3", 1.0),
      ("s2", "s3", 0.5)), s"got $got")
  }

  /** µs for midnight UTC of 2023-11-15 plus `day` days (1700006400 is
    * exactly divisible by 86400 — day boundaries land on boundaries). */
  private def dayUs(day: Int): Long =
    1700006400000000L + day.toLong * 86400000000L

  // ------------------------------------------------------------- d181
  test("d181 good-turing: fof table and unseen mass from a planted " +
      "vocabulary") {
    val dir = tmp()
    import spark.implicits._
    // terms: a seen 3x, b 2x, c 1x -> N=6, n1=n2=n3=1
    Seq((1L, "a a a"), (2L, "b b c"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.d181GoodTuring(spark, dir).collect().map(r =>
      (r.getAs[Long]("r"),
        Option(r.getAs[java.lang.Long]("n_terms")).map(_.toLong),
        r.getAs[Double]("token_share"),
        r.getAs[Double]("gt_next_mass"))).toList
    assert(got.length == CorpusOps.GtMaxR + 1)
    // the famous r=0 row: unseen mass = n1/N = 1/6
    assert(got.head == (0L, None, 0.0, r6(1.0 / 6)), s"got ${got.head}")
    assert(got(1) == (1L, Some(1L), r6(1.0 / 6), r6(2.0 / 6)))
    assert(got(2) == (2L, Some(1L), r6(2.0 / 6), r6(3.0 / 6)))
    assert(got(3) == (3L, Some(1L), 0.5, 0.0))
    got.drop(4).foreach { g =>
      assert(g._2 == Some(0L) && g._3 == 0.0 && g._4 == 0.0, s"got $g")
    }
  }

  // ------------------------------------------------------------- d182
  test("d182 burstiness: hand-computed CV on planted gaps; " +
      "single-event and zero-gap types guarded") {
    val dir = tmp()
    import spark.implicits._
    // "e": gaps 10s and 20s; "lone": one event (no gaps, absent);
    // "tied": two events at the SAME us (gap 0 -> mean 0 -> NULLs)
    val rows = Seq(
      (1L, dayUs(0), "e"), (2L, dayUs(0) + 10000000L, "e"),
      (3L, dayUs(0) + 30000000L, "e"),
      (4L, dayUs(1), "lone"),
      (5L, dayUs(2), "tied"), (6L, dayUs(2), "tied"))
    rows.toDF("event_id", "us", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("event_type"))
      .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d182Burstiness(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_gaps"),
        Option(r.getAs[java.lang.Double]("mean_gap_us")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("cv")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("rate_per_hour"))
          .map(_.toDouble))).toList
    // gaps 1e7/2e7: mean 1.5e7, var 2.5e13, cv = 5e6/1.5e7 = 1/3
    assert(got.map(_._1) == List("e", "tied"), s"got $got")
    val e = got.head
    assert(e._2 == 2L && e._3 == Some(1.5e7) &&
      e._4 == Some(BigDecimal(1.0 / 3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) &&
      e._5 == Some(240.0), s"got $e")
    assert(got(1) == (("tied", 1L, None, None, None)), s"got ${got(1)}")
  }

  // ------------------------------------------------------------- d183
  test("d183 source perplexity: hand-computed cross-entropy/KL on a " +
      "planted two-source corpus") {
    val dir = tmp()
    import spark.implicits._
    // global: a 3x, b 1x (N=4); s1 = {a,a,b}, s2 = {a}
    Seq((1L, "s1", "a a b"), (2L, "s2", "a"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val hx1 = -(2.0 / 3 * math.log(3.0 / 4) + 1.0 / 3 * math.log(1.0 / 4))
    val hs1 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    val hx2 = -math.log(3.0 / 4)
    val got = CorpusOps.d183SourcePerplexity(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("h_cross"), r.getAs[Double]("kl_vs_global"),
        r.getAs[Double]("ppl"))).toList
    assert(got.map(g => (g._1, g._2)) == List(("s1", 3L), ("s2", 1L)))
    assert(math.abs(got.head._3 - r6(hx1)) <= 1e-6 &&
      math.abs(got.head._4 - r6(hx1 - hs1)) <= 1e-6, s"got ${got.head}")
    // a single-term source has zero self-entropy: KL == cross-entropy
    assert(math.abs(got(1)._3 - r6(hx2)) <= 1e-6 &&
      math.abs(got(1)._4 - r6(hx2)) <= 1e-6 &&
      math.abs(got(1)._5 - 4.0 / 3) <= 1e-4, s"got ${got(1)}")
  }

  // ------------------------------------------------------------- d184
  test("d184 hill tail: exact alpha on a planted geometric tail; " +
      "all-equal lengths yield NULL") {
    val dir = tmp()
    import spark.implicits._
    // lengths 50*2^i: s = sum ln(2^i) = 15 ln2, alpha = 5/(15 ln2)
    val lens = Seq(1600L, 800L, 400L, 200L, 100L, 50L)
    lens.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("doc_id", "n_chars")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = CorpusOps.d184HillTail(spark, dir).collect().head
    val want = BigDecimal(5.0 / (15 * math.log(2))).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("k") == 6L && r.getAs[Long]("x_k") == 50L &&
      math.abs(r.getAs[Double]("alpha") - want) <= 1e-4, s"got $r")

    val flat = tmp()
    (1 to 5).map(i => (i.toLong, 100L)).toDF("doc_id", "n_chars")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$flat/documents.parquet")
    val fr = CorpusOps.d184HillTail(spark, flat).collect().head
    assert(fr.getAs[Long]("k") == 5L &&
      fr.isNullAt(fr.fieldIndex("alpha")), s"got $fr")
  }

  // ------------------------------------------------------------- d185
  test("d185 wilson reach: hand-computed interval at p=0.5; full " +
      "reach pins hi exactly 1.0") {
    val dir = tmp()
    import spark.implicits._
    // 4 users; type a reached by 2 (p=0.5), type b by all 4 (p=1)
    val rows = Seq((1L, 1L, "a"), (2L, 2L, "a"),
      (3L, 1L, "b"), (4L, 2L, "b"), (5L, 3L, "b"), (6L, 4L, "b"))
    rows.map { case (id, u, t) => (id, dayUs(0) + id * 1000000L, u, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val z = CorpusOps.WilsonZ.toDouble
    def wilson(u: Long, n: Long): (Double, Double) = {
      val p = u.toDouble / n; val z2n = z * z / n; val den = 1.0 + z2n
      val c = (p + z2n / 2) / den
      val hw = z * math.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n)) / den
      def r6(x: Double) = BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(c - hw), r6(c + hw))
    }
    val got = CorpusOps.d185WilsonReach(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_users"),
        r.getAs[Double]("reach"), r.getAs[Double]("wilson_lo"),
        r.getAs[Double]("wilson_hi"))).toList
    val (lo, hi) = wilson(2, 4)
    assert(got.head == (("a", 2L, 0.5, lo, hi)), s"got ${got.head}")
    // p = 1: hi collapses to exactly (1 + z2n)/(1 + z2n) = 1.0
    assert(got(1)._2 == 4L && got(1)._3 == 1.0 && got(1)._5 == 1.0 &&
      got(1)._4 < 1.0, s"got ${got(1)}")
  }

  // ------------------------------------------------------------- d186
  test("d186 cusum: locates a planted level shift; equal peaks take " +
      "the earliest day") {
    import spark.implicits._
    def plant(perDay: Seq[Int]): String = {
      val dir = tmp()
      perDay.zipWithIndex.flatMap { case (k, d) =>
        (0 until k).map(j => (d.toLong * 1000 + j, dayUs(d) + j * 1000000L))
      }.toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        .withColumn("user_id", lit(1L))
        .withColumn("event_type", lit("e"))
        .withColumn("value", lit(1.0))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // level shift 2 -> 10 after day 4: |S_t| peaks at 20 on day 4
    val r = CorpusOps.d186CusumChange(spark,
      plant(Seq(2, 2, 2, 2, 2, 10, 10, 10, 10, 10))).collect().head
    assert(r.getAs[java.sql.Timestamp]("change_day").getTime ==
      dayUs(4) / 1000 && r.getAs[Long]("n_days") == 10L &&
      r.getAs[Double]("cusum_peak") == 20.0, s"got $r")
    // mu=2: S = (-1, 0, -1, 0) -> |1| ties on days 0 and 2 -> earliest
    val t = CorpusOps.d186CusumChange(spark,
      plant(Seq(1, 3, 1, 3))).collect().head
    assert(t.getAs[java.sql.Timestamp]("change_day").getTime ==
      dayUs(0) / 1000 && t.getAs[Double]("cusum_peak") == 1.0, s"got $t")
  }

  // ------------------------------------------------------------- d188
  test("d188 lorenz: exact checkpoint shares on planted lengths") {
    val dir = tmp()
    import spark.implicits._
    // lengths 1..4: n=4, mass=10; 500permille -> 2 docs (mass 3),
    // 900/990permille -> 3 docs (mass 6)
    (1 to 4).map(i => (i.toLong, i.toLong)).toDF("doc_id", "n_chars")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d188LorenzMass(spark, dir).collect().map(r =>
      (r.getAs[Long]("pmille"), r.getAs[Long]("n_docs_in"),
        r.getAs[Double]("mass_share"), r.getAs[Double]("top_share")))
      .toList
    assert(got == List((500L, 2L, 0.3, 0.7), (900L, 3L, 0.6, 0.4),
      (990L, 3L, 0.6, 0.4)), s"got $got")
  }

  // ------------------------------------------------------------- d189
  test("d189 weekly profile: epoch-day mod-7 phases, exact shares, " +
      "peak/trough") {
    val dir = tmp()
    import spark.implicits._
    // dayUs(0) is epoch day 19676 (mod 7 = 6); dayUs(1) -> phase 0
    val rows = Seq((1L, dayUs(0)), (2L, dayUs(0) + 1000000L),
      (3L, dayUs(1)))
    rows.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("e"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.d189WeeklyProfile(spark, dir).collect().map(r =>
      (r.getAs[Long]("dow7"), r.getAs[Long]("n"),
        r.getAs[Double]("share"), r.getAs[Double]("peak_trough"))).toList
    assert(got == List((0L, 1L, r6(1.0 / 3), 2.0),
      (6L, 2L, r6(2.0 / 3), 2.0)), s"got $got")
  }

  // ------------------------------------------------------------- d190
  test("d190 column profile: exact nulls/distincts on a planted " +
      "table with a nullable column") {
    val dir = tmp()
    import spark.implicits._
    Seq((1L, dayUs(0), 7L, "a", 1.5, Some("{}")),
      (2L, dayUs(0), 7L, "b", 1.5, None),
      (3L, dayUs(1), 8L, "a", 2.5, None))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.d190ColumnProfile(spark, dir).collect().map(r =>
      (r.getAs[String]("col_name"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
        r.getAs[Double]("null_share"))).toList
    assert(got == List(
      ("event_id", 3L, 0L, 3L, 0.0),
      ("event_type", 3L, 0L, 2L, 0.0),
      ("props", 3L, 2L, 1L, r6(2.0 / 3)),
      ("ts", 3L, 0L, 2L, 0.0),
      ("user_id", 3L, 0L, 2L, 0.0),
      ("value", 3L, 0L, 2L, 0.0)), s"got $got")
  }

  // ------------------------------------------------------------- d191
  test("d191 winsor: exact p99 order statistic, clipped count and " +
      "excess mass on planted cents") {
    val dir = tmp()
    import spark.implicits._
    // cents 1..200 -> rank ceil(0.99*200)=198 -> p99=198; clipped
    // 199,200 -> excess (1+2)=3
    (1 to 200).map(i => (i.toLong, i / 100.0))
      .toDF("event_id", "value")
      .withColumn("ts", timestamp_micros(lit(dayUs(0)) + col("event_id")))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("e"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d191WinsorAudit(spark, dir).collect().head
    assert((r.getAs[String]("event_type"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("p99_cents"), r.getAs[Long]("n_clipped"),
      r.getAs[Long]("excess_cents"), r.getAs[Double]("clipped_share"))
      == (("e", 200L, 198L, 2L, 3L, 0.01)), s"got $r")
  }

  // ------------------------------------------------------------- d192
  test("d192 embedding norms: zero vectors counted, exact 3-4-5 " +
      "norm, min/mean/max per label") {
    val dir = tmp()
    import spark.implicits._
    Seq((1L, "A", Seq(3.0f, 4.0f)), (2L, "A", Seq(0.0f, 0.0f)),
      (3L, "B", Seq(1.0f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.ops.Similarity.d192EmbeddingNorms(spark, dir)
      .collect().map(r =>
        (r.getAs[String]("label"), r.getAs[Long]("n_vectors"),
          r.getAs[Long]("n_zero"), r.getAs[Double]("min_norm"),
          r.getAs[Double]("mean_norm"), r.getAs[Double]("max_norm")))
      .toList
    assert(rows == List(("A", 2L, 1L, 0.0, 2.5, 5.0),
      ("B", 1L, 0L, 1.0, 1.0, 1.0)), s"got $rows")
  }

  // ------------------------------------------------------------- d193
  test("d193 typed variance: welford seam matches exact moments on " +
      "planted data; merge rule exact on hand cases") {
    val dir = tmp()
    import spark.implicits._
    // s1 token counts {2, 4, 6}: mean 4, var_pop 8/3; s2 {5}: var 0
    Seq((1L, "s1", "a a"), (2L, "s1", "a a a a"),
      (3L, "s1", "a a a a a a"), (4L, "s2", "b b b b b"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.d193TypedVariance(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("mean_tokens"), r.getAs[Double]("var_tokens")))
      .toList
    assert(got == List(("s1", 3L, 4.0, r4(8.0 / 3)),
      ("s2", 1L, 5.0, 0.0)), s"got $got")

    // the merge rule directly: reduce-side vs a split-merge must agree
    import graft.ops.TypedStats._
    val rows = Seq(2L, 4L, 6L, 11L, 13L).map(Keyed("k", _))
    val serial = rows.foldLeft(WelfordAgg.zero)(WelfordAgg.reduce)
    val (l, r) = rows.splitAt(2)
    val merged = WelfordAgg.merge(
      l.foldLeft(WelfordAgg.zero)(WelfordAgg.reduce),
      r.foldLeft(WelfordAgg.zero)(WelfordAgg.reduce))
    assert(merged.n == serial.n &&
      math.abs(merged.mean - serial.mean) < 1e-12 &&
      math.abs(merged.m2 - serial.m2) < 1e-9, s"$merged vs $serial")
    // zero-side merges are identities
    assert(WelfordAgg.merge(WelfordAgg.zero, serial) == serial &&
      WelfordAgg.merge(serial, WelfordAgg.zero) == serial)
  }

  // ------------------------------------------------------------- d194
  test("d194 seasonal backtest: a perfectly weekly series scores " +
      "mase 0; errors are exact integer sums") {
    val dir = tmp()
    import spark.implicits._
    // 14 days, x = 10 on the weekly phase-0 day, else 2: seasonal lag
    // errors are all 0; naive lag-1 errors are 8 at each of the 4
    // spikes' edges (ae=24 over 13 pairs)
    val perDay = (0 until 14).map(d => d -> (if (d % 7 == 0) 10 else 2))
    perDay.flatMap { case (d, k) =>
      (0 until k).map(j => (d.toLong * 100 + j, dayUs(d) + j * 1000000L))
    }.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("e"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = CorpusOps.d194SeasonalBacktest(spark, dir).collect().head
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getAs[Long]("n_season"), r.getAs[Long]("n_naive"),
      r.getAs[Double]("mae_seasonal"), r.getAs[Double]("mae_naive"),
      r.getAs[Double]("mase"))
      == ((7L, 13L, 0.0, r4(24.0 / 13), 0.0)), s"got $r")
  }

  // ------------------------------------------------------------- d177
  test("d177 wasserstein: matches a naive scala integral of the " +
      "CDF gap over the same hash split") {
    val dir = tmp()
    import spark.implicits._
    // varied lengths, enough docs that both splits are inhabited
    val rows = (1 to 300).map(i => (i.toLong, (i * 37) % 523 + 10L))
    rows.toDF("doc_id", "n_chars")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // ground-truth split assignment from the op's own hash column
    val assign = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("n_chars"), CorpusOps.splitOf(col("doc_id")).as("sp"))
      .collect().map(r => (r.getAs[Long]("n_chars"), r.getAs[String]("sp")))
    val tr = assign.filter(_._2 == "train").map(_._1)
    val va = assign.filter(_._2 == "val").map(_._1)
    assert(tr.nonEmpty && va.nonEmpty, "both splits must be inhabited")
    val support = (tr ++ va).distinct.sorted
    var (ca, cb) = (0L, 0L)
    var naive = BigInt(0)
    support.zip(support.tail :+ support.last).foreach { case (v, vn) =>
      ca += tr.count(_ == v); cb += va.count(_ == v)
      naive += BigInt((ca * va.length - cb * tr.length).abs) *
        BigInt(vn - v)
    }
    val want = (BigDecimal(naive) /
      (BigDecimal(tr.length) * BigDecimal(va.length)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = CorpusOps.d177WassersteinDrift(spark, dir).collect().head
    assert(r.getAs[Long]("n_train") == tr.length.toLong &&
      r.getAs[Long]("n_val") == va.length.toLong &&
      r.getAs[Long]("n_values") == support.length.toLong, s"got $r")
    assert(math.abs(r.getAs[Double]("w1") - want) <= 1e-6,
      s"w1 ${r.getAs[Double]("w1")} vs naive $want")
  }

  // ------------------------------------------------------------- d178
  test("d178 temperature mix: alpha=1-free shares match hand math, " +
      "long-tail upsamples, mega-source downsamples") {
    val dir = tmp()
    import spark.implicits._
    // token masses 8 / 1 / 1 via whitespace words
    Seq((1L, "big", ("w " * 8).trim), (2L, "tiny1", "w"),
      (3L, "tiny2", "w"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pa = Seq(0.8, 0.1, 0.1).map(p => math.pow(p, CorpusOps.MixAlpha))
    val z = pa.sum
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.d178TemperatureMix(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("tokens"),
        r.getAs[Double]("p_natural"), r.getAs[Double]("q_temp"),
        r.getAs[Double]("upsample"))).toList
    assert(got.map(g => (g._1, g._2)) ==
      List(("big", 8L), ("tiny1", 1L), ("tiny2", 1L)), s"got $got")
    got.zip(Seq(0.8, 0.1, 0.1).zip(pa)).foreach {
      case ((_, _, p, q, up), (pw, paw)) =>
        assert(math.abs(p - r6(pw)) <= 1e-9, s"p $p vs $pw")
        assert(math.abs(q - r6(paw / z)) <= 1e-6, s"q $q")
        assert(math.abs(up - paw / z / pw) <= 1e-3, s"up $up")
    }
    // temperature flattens: the mega-source loses share, the tail gains
    assert(got.head._4 < got.head._3 && got(1)._4 > got(1)._3)
  }

  // ------------------------------------------------------------- d173
  test("d173 gap fill: gaps carry the last observation forward, " +
      "leading days stay NULL, imputed flags exact") {
    val dir = tmp()
    import spark.implicits._
    // type A observed days 0,1,4 (cents 100,250,700); type B day 2 only
    val rows = Seq((1L, 0, "A", 1.00), (2L, 1, "A", 2.50),
      (3L, 4, "A", 7.00), (4L, 2, "B", 3.00))
    rows.map { case (id, d, t, v) => (id, dayUs(d), 9L, t, v) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CorpusOps.d173GapFill(spark, dir).collect().map(r =>
      (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").getTime,
        Option(r.getAs[java.lang.Long]("filled_cents")).map(_.toLong),
        r.getAs[Long]("imputed"))).toList
    def ms(d: Int) = dayUs(d) / 1000
    assert(got == List(
      ("A", ms(0), Some(100L), 0L), ("A", ms(1), Some(250L), 0L),
      ("A", ms(2), Some(250L), 1L), ("A", ms(3), Some(250L), 1L),
      ("A", ms(4), Some(700L), 0L),
      ("B", ms(0), None, 1L), ("B", ms(1), None, 1L),
      ("B", ms(2), Some(300L), 0L), ("B", ms(3), Some(300L), 1L),
      ("B", ms(4), Some(300L), 1L)), s"got $got")
  }

  // ------------------------------------------------------------- d174
  test("d174 nmi: perfect source-lang association scores 1, " +
      "independence scores 0") {
    import spark.implicits._
    def plant(rows: Seq[(Long, String, String)]): String = {
      val dir = tmp()
      rows.toDF("doc_id", "source", "lang")
        .withColumn("text", lit("x"))
        .withColumn("n_chars", lit(1L))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // silos: each source speaks exactly one language -> MI = H = ln 2
    val silo = CorpusOps.d174SourceLangNmi(spark, plant(Seq(
      (1L, "s1", "en"), (2L, "s1", "en"),
      (3L, "s2", "de"), (4L, "s2", "de")))).collect().head
    val ln2r = BigDecimal(math.log(2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(silo.getAs[Long]("n_docs") == 4L &&
      silo.getAs[Long]("n_cells") == 2L)
    assert(silo.getAs[Double]("mi") == ln2r &&
      silo.getAs[Double]("h_source") == ln2r &&
      silo.getAs[Double]("nmi") == 1.0, s"got $silo")
    // independence: both sources 50/50 -> every MI term is ln(1) = 0
    val ind = CorpusOps.d174SourceLangNmi(spark, plant(Seq(
      (1L, "s1", "en"), (2L, "s1", "de"),
      (3L, "s2", "en"), (4L, "s2", "de")))).collect().head
    assert(ind.getAs[Double]("mi") == 0.0 &&
      ind.getAs[Double]("nmi") == 0.0, s"got $ind")
    // degenerate: one language -> h_lang = 0 -> nmi NULL
    val one = CorpusOps.d174SourceLangNmi(spark, plant(Seq(
      (1L, "s1", "en"), (2L, "s2", "en")))).collect().head
    assert(one.isNullAt(one.fieldIndex("nmi")))
  }

  // ------------------------------------------------------------- d175
  test("d175 neyman: zero-variance stratum gets zero seats, quotas " +
      "sum to the budget, underfilled stratum reported") {
    val dir = tmp()
    import spark.implicits._
    // s_flat: 10 docs all length 100 (sigma 0 -> weight 0);
    // s_vol: 4 docs of varying length (all 200 seats; only 4 docs)
    val rows = (1 to 10).map(i => (i.toLong, "s_flat", 100L)) ++
      Seq((11L, "s_vol", 10L), (12L, "s_vol", 200L),
        (13L, "s_vol", 300L), (14L, "s_vol", 4000L))
    rows.toDF("doc_id", "source", "n_chars")
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusOps.d175NeymanSample(spark, dir).collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("quota"), r.getAs[Long]("n_sampled"),
        r.getAs[Long]("sampled_chars"))).toList
    assert(got == List(
      ("s_flat", 10L, 0L, 0L, 0L),
      ("s_vol", 4L, CorpusOps.NeymanK, 4L, 4510L)), s"got $got")
    assert(got.map(_._3).sum == CorpusOps.NeymanK)
  }

  // ------------------------------------------------------------- d176
  test("d176 acf: matches a naive scala recompute on a planted " +
      "periodic series; zero-variance series yields NULL") {
    val dir = tmp()
    import spark.implicits._
    // 10-day series of daily counts with period 2: 2,5,2,5,...
    val perDay = (0 until 10).map(d => d -> (if (d % 2 == 0) 2 else 5))
    val rows = perDay.flatMap { case (d, k) =>
      (0 until k).map(j => (d.toLong * 100 + j, dayUs(d) + j * 1000000L))
    }
    rows.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("e"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val xs = perDay.map(_._2.toDouble)
    val mu = xs.sum / xs.size
    val den = xs.map(x => (x - mu) * (x - mu)).sum
    val want = (1 to CorpusOps.AcfMaxLag).map { k =>
      val num = xs.dropRight(k).zip(xs.drop(k))
        .map { case (a, b) => (a - mu) * (b - mu) }.sum
      k.toLong -> BigDecimal(num / den).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = CorpusOps.d176DailyAcf(spark, dir).collect().map(r =>
      (r.getAs[Long]("lag"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("acf"))).toList
    assert(got.map(_._1) == (1L to 7L).toList)
    got.foreach { case (lag, np, acf) =>
      assert(np == 10 - lag, s"lag $lag pairs $np")
      assert(math.abs(acf - want(lag)) <= 1e-4,
        s"lag $lag: $acf vs ${want(lag)}")
    }

    // constant series: den is exactly 0 (exact moment arithmetic on
    // equal integers), every lag emits NULL instead of an engine inf
    val flat = tmp()
    (0 until 9).map(d => (d.toLong, dayUs(d)))
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", lit("e"))
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$flat/events.parquet")
    val fr = CorpusOps.d176DailyAcf(spark, flat).collect()
    assert(fr.length == 7 && fr.forall(_.isNullAt(2)), s"got ${fr.toList}")
  }

  // ------------------------------------------------------------- d146
  test("d146 range shards: lossless, globally ordered read-back on the " +
      "sf fixture") {
    val dir = "/root/testdata/sf0.001"
    val got = CorpusOps.d146RangeShards(spark, dir).collect()
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == src.toSeq,
      "read-back must be every source doc exactly once, in key order")
  }

  // ------------------------------------------------------------- d229
  test("d229 collation dedup: case variants collapse to one group, " +
      "whitespace variants do not, and binary grouping would split them") {
    val dir = tmp()
    import spark.implicits._
    // id 0 is a CloneMod multiple, so the op plants an UPPER clone of
    // it at 0 + CloneIdOffset; id 1 is a hand-planted case variant of
    // id 0; id 2 differs by WHITESPACE only (a different string under
    // any collation); id 3 is unrelated.
    val rows = Seq(
      (0L, "Hello World"), (1L, "HELLO world"),
      (2L, "hello  world"), (3L, "other text"))
    rows.map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextOps.d229CollationDedup(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 3L), // ids 0, 1 and the planted clone of 0 — ONE group
      (2L, 1L), // double space: a distinct string, collation or not
      (3L, 1L)), s"got ${got.toSeq}")
    // the divergence the collation exists to encode: binary grouping
    // splits the case variants into distinct groups
    val binaryGroups = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("text").count().count()
    assert(binaryGroups == 4,
      "binary semantics must see 4 distinct texts where UTF8_LCASE sees 3")
    // and the collation comparison itself, straight through SQL
    assert(spark.sql(
      "SELECT 'Foo' COLLATE UTF8_LCASE = 'fOO'").first().getBoolean(0),
      "UTF8_LCASE equality must be case-insensitive")
  }

  // ------------------------------------------------------------- d230
  test("d230 dynamic partition pruning: the dim-side filter reaches the " +
      "partitioned fact scan as a runtime subquery; plain scans don't") {
    val dir = tmp()
    import spark.implicits._
    val types = CorpusOps.FunnelClasses.map(_._1)
    val rows = types.zipWithIndex.flatMap { case (t, ti) =>
      (0 until 3).map(i => ((ti * 3 + i).toLong, t, (i + 1).toDouble))
    }
    rows.toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // the gate executes its plan inside its temp scope and returns rows
    // that no longer read the layout, so the executed plans come from
    // the session's listener
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = CorpusOps.d230DppPrune(spark, dir)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("click", 3L, 6.0), ("view", 3L, 6.0)),
      s"got ${got.toSeq}")
    // the pruning must be REAL, not just planned: after execution the
    // fact scan's metrics show it read only the 2 browse partitions'
    // files out of 5 written
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        // materialized AQE stages hide their plan from `children`
        s +: walk(s.plan)
      case q => q +: (q.children.flatMap(walk) ++ q.subqueries.flatMap(walk))
    }
    def factScans = {
      import scala.jdk.CollectionConverters._
      executed.asScala.toSeq.flatMap(walk).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.partitionSchema.nonEmpty => f
      }
    }
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (factScans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(listener)
    assert(factScans.nonEmpty, "expected a partitioned fact scan")
    factScans.foreach { f =>
      val nFiles = f.metrics("numFiles").value
      val all = f.relation.location.inputFiles
      val browse = all.count(p =>
        p.contains("event_type=view") || p.contains("event_type=click"))
      assert(browse < all.length, "fixture must have prunable partitions")
      assert(nFiles == browse,
        s"runtime pruning must cut the scan to the browse partitions' " +
          s"$browse files (of ${all.length}), read $nFiles")
    }
    // discriminative: the same join over an UNPARTITIONED copy plans
    // no dynamic pruning — the subquery exists because the layout does
    val dim = CorpusOps.FunnelClasses.toDF("event_type", "class")
    val flat = spark.read.parquet(s"$dir/events.parquet")
      .join(dim.filter(col("class") === "browse"), Seq("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(!flat.queryExecution.executedPlan.toString
        .contains("dynamicpruning"),
      "unpartitioned scan must not carry a pruning subquery")
    // the fixture invariant is ASSERTED: a drifted type population
    // fails loudly instead of silently dropping a class
    val drift = tmp()
    rows.take(6).toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$drift/events.parquet")
    intercept[IllegalArgumentException] {
      CorpusOps.d230DppPrune(spark, drift)
    }
  }

  // ------------------------------------------------------------- d232
  test("d232 hll rollup: persisted daily sketches union to the exact " +
      "month distincts on planted overlapping cohorts") {
    val dir = tmp()
    import spark.implicits._
    // month 1: day 1 holds users 1..100, day 2 holds 51..150 (the
    // overlap makes month-exact 150 ≠ sum of days 200 — a broken
    // union that ADDS estimates instead of merging registers is off
    // by 33% and trips the booleans); month 2: users 1..40.
    val rows =
      (1L to 100L).map(u => ("2024-01-01 10:00:00", u)) ++
      (51L to 150L).map(u => ("2024-01-02 10:00:00", u)) ++
      (1L to 40L).map(u => ("2024-02-05 10:00:00", u))
    rows.zipWithIndex.map { case ((d, u), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(d), u, "view", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = CorpusOps.d232HllRollup(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1),
        r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 150L, true, true, true),
      ("2024-02-01", 40L, true, true, true)), s"got ${got.toSeq}")
  }

  // ------------------------------------------------------------- d231
  test("d231 index compaction: a planted cross-batch copy pair " +
      "best-matches each other through the compacted artifact") {
    val dir = tmp()
    import spark.implicits._
    // 450 deterministic 64-dim vectors: ids 0..299 corpus, 300..399
    // batch A, 400..449 batch B; id 425 (batch B, on the 1-in-25
    // audit panel) is a byte-identical copy of id 50 (corpus, also on
    // the panel) — identical vectors encode to identical codes, so
    // each is the other's ADC argmin through any layout of the store.
    // nonlinear in the id: a linear formula makes CONSECUTIVE ids
    // near-identical vectors, which all quantize to the SAME codes —
    // the planted pair then ties with its neighbors and the argmin
    // tie-break picks the lowest id, not the copy
    def vec(i: Long): Seq[Float] =
      (0 until 64).map { d =>
        val x = i * 73 + d * 151
        ((x * x + x) % 997).toFloat / 997f
      }
    val n = 450L
    val rows = (0L until n).map { i =>
      val src = if (i == 425L) 50L else i
      (i, vec(src), (i % 3).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = SparkEntry.queries("d231_index_compact")(spark, dir)
      .collect()
    val panel = (0L until n).filter(_ % graft.ops.Similarity.AuditMod == 0)
    assert(got.map(_.getLong(0)).toSeq == panel,
      s"audit must cover exactly the 1-in-25 panel, got ${got.length} rows")
    val byId = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byId(425L)._1 == 50L,
      s"copy 425 must best-match its original 50, got ${byId(425L)}")
    // what ADC guarantees for a twin pair — and no more: identical
    // vectors share cell, residual, and CODES, so each direction's
    // best distance is the shared quantization error (symmetric), and
    // ties WITHIN the code equivalence class resolve to the lowest
    // cand_id. 425 therefore finds 50 (the class minimum), but 50
    // finds whichever same-code vector has the lowest id — here 93,
    // which quantizes to the same 4 codes — NOT its high-id copy. The
    // oracle reproduces the identical tie-break corpus-wide.
    assert(byId(425L)._2 == byId(50L)._2 && byId(425L)._3 == byId(50L)._3,
      s"copy-pair audit must be symmetric: ${byId(50L)} vs ${byId(425L)}")
    assert(byId(50L)._1 < 425L,
      "50's best match can only be a lower-id member of the code class")
  }
}
