package graft

import graft.core.DedupConfig
import graft.signatures.Sig
import graft.sim.EmbedOps
import graft.text.TextOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Exact oracles for the queries the driver can only rows-check:
  * brute-force pairwise comparisons at sf0.001 against the LSH paths. */
class DocOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(4, 8, "docops-spec")
  val dir = "/root/testdata/sf0.001"
  val cfg = DedupConfig.default

  lazy val docLocal: Array[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  test("connected components on long ids: numeric min labels, long output schema") {
    import spark.implicits._
    // regression: a string-upcast loop made the representative the
    // LEXICOGRAPHIC min ("10" < "2") and changed cluster_id to string
    val vertices = Seq(2L, 10L, 7L).toDF("id")
    val edges = Seq((2L, 10L)).toDF("src", "dst")
    val out = graft.cluster.ConnectedComponents.run(spark, vertices, edges)
    assert(out.schema("component").dataType == org.apache.spark.sql.types.LongType)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 2L, 10L -> 2L, 7L -> 7L), s"got $got")
  }

  test("connected components: two propagate steps per job — a converged graph stops without an extra observer job") {
    import spark.implicits._
    // star with a non-min center: needs exactly 2 propagate steps after
    // which nothing changes. The old one-step loop paid init+step (job
    // 1), step (job 2, changes), then a FULL third job just to observe
    // zero changes. The two-step loop folds the observer into job 1's
    // second accumulator: total LOOP jobs = 1. maxBroadcastLabels = 0
    // keeps this small graph on the loop (the default collects it to the
    // driver) and makes the singleton stitch a shuffle join.
    val center = 50L
    val leaves = (1L to 10L).filter(_ != center)
    val vertices = (center +: leaves).toDF("id")
    val edges = leaves.map(l => (center, l)).toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = graft.cluster.ConnectedComponents.run(spark, vertices, edges,
        maxBroadcastLabels = 0L).collect()
      // listener events are async: poll until the count is quiescent
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 30) {
        last = jobs.get(); Thread.sleep(100); spins += 1
      }
      val got = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minId = (center +: leaves).min
      assert(got.values.toSet == Set(minId), s"star must be one component: $got")
      // job budget: 1 edge-sizing count (no edgeCountHint) + 1 loop job
      // (steps 2+3: step 2 changes the leaves, step 3 observes zero via
      // the second accumulator — no separate observer job) + 3 for the
      // shuffle stitch under AQE (one per side's exchange, then the
      // broadcast AQE re-plans the join to once the label side proves
      // small) + 1 final collect = 6. A one-step loop would need one
      // more (its observer round was its own job).
      assert(jobs.get() == 6, s"expected 6 jobs (1 loop job), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connected components: deep path graph converges under deferred pointer jumping") {
    import spark.implicits._
    // a 300-node path has diameter 299: plain propagation alone would
    // need ~300 rounds (> default maxIter=64), so this passes only if
    // pointer jumping engages after the deferred warm-up rounds and
    // restores the O(log diameter) bound (maxBroadcastLabels = 0 keeps
    // the graph on the loop instead of the driver path)
    val n = 300L
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val out = graft.cluster.ConnectedComponents.run(spark, vertices, edges,
        maxBroadcastLabels = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n)
    assert(out.forall(_._2 == 1L), s"non-min labels: ${out.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("connected components: broadcast and shuffle stitch plans agree") {
    import spark.implicits._
    // the default solves this graph on the driver and broadcasts the
    // labels; maxBroadcastLabels = 0 runs the loop and a shuffle stitch
    val vertices = (1L to 50L).toDF("id")
    val edges = Seq((3L, 7L), (7L, 9L), (20L, 21L)).toDF("src", "dst")
    val bc = graft.cluster.ConnectedComponents.run(spark, vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh = graft.cluster.ConnectedComponents.run(spark, vertices, edges,
        maxBroadcastLabels = 0L) // force the loop and the shuffle stitch
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bc == sh)
    assert(bc(9L) == 3L && bc(21L) == 20L && bc(1L) == 1L)
  }

  test("winnowMd5 ring-buffer sliding min == brute-force per-window min") {
    // the O(w)-memory deque+ring formulation is subtle (an expiring
    // index's ring slot is overwritten in the same step it can last be
    // compared): check exact set equality against the obvious
    // quadratic reference on randomized strings incl. repeated and
    // supplementary-plane content
    val md = java.security.MessageDigest.getInstance("MD5")
    def hexMd5(s: String): String =
      TextOps.winnowMd5(s, s.codePointCount(0, s.length), 1, md).head // md5 of the whole string via a 1-window winnow
    def brute(t: String, g: Int, w: Int): Set[String] = {
      val cps = t.codePoints().toArray
      val n = cps.length - g + 1
      val gh = (0 until n).map { i =>
        hexMd5(new String(cps, i, g))
      }
      (0 to n - w).map(p => (p until p + w).map(gh).min).toSet
    }
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("ab", "abcde", "xyz 世界😀") // incl. an astral code point
    for (trial <- 0 until 60) {
      val alpha = alphabets(trial % alphabets.size)
      val cpPool = alpha.codePoints().toArray
      val len = 8 + rnd.nextInt(60)
      val sb = new java.lang.StringBuilder
      (0 until len).foreach(_ => sb.appendCodePoint(cpPool(rnd.nextInt(cpPool.length))))
      val t = sb.toString
      val g = 2 + rnd.nextInt(3)
      val w = 2 + rnd.nextInt(5)
      if (t.codePointCount(0, t.length) >= w + g - 1) {
        val got = TextOps.winnowMd5(t, g, w, md).toSet
        val want = brute(t, g, w)
        assert(got == want, s"trial $trial g=$g w=$w text=[$t]")
      }
    }
  }

  test("minhash dedup clusters == brute-force jaccard clusters (recall >= 0.99, no false merges)") {
    val sh = docLocal.map { case (id, tx) => id -> Sig.shingleHashes(tx, cfg.shingleSize) }.toMap
    val ids = docLocal.map(_._1).sorted
    val truePairs = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if Sig.jaccard(sh(ids(i)), sh(ids(j))) >= 0.7
    } yield (ids(i), ids(j))).toSet

    val got = TextOps.minhashDedup(spark, dir, cfg).collect()
      .map(r => r.getLong(0).toString -> r.getLong(1).toString).toMap
    // union-find the true pairs
    val want = graft.synth.Oracle.clusters(
      ids.map(_.toString), truePairs.map { case (a, b) => (a.toString, b.toString) })
    val wantPairs = graft.synth.Oracle.clusterPairs(want)
    val gotPairs = graft.synth.Oracle.clusterPairs(got)
    val missed = wantPairs -- gotPairs
    val extra = gotPairs -- wantPairs
    val recall = if (wantPairs.isEmpty) 1.0 else 1.0 - missed.size.toDouble / wantPairs.size
    assert(recall >= 0.99, s"recall=$recall of ${wantPairs.size}, missed=${missed.take(5)}")
    assert(extra.isEmpty, s"false merges: ${extra.take(5)}")
  }

  test("simhash dedup pairs == brute-force hamming pairs") {
    val sims = docLocal.map { case (id, tx) => id -> Sig.simhash64(Sig.shingleHashes(tx, 2), null) }
    val want = (for {
      i <- sims.indices.iterator
      j <- (i + 1) until sims.length
      if Sig.hamming(sims(i)._2, sims(j)._2) <= 6
    } yield {
      val (a, b) = (sims(i)._1, sims(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val got = TextOps.simhashDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the combo-key pigeonhole guarantees every hamming<=6 pair shares
    // a key: result must be EXACTLY the brute-force set
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")

    // regression (the fixed-(9,3) trap): a WIDER threshold must derive
    // a wider combo scheme and stay exactly brute-force-equal — the
    // old hard-coded keys silently lost recall above hammingMax 6
    val want10 = (for {
      i <- sims.indices.iterator
      j <- (i + 1) until sims.length
      if Sig.hamming(sims(i)._2, sims(j)._2) <= 10
    } yield {
      val (a, b) = (sims(i)._1, sims(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val got10 = TextOps.simhashDedup(spark, dir, hammingMax = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got10 == want10,
      s"missed=${(want10 -- got10).take(5)} extra=${(got10 -- want10).take(5)}")
    assert(want10.size > want.size, "threshold widening must add pairs on this corpus")
  }

  test("ngram jaccard pairs are correct and winnowing finds the high-sim ones") {
    def grams(tx: String): Array[Long] = {
      val set = new java.util.TreeSet[java.lang.Long]()
      Sig.charGramHashes(tx.toLowerCase, 3).foreach(set.add(_))
      val out = new Array[Long](set.size)
      val it = set.iterator(); var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }
    val g = docLocal.map { case (id, tx) => id -> grams(tx) }.toMap
    val got = TextOps.ngramJaccardDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision: every reported jaccard3 matches brute-force recompute
    got.foreach { case (a, b, j) =>
      val exact = BigDecimal(Sig.jaccard(g(a), g(b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(exact - j) < 1e-9, s"pair ($a,$b): $j vs $exact")
    }
    // recall at high similarity (>=0.8): winnowed candidates must cover
    val ids = docLocal.map(_._1).sorted
    val want = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if Sig.jaccard(g(ids(i)), g(ids(j))) >= 0.8
    } yield (ids(i), ids(j))).toSet
    val gotHigh = got.filter(_._3 >= 0.8).map(t => (t._1, t._2)).toSet
    val missed = want -- gotHigh
    assert(missed.size <= math.max(1, want.size / 100), s"missed high-sim: ${missed.take(5)} of ${want.size}")
  }

  test("exact ngram jaccard == brute-force string-trigram recompute (set equality)") {
    def triSet(tx: String): Set[String] = {
      val t = tx.toLowerCase
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    }
    val g = docLocal.map { case (id, tx) => id -> triSet(tx) }.filter(_._2.nonEmpty)
    val want = (for {
      i <- g.indices.iterator
      j <- (i + 1) until g.length
      shared = g(i)._2.intersect(g(j)._2).size
      if shared * 5 >= (g(i)._2.size + g(j)._2.size) * 2
    } yield {
      val (a, b) = if (g(i)._1 < g(j)._1) (g(i)._1, g(j)._1) else (g(j)._1, g(i)._1)
      (a, b, shared.toLong, (g(i)._2.size + g(j)._2.size - shared).toLong)
    }).toSet
    val got = TextOps.ngramJaccardExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("substring dedup df-prune: planted mega-bucket is pruned identically to a same-semantics brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val tcfg = cfg.copy(substrDfCap = 8)

    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    // same selection as the engine/oracle: md5 char-grams, min of each
    // FULL w-window
    def winnowFps(t: String, g: Int, w: Int): Set[String] = {
      if (t.length < g + w - 1) return Set.empty
      val grams = (0 to t.length - g).map(i => md5hex(t.substring(i, i + g)))
      (0 to grams.length - w).map(p => grams.slice(p, p + w).min).toSet
    }

    val boiler = "standard legal disclaimer text that appears verbatim in every scraped page of this site " * 2
    val inner = "a genuinely unique sentence long enough to be a contained document here"
    val docs0 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // mega bucket: 20 docs sharing a long boilerplate prefix (every
    // prefix fingerprint has df=21 > cap), unique tails, no containment
    for (i <- 0 until 20)
      docs0 += ((100L + i,
        boiler + s" unique tail number $i " + (('a' + i).toChar.toString * 45)))
    // genuine containment pair with unique (cold) shared fingerprints
    docs0 += ((300L, inner))
    docs0 += ((301L, "prefix words before " + inner + " and suffix words after"))
    // contained doc whose EVERY fingerprint is boilerplate-hot: its
    // containment pairs are dropped by the prune on BOTH sides
    docs0 += ((400L, boiler))

    val dirT = java.nio.file.Files.createTempDirectory("graft-substr").toString
    docs0.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")

    val got = TextOps.substrDedup(spark, dirT, tcfg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val longDocs = docs0.toSeq.filter(_._2.length >= tcfg.substrMinChars)
      .map { case (id, tx) => (id, tx.toLowerCase) }
    val fps = longDocs.map { case (id, t) =>
      id -> winnowFps(t, tcfg.substrGram, tcfg.substrWindow) }.toMap
    val df = fps.values.flatten.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val kept = fps.view.mapValues(_.filter(fp => df(fp) <= tcfg.substrDfCap)).toMap
    val want = (for {
      i <- longDocs.indices.iterator
      j <- (i + 1) until longDocs.length
      (id1, t1) = longDocs(i)
      (id2, t2) = longDocs(j)
      if kept(id1).intersect(kept(id2)).nonEmpty
      if (t2.contains(t1) || t1.contains(t2)) && t1 != t2
    } yield (math.min(id1, id2), math.max(id1, id2))).toSet

    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the cold containment pair survives the prune
    assert(got.contains((300L, 301L)))
    // hot-only containments are pruned — consistently on both sides
    assert(!got.exists(p => p._1 == 400L || p._2 == 400L))
    // and the planted mega bucket contributes zero pairs
    assert(!got.exists(p => p._1 >= 100L && p._2 < 120L))
  }

  test("ngram df-prune: planted mega-gram corpus pruned identically to a same-semantics brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val cap = 8
    def triSet(t: String): Set[String] =
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    val docs0 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // mega-gram group: 20 docs made ONLY of the same 3 hot trigrams
    // (every shared gram has df > cap) — near-identical, but every
    // candidate route is pruned
    for (i <- 0 until 20) docs0 += ((100L + i, "abcabcabc" + ("abc" * (i % 3 + 1))))
    // a cold near-dup pair: long shared unique text
    docs0 += ((300L, "zqwxv unique shared payload kjhgf"))
    docs0 += ((301L, "zqwxv unique shared payload kjhgr"))
    val dirT = java.nio.file.Files.createTempDirectory("graft-ngramp").toString
    docs0.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dirT/documents.parquet")

    val got = TextOps.ngramJaccardPruned(spark, dirT, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // brute force of the same semantics: candidates via df<=cap grams,
    // scores over full sets, integer threshold
    val sets = docs0.toSeq.map { case (id, t) => (id, triSet(t.toLowerCase)) }
    val df = sets.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val want = (for {
      i <- sets.indices.iterator
      j <- (i + 1) until sets.length
      (id1, s1) = sets(i)
      (id2, s2) = sets(j)
      (a, b) = if (id1 < id2) ((id1, s1), (id2, s2)) else ((id2, s2), (id1, s1))
      if a._2.intersect(b._2).exists(g => df(g) <= cap)
      shared = a._2.intersect(b._2).size
      if shared * 5 >= (a._2.size + b._2.size) * 2
    } yield (a._1, b._1, shared.toLong, (a._2.size + b._2.size - shared).toLong)).toSet

    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the cold pair survives with exact full-set stats
    assert(got.exists(p => p._1 == 300L && p._2 == 301L))
    // the mega-gram group contributes zero pairs despite near-identity
    assert(!got.exists(p => p._1 >= 100L && p._1 < 120L && p._2 < 120L))
  }

  test("ngram pruned ⊆ exact on the test corpus; every dropped pair is hot-gram-only") {
    val exact = TextOps.ngramJaccardExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = TextOps.ngramJaccardPruned(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.subsetOf(exact), s"pruned invented pairs: ${(pruned -- exact).take(5)}")
    if ((exact -- pruned).nonEmpty) {
      def triSet(t: String): Set[String] =
        if (t.length < 3) Set.empty else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
      val texts = docLocal.map { case (id, t) => id -> t.toLowerCase }.toMap
      val df = texts.values.toSeq.flatMap(triSet).groupBy(identity).view.mapValues(_.size).toMap
      for ((a, b) <- exact -- pruned) {
        val hotOnly = triSet(texts(a)).intersect(triSet(texts(b))).forall(g => df(g) > 64)
        assert(hotOnly, s"pair ($a,$b) dropped but has a cold shared gram")
      }
    }
  }

  test("spread gate fires only on under-parallel scans (no gratuitous shuffle on real multi-split tables)") {
    import spark.implicits._
    val rows = docLocal.take(40).toSeq.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val one = java.nio.file.Files.createTempDirectory("spread-one").toString
    val many = java.nio.file.Files.createTempDirectory("spread-many").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$one/documents.parquet")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.mode("overwrite").parquet(s"$many/documents.parquet")
    def hasRoundRobin(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    assert(hasRoundRobin(TextOps.simhashDedup(spark, one)),
      "one-split scan must spread before the simhash UDF")
    assert(!hasRoundRobin(TextOps.simhashDedup(spark, many)),
      "multi-split scan must NOT pay a repartition")
    // and the gate is semantics-neutral
    val a = TextOps.simhashDedup(spark, one).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = TextOps.simhashDedup(spark, many).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("ngram pruned single-derivation: identical rows, gram explode planned once") {
    import org.apache.spark.sql.functions._
    def generates(df: org.apache.spark.sql.DataFrame): Int = {
      // count the FINAL adaptive plan only — AQE's toString appends an
      // "== Initial Plan ==" echo that textually repeats every subtree
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      "(?m)^[^\\n]*\\bGenerate explode".r.findAllIn(plan).length
    }
    // the round-3 four-consumer spelling, via the grams-table overload
    // with the grams derived inline (no persist) — the comparison twin
    val grams = TextOps.docs(spark, dir)
      .withColumn("t", lower(col("text")))
      .filter(length(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))).as("gram"))
    val old4 = TextOps.ngramJaccardPrunedOver(grams)
    val b = old4.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    // four-consumer form: Catalyst re-derives the explode once per
    // consumer (per-doc count, df prune, two recompute sides)
    assert(generates(old4) >= 4, s"expected >=4 explode derivations, got ${generates(old4)}")
    // the fused form: window-prune + reused-exchange self-join + memoized
    // text re-score — the explode appears at most twice in the plan text
    // (the two self-join branches, which canonicalize to one exchange)
    val fused = TextOps.ngramJaccardPruned(spark, dir)
    val a = fused.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(a == b, s"fused plan rows differ: missing=${(b.toSet -- a.toSet).take(3)} extra=${(a.toSet -- b.toSet).take(3)}")
    assert(a.nonEmpty)
    val g = generates(fused)
    assert(g <= 2, s"fused plan derives the explode $g times (want <= 2)")
    val plan = fused.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(g <= 1 || plan.contains("ReusedExchange"),
      s"two explode branches without a ReusedExchange:\n$plan")
  }

  test("ANN recall@5 vs brute-force cosine top-5") {
    val bf = EmbedOps.cosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = EmbedOps.annTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.map { case (v, nbrs) =>
      val hit = ann.getOrElse(v, Set.empty).intersect(nbrs).size
      hit.toDouble / nbrs.size
    }
    val mean = recalls.sum / recalls.size
    info(f"ANN recall@5 = $mean%.3f over ${recalls.size} queries")
    // this corpus is near-random (top-5 cos ~0.23-0.48) — the hardest
    // ANN regime; L=16 tables x 4 bits targets ~0.85 analytic recall
    assert(mean >= 0.7, s"ANN recall too low: $mean")
  }

  test("ANN scale path (co-partitioned join re-rank) == broadcast path, with no driver collect") {
    // force the join path by setting the broadcast gate below the corpus
    val joinPath = EmbedOps.annTopK(spark, dir, maxBroadcastVectors = 0L)
    val plan = joinPath.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected co-partitioned joins, got:\n$plan")
    val got = joinPath.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted.toSeq
    val want = EmbedOps.annTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sorted.toSeq
    assert(got == want)
  }

  test("hyperplane LSH sizes itself to the corpus dim: recall holds at dim != 64, ragged corpora fail loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // regression: round 3 hard-coded hyperplaneSig(64, ...) at the code
    // UDF, so a 32-dim corpus would have hashed zero-padded projections
    // (and a 768-dim one a truncated prefix) — recall degraded silently.
    // Planted 32-dim corpus: 8 groups of 3 near-identical unit vectors
    // (cos ~0.999) + 8 singletons; at that similarity the 16-table
    // collision bound makes a missed pair ~1e-9, so embedDedup must
    // reproduce the union-find over exact pairs EXACTLY.
    val dimT = 32
    val rnd = new java.util.Random(11L)
    def unit(): Array[Double] = Array.fill(dimT)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    for (g <- 0 until 8) {
      val base = unit()
      for (m <- 0 until 3)
        planted += ((g * 10L + m, base.map(_ + 0.05 * rnd.nextGaussian())))
    }
    for (s <- 0 until 8) planted += ((1000L + s, unit()))
    val dirT = java.nio.file.Files.createTempDirectory("graft-dim32").toString
    planted.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dirT/embeddings.parquet")
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / math.sqrt(na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val exact = (for {
      i <- planted.indices.iterator
      j <- (i + 1) until planted.length
      if cosR(planted(i)._2, planted(j)._2) >= 0.9
    } yield {
      val (a, b) = (planted(i)._1, planted(j)._1)
      if (a < b) (a, b) else (b, a)
    }).toSet
    def cluster(ids: Seq[Long], pairs: Set[(Long, Long)]): Map[Long, Long] = {
      val p = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (p(r) != r) r = p(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) p(rb) = ra else p(ra) = rb }
      }
      ids.map(i => i -> find(i)).toMap
    }
    val want = cluster(planted.map(_._1).toSeq, exact)
    val got = EmbedOps.embedDedup(spark, dirT, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"dim-32 clusters diverge: ${(want.toSet -- got.toSet).take(5)}")
    // annTopK on the same 32-dim corpus must agree with brute force on
    // the planted near-identical neighbors (rank-1 is the cos~0.999 twin)
    val ann = EmbedOps.annTopK(spark, dirT, k = 2).collect()
      .map(r => ((r.getLong(0), r.getInt(2)), r.getLong(1))).toMap
    for (g <- 0 until 8; m <- 0 until 3) {
      val id = g * 10L + m
      val grp = (0 until 3).map(g * 10L + _).toSet - id
      assert(grp.contains(ann((id, 1))), s"vec $id rank-1 not in its planted group")
    }
    // ragged corpus (one 16-dim vector among 32-dim): the code UDF's
    // require must fail the job loudly instead of hashing a prefix
    val dirR = java.nio.file.Files.createTempDirectory("graft-ragged").toString
    (planted.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) } :+
      ((9999L, Array.fill(16)(1.0f))))
      .toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dirR/embeddings.parquet")
    val ex = intercept[Exception] {
      EmbedOps.embedDedup(spark, dirR, tau = 0.9).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("corpus dim")), s"wrong failure: $ex")
  }

  test("embedding cosine dups == brute-force threshold pairs (exact set + score equality)") {
    val data = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / math.sqrt(na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = (for {
      i <- data.indices.iterator
      j <- (i + 1) until data.length
      (id1, v1) = data(i)
      (id2, v2) = data(j)
      (a, b) = if (id1 < id2) (id1, id2) else (id2, id1)
      c = cosR(v1, v2)
      if c >= 0.35
    } yield (a, b, c)).toSet
    val got = EmbedOps.cosineDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty, "threshold too high: trivial empty oracle")
  }

  test("embedding near-dup clusters: planted groups exact; sf corpus refines exact clusters with recall >= 0.95") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // union-find over a pair set
    def cluster(ids: Seq[Long], pairs: Set[(Long, Long)]): Map[Long, Long] = {
      val p = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (p(r) != r) r = p(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) p(rb) = ra else p(ra) = rb }
      }
      ids.map(i => i -> find(i)).toMap
    }
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / math.sqrt(na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // planted corpus: 10 groups of 3 near-identical vectors (cos ~0.999)
    // + 10 singletons, deterministic
    val rnd = new java.util.Random(7L)
    def unit(): Array[Double] = Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    for (g <- 0 until 10) {
      val base = unit()
      for (m <- 0 until 3)
        planted += ((g * 10L + m, base.map(_ + 0.05 * rnd.nextGaussian())))
    }
    for (s <- 0 until 10) planted += ((1000L + s, unit()))
    val dirT = java.nio.file.Files.createTempDirectory("graft-embdd").toString
    planted.toSeq.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding").withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dirT/embeddings.parquet")
    val exactPlanted = (for {
      i <- planted.indices.iterator
      j <- (i + 1) until planted.length
      if cosR(planted(i)._2, planted(j)._2) >= 0.9
    } yield {
      val (a, b) = (planted(i)._1, planted(j)._1)
      if (a < b) (a, b) else (b, a)
    }).toSet
    val wantPlanted = cluster(planted.map(_._1).toSeq, exactPlanted)
    val gotPlanted = EmbedOps.embedDedup(spark, dirT, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // at cos ~0.999 the 16x3-bit collision bound makes a missed pair
    // ~1e-9: clusters must be EXACTLY the union-find over exact pairs
    assert(gotPlanted == wantPlanted,
      s"diff=${(wantPlanted.toSet -- gotPlanted.toSet).take(5)}")

    // sf corpus (near-random, tau at the default 0.35): every engine
    // merge must be justified by an exact pair (refinement = precision
    // 1.0 through transitivity), and >= 95% of exact pairs co-cluster
    val exactSf = EmbedOps.cosineDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val wantSf = cluster(ids, exactSf)
    val gotSf = EmbedOps.embedDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    for ((id, c) <- gotSf; (id2, c2) <- gotSf if c == c2 && id < id2)
      assert(wantSf(id) == wantSf(id2), s"false merge: $id,$id2")
    val recall = exactSf.count { case (a, b) => gotSf(a) == gotSf(b) }.toDouble / exactSf.size
    info(f"embed near-dup pair recall = $recall%.3f over ${exactSf.size} exact pairs")
    assert(recall >= 0.95, s"recall too low: $recall")

    // the scale path (broadcast gate forced off -> co-partitioned
    // shuffle-hash verify via the shared joinScores helper, whose
    // SHJ plan the ANN scale-path test above asserts) must produce
    // identical clusters
    val gotJoin = EmbedOps.embedDedup(spark, dir, maxBroadcastVectors = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotJoin == gotSf, "scale-path clusters differ from broadcast-path clusters")
  }

  test("nearest centroid matches exact local recomputation") {
    val rows = EmbedOps.nearestCentroid(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    // exact oracle: centroids + assignment recomputed locally
    val data = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val byLabel = data.groupBy(_._3)
    val centroids = byLabel.map { case (l, rs) =>
      val c = new Array[Double](64)
      rs.foreach { case (_, v, _) => (0 until 64).foreach(i => c(i) += v(i)) }
      (0 until 64).foreach(i => c(i) /= rs.length)
      l -> c
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    var agree = 0
    data.foreach { case (id, v, _) =>
      val best = centroids.map { case (l, c) => (math.rint(cos(v, c) * 1e6) / 1e6, l) }
        .toSeq.sortBy { case (s, l) => (-s, l) }.head._2
      if (rows(id) == best) agree += 1
    }
    // allow a handful of 6-decimal rounding ties to differ
    assert(agree >= data.length - 2, s"agreement $agree/${data.length}")
  }

  test("self-verifying driver gates report clean verdicts (simhash/ann/ivf)") {
    assert(TextOps.simhashGate(spark, dir).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 1)))
    assert(EmbedOps.annGate(spark, dir).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 1)))
    assert(EmbedOps.ivfGate(spark, dir).collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      == Seq((1, 1)))
  }

  test("lang id emits deterministic predictions from the profile set") {
    val rows = TextOps.langId(spark, dir).collect()
    assert(rows.length == docLocal.length)
    val langs = rows.map(_.getString(1)).toSet
    assert(langs.subsetOf(Set("en", "de", "fr", "es", "zh")))
    val again = TextOps.langId(spark, dir).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(again == rows.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)
  }
}
