package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.TextFunctions

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // Planted corpus: 0/1 identical, 2 near-dup of 0 (one word changed),
  // 3/4 unrelated.
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark query engines at scale"),
    (4L, "unrelated words forming another document entirely for the test"))
    .toDF("doc_id", "text")

  test("graft_shingles matches the HOF formulation bit-for-bit") {
    graft.functions.TextExpressionFunctions.register(spark)
    for (n <- Seq(2, 3, 5)) {
      val fast = docs.select($"doc_id",
        explode(graft.functions.TextExpressionFunctions
          .wordShinglesFast(TextFunctions.tokens($"text"), n)).as("s"))
      val hof = docs.select($"doc_id",
        explode(TextFunctions.wordShingles(
          TextFunctions.tokens($"text"), n)).as("s"))
      assert(fast.exceptAll(hof).union(hof.exceptAll(fast)).count() == 0,
        s"n=$n shingle mismatch")
    }
    // short doc guard: fewer tokens than n yields an empty set, not null
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(graft.functions.TextExpressionFunctions
        .wordShinglesFast(TextFunctions.tokens($"text"), 3).as("sh"))
      .collect()
    assert(short.head.getSeq[String](0).isEmpty)
    // null tokens: both formulations yield an empty array (the HOF's
    // otherwise-branch; the expression's explicit null handling)
    val nulls = Seq((10L, Option.empty[String])).toDF("doc_id", "text")
    val nFast = nulls.select(graft.functions.TextExpressionFunctions
      .wordShinglesFast(TextFunctions.tokens($"text"), 3).as("sh")).collect()
    val nHof = nulls.select(TextFunctions.wordShingles(
      TextFunctions.tokens($"text"), 3).as("sh")).collect()
    assert(nFast.head.getSeq[String](0).isEmpty)
    assert(nHof.head.getSeq[String](0).isEmpty)
  }

  test("exact dedup keeps first doc per identical text") {
    val out = Dedup.exactDedup(docs)
    assert(out.count() == 4)
    assert(out.filter($"doc_id" === 1L).count() == 0)
  }

  test("ngram jaccard finds identical and near-dup pairs only") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
    val exact = pairs.find(p => (p._1, p._2) == (0L, 1L)).get
    assert(exact._3 == 1000000L) // identical docs -> jaccard 1.0
  }

  test("ngram jaccard frequency cap drops hot shingles but keeps exact dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9,
      maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("winnow pairs: identical docs share fingerprints, unrelated do not") {
    val pairs = Dedup.winnowPairs(docs, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)), s"identical docs must pair: $keys")
    assert(!keys.exists(p => Set(p._1, p._2).exists(Set(3L, 4L))),
      s"unrelated docs must not pair: $keys")
    // disjoint first/last windows guarantee >= 2 distinct shared fps
    // for identical docs
    val n01 = pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3
    assert(n01 >= 2L)
  }

  test("minhash LSH candidates cover the true near-dup pairs (recall)") {
    val truth = Set((0L, 1L), (0L, 2L), (1L, 2L))
    val cand = Dedup.minHashLshPairs(docs, n = 3, numHashes = 64,
      bands = 16, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cand), s"missing: ${truth.diff(cand)}")
    val est = Dedup.minHashLshPairs(docs, n = 3, numHashes = 64,
      bands = 16, threshold = 0.4)
      .filter($"d1" === 0L && $"d2" === 1L)
      .collect().head.getLong(2)
    assert(est == 1000000L) // identical docs -> all minhashes equal
  }

  test("ann recall report: bounded fields, and full recall at full probe") {
    val rows = Similarity.annRecallQuery(spark, sf0001).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (nTrue, nHits, nCand, pct) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nTrue == 10L)
      assert(nHits >= 0L && nHits <= nTrue)
      assert(nHits <= nCand, "cannot hit more than the candidate volume")
      assert(pct == nHits * 100 / nTrue)
    }
    // exact-recovery configuration: planes=0 puts every vector in one
    // bucket, so the approximate side IS brute force -> recall 100
    val full = Similarity.annRecallQuery(spark, sf0001,
      planes = 0, probeFlips = 0).collect()
    assert(full.forall(_.getLong(4) == 100L),
      s"planes=0 must recover recall 100: ${full.map(_.getLong(4)).toSeq}")
  }

  test("recall curve is monotone in the probe budget, full sweep = all buckets") {
    val rows = Similarity.annRecallCurveQuery(spark, sf0001,
      budgets = Seq(1, 3, 7)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.size == 12) // 4 queries x 3 budgets
    for (q <- 0L until 4L) {
      val (h1, c1, _) = rows((q, 1L))
      val (h3, c3, _) = rows((q, 3L))
      val (h7, c7, _) = rows((q, 7L))
      // a bigger probe budget can only add candidates and hits
      assert(c1 <= c3 && c3 <= c7, s"q$q candidates not monotone")
      assert(h1 <= h3 && h3 <= h7, s"q$q hits not monotone")
    }
    // budget 3 must agree with q150's fixed 3-probe configuration
    val fixed = Similarity.annRecallQuery(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    for (q <- 0L until 4L)
      assert(rows((q, 3L))._1 == fixed(q)._1 &&
        rows((q, 3L))._2 == fixed(q)._2,
        s"q$q: curve@3 must equal the q150 report")
  }

  test("decontamination flags corpus docs overlapping the benchmark") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "bench"),
      (1L, "the quick brown fox jumps over the lazy dog", "web"), // leaked
      (2L, "the quick brown fox sleeps all day long now", "web"), // partial
      (3L, "completely different content about spark engines", "web"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.benchmarkOverlap(d, "bench", n = 3, minOverlap = 5L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (7L, 1L))     // identical: all 7 shingles, flagged
    assert(out(2L)._1 == 2L)        // "the quick brown","quick brown fox"
    assert(out(2L)._2 == 0L)        // below threshold -> not contaminating
    assert(!out.contains(3L))       // no shared shingle -> absent
    assert(!out.contains(0L))       // bench docs never self-report
  }

  test("minhash sketch aggregate equals the composed min(xxhash64) form") {
    graft.functions.TextExpressionFunctions.register(spark)
    graft.functions.SketchFunctions.register(spark)
    val ex = docs.select($"doc_id",
      explode(graft.functions.TextExpressionFunctions
        .wordShinglesFast(TextFunctions.tokens($"text"), 3)).as("s"))
      .select($"doc_id", xxhash64($"s").as("h"))
    val viaAgg = ex.groupBy("doc_id")
      .agg(graft.functions.SketchFunctions.minHashSig($"h", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mins = (0 until 16).map(i => min(xxhash64($"h", lit(i))).as(s"m$i"))
    val viaComposed = ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to 16).map(r.getLong(_)).toSeq).toMap
    assert(viaAgg == viaComposed)
    // SQL surface works too (registered function)
    docs.createOrReplaceTempView("mh_docs")
    val sqlRows = spark.sql(
      """SELECT doc_id, graft_minhash_sig(xxhash64(text), 4) AS sig
         FROM mh_docs GROUP BY doc_id""").collect()
    assert(sqlRows.length == docs.count())
  }

  test("minhash tuning: S-curve is monotone and bandsFor hits the knee") {
    import Dedup.MinHashTuning._
    // monotone in s for any configuration
    val ss = (1 to 9).map(_ / 10.0)
    for ((b, r) <- Seq((16, 4), (8, 8), (32, 2)))
      assert(ss.map(collisionProbability(_, b, r)) ==
        ss.map(collisionProbability(_, b, r)).sorted)
    // the engine's registered configuration (16x4) targets ~0.5
    assert(math.abs(curveThreshold(16, 4) - 0.5) < 0.1)
    assert(bandsFor(64, 0.5) == 16)
    // more bands -> higher recall at fixed s
    assert(collisionProbability(0.4, 32, 2) >
      collisionProbability(0.4, 8, 8))
  }

  test("portable minhash/simhash: identical docs collide exactly") {
    val mh = Dedup.minHashLshPairs(docs, n = 3, numHashes = 64, bands = 16,
      threshold = 0.5, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(mh((0L, 1L)) == 1000000L) // identical docs: all 64 minima equal
    val sh = Dedup.simHashPairs(docs, maxHamming = 3, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sh((0L, 1L)) == 0L)
    // portable sigs stay within 60 bits
    val sigs = Dedup.simHashSignatures(docs, portable = true)
      .collect().map(_.getLong(1))
    assert(sigs.forall(s => s >= 0L && s < (1L << 60)))
  }

  test("simhash: identical docs at hamming 0; near-dups within 3") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zero = pairs.find(p => (p._1, p._2) == (0L, 1L))
    assert(zero.exists(_._3 == 0L))
  }

  test("winnowed fingerprints: identical docs share the full sketch") {
    val fp = docs.select($"doc_id",
      TextFunctions.winnowedFingerprints(
        TextFunctions.tokens($"text"), 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L).intersect(fp(2L)).nonEmpty)
    assert(fp(0L).intersect(fp(3L)).isEmpty)
  }

  test("brute-force cosine topk is exact and lsh recall includes top hit") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 5)
      .collect().map(_.getLong(0))
    assert(brute.length == 5)
    val lsh = Similarity.lshTopK(emb, queryId = 0, k = 5, planes = 4)
      .collect().map(_.getLong(0))
    // LSH candidates are a subset of the corpus; sanity: results are
    // scored identically, so any overlap must preserve brute ordering.
    assert(lsh.toSet.subsetOf(emb.select("vec_id").as[Long].collect().toSet))
    // multi-probe widens the candidate set monotonically (hamming-1
    // buckets added): with k above every pool size, single-probe
    // results must be a strict subset of multi-probe results
    val all = emb.count().toInt + 1
    val mp = Similarity.lshTopK(emb, queryId = 0, k = all, planes = 4,
      probeFlips = 4).collect().map(_.getLong(0))
    val sp = Similarity.lshTopK(emb, queryId = 0, k = all, planes = 4)
      .collect().map(_.getLong(0))
    assert(sp.toSet.subsetOf(mp.toSet))
    assert(mp.length > sp.length, s"multi-probe ${mp.length} vs ${sp.length}")
  }

  test("portable ANN buckets candidates and returns results from them") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val out = Similarity.portableLshTopK(emb, queryId = 0, k = 10,
      planes = 6, probeFlips = 2).collect()
    assert(out.nonEmpty && out.length <= 10)
    val sims = out.map(_.getLong(1)).toSeq
    assert(sims == sims.sorted.reverse, "similarities must be descending")
    // genuinely approximate: the probed buckets hold well under the
    // full corpus (expected ~3/64), so the result set must differ from
    // brute force if any true neighbor hashes elsewhere — at minimum,
    // candidates are a corpus subset and deterministic across runs
    val again = Similarity.portableLshTopK(emb, queryId = 0, k = 10,
      planes = 6, probeFlips = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // planes=0 degenerates to a single bucket = exact recovery
    val exact = Similarity.portableLshTopK(emb, queryId = 0, k = 5,
      planes = 0, probeFlips = 0).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(exact == brute, s"planes=0 must equal brute force: $exact vs $brute")
  }

  test("hashed-key ngram index yields identical pairs to string keys") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def pairs(hashed: Boolean) =
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.6,
        maxDocFreq = 50, hashedKeys = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (str, hsh) = (pairs(false), pairs(true))
    assert(str.nonEmpty && hsh == str,
      s"hashed-key index must reproduce the string-key pairs: " +
        s"${(hsh -- str).take(3)} extra, ${(str -- hsh).take(3)} missing")
  }

  test("incremental dedup flags batch-vs-corpus dups only, asymmetric") {
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      mk(1, base), mk(2, base), // corpus-internal dup pair: must NOT appear
      mk(3, "completely different corpus text about spark physical plans and shuffles"))
      .toDF("doc_id", "text")
    val batch = Seq(
      mk(10, base), // dup of corpus docs 1 and 2 -> dup_of = 1
      mk(11, "a genuinely novel document with vocabulary shared with nobody else at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus, n = 3, numHashes = 64,
      bands = 16, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == Set(10L, 11L), "one row per NEW doc only")
    assert(out(10L) == ((1L, 1000000L, 1L)),
      s"identical batch doc must match lowest corpus id at est 1e6: ${out(10L)}")
    assert(out(11L) == ((11L, 0L, 0L)),
      s"novel doc must be clean (dup_of = self): ${out(11L)}")
  }

  test("semantic dedup labels every vector once, keepers precede dups") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val out = Similarity.semanticDedup(emb).collect()
    assert(out.length == emb.count(), "one label row per vector")
    val keeperIdx = out.head.fieldIndex("keeper")
    val dupIdx = out.head.fieldIndex("is_dup")
    out.foreach { r =>
      val (v, keeper, isDup) = (r.getLong(0), r.getLong(keeperIdx),
        r.getLong(dupIdx))
      assert(keeper <= v, s"keeper $keeper must not be later than $v")
      assert((isDup == 1L) == (keeper != v))
    }
    val nDups = out.count(_.getLong(dupIdx) == 1L)
    assert(nDups > 0, "corpus has semantic near-dups at tau=0.3")
    assert(nDups < out.length, "not everything is a dup")
    // a keeper is never itself marked dup-of-someone-later... it CAN be
    // a dup of an even-earlier vector; but it must exist in the output
    val ids = out.map(_.getLong(0)).toSet
    assert(out.forall(r => ids.contains(r.getLong(keeperIdx))))
  }

  test("edit-distance blocking finds small-edit pairs, symmetric-free") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val out = Dedup.editBlockedPairs(docs).collect()
    assert(out.nonEmpty, "en corpus has blocked near-edit pairs")
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs emitted once, d1 < d2")
      assert(r.getLong(2) <= 16, "verify threshold respected")
    }
    // tightening the threshold can only shrink the result
    val tight = Dedup.editBlockedPairs(docs, maxDist = 4).collect()
    assert(tight.length <= out.length)
    val loosePairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.forall(r => loosePairs.contains((r.getLong(0), r.getLong(1)))))
  }

  test("IVF topk probes a cluster subset, deterministic, well-formed") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val a = Similarity.ivfTopK(emb, queryId = 0, k = 5, nClusters = 8,
      nprobe = 2).collect()
    val b = Similarity.ivfTopK(emb, queryId = 0, k = 5, nClusters = 8,
      nprobe = 2).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    assert(a.length <= 5 && a.nonEmpty)
    val sims = a.map(_.getLong(1)).toSeq
    assert(sims == sims.sorted.reverse, "similarities must be descending")
    // probing ALL clusters must recover the exact brute-force answer
    val full = Similarity.ivfTopK(emb, queryId = 0, k = 5, nClusters = 8,
      nprobe = 8).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute, s"nprobe=k must equal brute force: $full vs $brute")
  }

  test("IVF anchor topk: full probe = brute force, nprobe bounds clusters") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    // probing every anchor scores the whole corpus -> the top-k rounded
    // sims must equal brute force's (as a multiset: both pick the k
    // largest rounded values, whatever the intra-tie order)
    val full = Similarity.ivfAnchorTopK(emb, queryId = 0, k = 10,
      nAnchors = 8, nprobe = 8).collect()
    val brute = Similarity.bruteForceTopK(emb, queryId = 0, k = 10).collect()
    assert(full.map(_.getLong(2)).sorted.toSeq ==
      brute.map(_.getLong(1)).sorted.toSeq)
    // nprobe=1: every returned row sits in ONE cluster
    val one = Similarity.ivfAnchorTopK(emb, queryId = 0, k = 10,
      nAnchors = 8, nprobe = 1).collect()
    assert(one.nonEmpty && one.map(_.getInt(1)).toSet.size == 1)
    // the approximate registration (nprobe=2) is deterministic and sorted
    val a = Similarity.ivfAnchorTopK(emb, queryId = 0, k = 10,
      nAnchors = 8, nprobe = 2).collect()
    val b = Similarity.ivfAnchorTopK(emb, queryId = 0, k = 10,
      nAnchors = 8, nprobe = 2).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    assert(a.map(_.getInt(1)).toSet.size <= 2)
    val sims = a.map(_.getLong(2)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("embedding near-dup pairs ordered and bounded by bucket joins") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val pairs = Dedup.embeddingNearDupPairs(emb, planes = 4, threshold = 0.3)
    val rows = pairs.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("containment catches a quoted excerpt that Jaccard misses") {
    import spark.implicits._
    // doc 1 = 12 tokens; doc 2 = doc 1's text embedded in 60 tokens of
    // filler -> containment(1 in 2) = 1.0 while Jaccard stays low
    val quoted = (1 to 12).map(i => s"q$i").mkString(" ")
    val filler = (1 to 48).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quoted),
      (2L, filler + " " + quoted),
      (3L, (100 to 130).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(cont.contains((1L, 2L)), s"excerpt must be flagged: $cont")
    assert(cont((1L, 2L)) == 1000000L)
    assert(!cont.contains((2L, 1L)),
      "the long doc is NOT contained in the short one")
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.6,
      maxDocFreq = 50).collect()
    assert(jac.isEmpty, "resemblance must miss the excerpt pair")
  }

  test("embed decontamination flags a planted eval copy at sim 1e6") {
    import spark.implicits._
    // vec 10 is the eval item (10 % 10 == 0); vec 1 copies it exactly,
    // vec 2 is orthogonal -> only vec 1 is flagged, against eval 10.
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val emb = Seq((10L, a), (1L, a), (2L, b)).toDF("vec_id", "embedding")
    val out = Similarity.embedDecontaminate(emb, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L, 1000000L)), out.toSeq.toString)
  }

  test("embed decontamination argmax picks the best eval match") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val out = Similarity.embedDecontaminate(emb, threshold = 0.3).collect()
    assert(out.nonEmpty)
    // flagged rows carry the max over ALL eval items: recompute one
    // row's score set brute-force and compare
    val v = out.head.getLong(0)
    val best = emb.filter(col("vec_id") % 10 === 0)
      .crossJoin(broadcast(emb.filter(col("vec_id") === v)
        .select(col("embedding").as("q"))))
      .select(col("vec_id"),
        (round(Similarity.cosine(col("embedding"), col("q")), 6) * 1000000)
          .cast("long").as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(1)
      .collect().head
    assert(best.getLong(1) == out.head.getLong(2))
    assert(best.getLong(0) == out.head.getLong(1))
  }

  test("label noise: a planted mislabel inside a tight cluster is " +
    "the only suspect") {
    // cluster A around (1,0): v1-v3 labeled 0, v4 mislabeled 9;
    // cluster B around (0,1): v5-v8 labeled 1. k=3 neighborhoods stay
    // within each cluster, so only v4's neighbors unanimously disagree
    def v(x: Float, y: Float) = Array(x, y)
    val emb = Seq(
      (1L, v(1.00f, 0.01f), 0L), (2L, v(0.99f, 0.02f), 0L),
      (3L, v(1.01f, 0.00f), 0L), (4L, v(1.00f, 0.03f), 9L),
      (5L, v(0.01f, 1.00f), 1L), (6L, v(0.02f, 0.99f), 1L),
      (7L, v(0.00f, 1.01f), 1L), (8L, v(0.03f, 1.00f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoise(emb, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(out.size == 8)
    assert(out(4L) == ((3L, 1)), "the planted mislabel must be flagged")
    (out - 4L).foreach { case (id, (_, suspect)) =>
      assert(suspect == 0, s"vec $id wrongly flagged")
    }
  }

  test("dedup method comparison: three methods report, coverage is " +
    "bounded by pair yield, the index out-finds the exact groups") {
    val out = graft.operators.Extensions
      .q209DedupMethodCompare(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet ==
      Set("exact", "jaccard_index", "sorted_neighborhood"))
    out.foreach { case (m, (pairs, docs)) =>
      assert(docs <= 2 * pairs || pairs == 0, s"$m coverage bound")
      assert(pairs == 0 || docs >= 2, s"$m pairs imply >= 2 docs")
    }
    // the fixture has near-dups but no exact twins (checked by the
    // sorted-neighborhood spec), so the index must strictly out-find
    assert(out("jaccard_index")._1 > out("exact")._1)
  }

  test("centroid drift: mirrored snapshots drift zero, a planted " +
    "shift reports its exact quantized L1") {
    def v(x: Float, y: Float) = Array(x, y)
    // label 0: snapshots identical (even/odd ids mirror) -> drift 0
    // label 1: odd snapshot shifted +0.25 in dim 0 -> L1 = 256 units
    val emb = Seq(
      (0L, v(0.10f, 0.20f), 0L), (1L, v(0.10f, 0.20f), 0L),
      (2L, v(0.30f, 0.40f), 0L), (3L, v(0.30f, 0.40f), 0L),
      (4L, v(0.50f, 0.50f), 1L), (5L, v(0.75f, 0.50f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidDrift(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out(0L) == ((2L, 2L, 0L)))
    // 0.25 * 1024 = 256 exactly (quarter is a power-of-two fraction)
    assert(out(1L) == ((1L, 1L, 256L)))
  }

  test("hard negatives: cross-cluster vectors are the negatives, " +
    "the cluster outlier is the hardest positive, margins signed") {
    def v(x: Float, y: Float) = Array(x, y)
    // label 0: two tight (v1, v2) plus one outlier (v3, orthogonal-ish)
    // label 1: v4, v5 near the outlier — v3's hardest negative is
    // closer than its hardest positive, so its margin is negative
    val emb = Seq(
      (1L, v(1.00f, 0.00f), 0L), (2L, v(0.99f, 0.01f), 0L),
      (3L, v(0.10f, 0.99f), 0L),
      (4L, v(0.00f, 1.00f), 1L), (5L, v(0.02f, 0.98f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4),
        r.getLong(6))).toMap
    assert(out.size == 5)
    // v1's hardest positive is the OUTLIER v3 (least-similar same
    // label); its hardest negative (v5) is further still -> margin > 0
    assert(out(1L)._2 == 3L && out(1L)._3 > 0)
    // v3 sits in label-1 territory: hardest negative more similar
    // than any same-label vector -> negative margin
    assert(out(3L)._3 < 0, s"outlier margin must be negative: ${out(3L)}")
    assert(Set(4L, 5L).contains(out(3L)._1))
  }

  test("blocked kNN degenerates to the exact pipeline when the probe " +
    "set covers every bucket") {
    // planes=1 + 1 probe flip scans both buckets — the blocked frame
    // must then equal the exhaustive one, so q210/q211 must reproduce
    // q203/q204 bit-for-bit
    val emb = graft.sources.Tables.embeddings(spark, sf0001).limit(60)
      .localCheckpoint()
    val exactLn = Similarity.labelNoise(emb).collect()
    val blockedLn = Similarity.labelNoiseFromPairs(
      Similarity.blockedLabeledPairs(emb, planes = 1, probeFlips = 1))
      .collect()
    assert(exactLn.toSeq == blockedLn.toSeq)
    val exactHn = Similarity.hardNegatives(emb).collect()
    val blockedHn = Similarity.hardNegativesFromPairs(
      Similarity.blockedLabeledPairs(emb, planes = 1, probeFlips = 1))
      .collect()
    assert(exactHn.toSeq == blockedHn.toSeq)
  }

  test("rank fusion: well-formed fused list; consensus outranks " +
    "single-list membership at equal ranks") {
    val rows = graft.operators.Similarity
      .rankFusionQuery(spark, sf0001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 3L,
        s"n_lists out of range: $r")
      // rrf bounds: best possible = 3 lists at rank 1; worst = one
      // list at rank 10
      assert(r.getLong(2) >= 1000000L / 70 && r.getLong(2) <= 3 * (1000000L / 61))
    }
    // descending fused score with vec_id tie-break
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a.getLong(2) > b.getLong(2) ||
        (a.getLong(2) == b.getLong(2) && a.getLong(0) < b.getLong(0))
    })
    // RRF algebra: a 2-list member always beats any single-list
    // member whose best rank is no better (1e6/(60+r) decreasing)
    val byLists = rows.groupBy(_.getLong(1))
    for (two <- byLists.get(2L); one <- byLists.get(1L))
      assert(two.map(_.getLong(2)).min > 0 &&
        one.map(_.getLong(2)).max <= 1000000L / 61)
  }

  test("hard-negative fidelity: full probe coverage degenerates to " +
    "perfect agreement; the sf0.001 report is internally consistent") {
    // planes=1 + 1 flip covers both buckets -> blocked == exact
    val emb = graft.sources.Tables.embeddings(spark, sf0001).limit(60)
      .localCheckpoint()
    val full = Similarity.hardNegativeFidelity(emb, planes = 1,
      probeFlips = 1).collect().head
    assert(full.getLong(0) == full.getLong(1), "coverage must be total")
    assert(full.getLong(2) == full.getLong(0), "same_neg must be total")
    assert(full.getLong(3) == full.getLong(0), "same_pos must be total")
    assert(full.getLong(4) == 0L, "sim error must vanish")
    // real blocking: blocked ⊆ exact, agreements ⊆ blocked, error ≥ 0
    val r = Similarity.hardNegativeFidelityQuery(spark, sf0001)
      .collect().head
    assert(r.getLong(1) <= r.getLong(0))
    assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(1))
    assert(r.getLong(4) >= 0L)
  }

  test("kNN blocking recall report: LSH candidates beat a random " +
    "same-size candidate set and recover most exact suspects") {
    val r = Similarity.knnBlockRecallQuery(spark, sf0001).collect().head
    val (nAnchors, exactS, blockedS, bothS) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val recall = r.getLong(6)
    assert(nAnchors == 500L)
    // a RANDOM candidate set of the same size would recover
    // ~(1+probeFlips)/2^planes = 3/16 ≈ 19% of the exact top-k pairs;
    // the LSH blocks must do strictly better or the index adds nothing
    assert(recall > 19L, s"pair recall $recall% no better than random")
    // suspect-level faithfulness: ≥80% of exact suspects also flagged
    // by the blocked path (the q150-style grade for this family)
    assert(exactS > 0 && bothS * 100 / exactS >= 80,
      s"blocked path recovered $bothS of $exactS exact suspects")
    assert(blockedS <= nAnchors)
  }

  test("sorted neighborhood: twins collate at 1e6, near variants at " +
    "their exact jaccard, cross-language rows never pair") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma delta"),    // exact twin of 1
      (3L, "en", "alpha beta gamma epsilon"),  // jac 3/5 = threshold
      (4L, "en", "zzz completely different words"),
      (5L, "fr", "alpha beta gamma delta")     // other stratum
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map(
      (1L, 2L) -> 1000000L,
      (1L, 3L) -> 600000L,
      (2L, 3L) -> 600000L))
    // corpus sanity: any pair found at sf scale respects the floor
    val corpus = Dedup.sortedNeighborhoodPairs(
      graft.sources.Tables.documents(spark, sf0001)).collect()
    corpus.foreach(r =>
      assert(r.getLong(2) >= Dedup.SnThresholdE6 &&
        r.getLong(2) <= 1000000L))
  }

  test("ppjoin: planted pairs found with exact scores; sub-threshold " +
    "near-dups excluded; single-shingle docs handled") {
    val corpus = Seq(
      // identical pair
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),
      // 11 shared tokens, last differs: inter 9, union 11 -> 818181
      (3L, "a b c d e f g h i j k z"),
      // unrelated
      (4L, "p q r s t u v w x y zz ab"),
      // three tokens -> exactly one shingle each, identical pair
      (5L, "tiny doc here"),
      (6L, "tiny doc here")).toDF("doc_id", "text")
    val out = Dedup.ppjoinPairs(corpus).as[(Long, Long, Long)]
      .collect().toList
    assert(out == List(
      (1L, 2L, 1000000L), (1L, 3L, 818181L), (2L, 3L, 818181L),
      (5L, 6L, 1000000L)), out.toString)
  }

  test("ppjoin: lossless vs the brute-force exact join on the real " +
    "sf0.001 corpus (the prefix-filter theorem end to end)") {
    val corpus = graft.sources.Tables.documents(spark, sf0001)
    val fast = Dedup.ppjoinPairs(corpus).as[(Long, Long, Long)]
      .collect().toSet
    // reference: all-pairs exact Jaccard over the same shingles
    val sh = corpus.select(col("doc_id"),
      TextFunctions.wordShingles(
        TextFunctions.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val ref = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("""CAST(size(array_intersect(a.sh, b.sh)) AS BIGINT)
                * 1000000 div greatest(size(a.sh) + size(b.sh)
                - size(array_intersect(a.sh, b.sh)), 1)""").as("jac_e6"))
      .filter(col("jac_e6") >= Dedup.PpThresholdE6)
      .as[(Long, Long, Long)].collect().toSet
    assert(fast == ref,
      s"missing=${ref -- fast} extra=${fast -- ref}")
  }

  test("truncation recall: a prefix that misranks scores 0, the " +
    "full width is 1.0 by definition, zero-hit widths keep their row") {
    // query 0 = [1,0,0,1]; v1 = [1,0,0,-1] (full cos 0, prefix-2
    // cos 1), v2 = [1,0,0,1] (full cos 1, prefix-2 cos 1, loses the
    // prefix tie to v1 by id) -> recall@1: dims 2 = 0, dims 4 = 1
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 1f)),
      (1L, Array(1f, 0f, 0f, -1f)),
      (2L, Array(1f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.truncationRecall(emb, Seq(2, 4),
        nQueries = 1, k = 1)
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((2L, 0L, 0L), (4L, 1L, 1000000L)), out.toString)
  }

  test("truncation recall: widths that preserve the ranking score " +
    "full recall; real-corpus report is monotone-bounded") {
    // all information in the first two dims -> every width agrees
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(2f, 0f, 0f, 0f)),
      (2L, Array(1f, 1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.truncationRecall(emb, Seq(2, 4),
        nQueries = 1, k = 2)
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((2L, 2L, 1000000L), (4L, 2L, 1000000L)))
    val real = Similarity.truncationRecallQuery(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(real.length == 4)
    assert(real.last._3 == 1000000L, "full width must be exact")
    real.foreach(r => assert(r._3 >= 0L && r._3 <= 1000000L))
  }

  test("dedup agreement: identical twins are found by all three " +
    "families — full matrix at agreement 1.0") {
    val twins = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "en", "completely different words appear here right now"))
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.Extensions.dedupAgreement(twins)
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    assert(out.map(r => (r._1, r._2)) == List(
      ("jaccard_index", "minhash_lsh"),
      ("jaccard_index", "sorted_neighborhood"),
      ("minhash_lsh", "sorted_neighborhood")))
    assert(out.forall(r => r._3 == 1L && r._4 == 1L && r._5 == 1L &&
      r._6 == 1000000L), out.toString)
  }

  test("dedup agreement: intersection bounded by both sets, " +
    "agreement within [0, 1e6] on the real corpus") {
    val out = SparkEntry.queries("q224_dedup_agreement")(spark, sf0001)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r._5 <= math.min(r._3, r._4), r.toString)
      assert(r._6 >= 0L && r._6 <= 1000000L, r.toString)
    }
  }
}
