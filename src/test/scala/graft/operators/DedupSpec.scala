package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // near-dup of 1
    (3L, "completely different words about spark query engines"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (5L, "tiny")                                                 // < 3 tokens
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(out.length == 4) // 1&4 collapse
    val dupGroup = out.find(_._3 == 2L).get
    assert(dupGroup._2 == 1L)
  }

  test("duplicationBy attributes cross-source dup drops to the copying source") {
    val d = Seq(
      (1L, "orig", "a"),
      (2L, "orig", "b"),    // b's copy of a's doc 1 → drops
      (3L, "unique b", "b"),
      (4L, "orig", "b"),    // second copy in b → drops
      (5L, "b first", "b"),
      (6L, "b first", "a")  // a copies b's doc 5 → drops in SOURCE a
    ).toDF("doc_id", "text", "source")
    val out = Dedup.duplicationBy(d, "doc_id", "text", "source")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("a") == ((2L, 1L)), s"source a: ${out("a")}")
    assert(out("b") == ((4L, 2L)), s"source b: ${out("b")}")
  }

  test("components: a 60-hop chain converges inside the round cap (pointer jump)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // pure path graphs — the worst case for label flooding (diameter 60
    // > maxIters 30) — in id order and with ids shuffled by a fixed
    // seed: a loop whose round count depends on ids running in path
    // order splits the shuffled ones. The loop must also reach its
    // fixpoint, not just happen to label right: no not-converged warning.
    val shuffled = new scala.util.Random(7)
    for (ids <- Seq((0L until 61L).toVector,
        shuffled.shuffle((0L until 61L).toVector),
        shuffled.shuffle((0L until 200L).toVector),
        shuffled.shuffle((0L until 1024L).toVector))) {
      val n = ids.length.toLong
      val chainDocs = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val chainPairs = ids.sliding(2).map(p => (p(0), p(1))).toSeq
        .toDF("doc_a", "doc_b")
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val out = try Dedup.nearDupClustersFromPairs(chainDocs, "doc_id", chainPairs)
        .select(col("doc_id"), col("cluster_id"))
        .as[(Long, Long)].collect()
      finally System.setErr(stderr)
      assert(out.length == n)
      assert(out.forall(_._2 == 0L),
        s"every chain member must reach the component min: ${out.filter(_._2 != 0L).take(5).toSeq}")
      assert(!err.toString.contains("not converged"), s"$n-doc path: $err")
    }
  }

  test("soft dedup weights: 1/cluster_size, singletons at 1.0, mass conserved") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // transitive chain 1-2-4 (cluster of 3) + singletons 3, 5
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.softDedupWeights(docs, "doc_id", pairs)
      .select(col("doc_id"), col("weight"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.3333 && out(2L) == 0.3333 && out(4L) == 0.3333)
    assert(out(3L) == 1.0 && out(5L) == 1.0)
    // every doc keeps a row — soft dedup never drops
    assert(out.size == 5)
  }

  test("normalized exact dedup collapses casefold/punctuation/whitespace variants") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val variants = Seq(
      (1L, "Hello, World! 42"),
      (2L, "hello  world 42"),       // reformatting of 1
      (3L, "HELLO WORLD  42."),      // reformatting of 1
      (4L, "hello world 43")         // genuinely different
    ).toDF("doc_id", "text")
    val out = Dedup.exact(
        variants.withColumn("norm_text", TextAnalysis.normalizeText(col("text"))),
        "doc_id", "norm_text")
      .as[(String, Long, Long)].collect()
    assert(out.length == 2)
    val grp = out.find(_._3 == 3L).get
    assert(grp._2 == 1L, "min-id canonical must survive")
    // raw exact dedup sees 4 distinct texts — normalization is the delta
    assert(Dedup.exact(variants, "doc_id", "text").count() == 4)
  }

  test("shingles: empty below n tokens, sliding window otherwise") {
    import org.apache.spark.sql.functions._
    val sh = docs.select(col("doc_id"),
      Dedup.shinglesFromText(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).head == "the quick brown")
    assert(sh(1L).length == 8) // 10 tokens → 8 shingles
  }

  test("minhash LSH finds near-dups and exact dups, skips dissimilar") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jac 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs hash equal; near-dups within small hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    val hamming12 = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    assert(hamming12 < 16, s"near-dup hamming was $hamming12")
    val hamming13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming13 > hamming12)
  }

  test("blocked ngram jaccard: oversized prefix blocks are dropped by the cap") {
    // 5 exact copies share one prefix block; a distinct pair sits in another
    val boiler = (1L to 5L).map(i => (i, "boilerplate header repeated many times across docs"))
    val other = Seq(
      (10L, "unique content alpha beta gamma delta epsilon zeta"),
      (11L, "unique content alpha beta gamma delta epsilon zeta"))
    val d = (boiler ++ other).toDF("doc_id", "text")
    val uncapped = Dedup.blockedNgramJaccard(d, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((10L, 11L)))
    val capped = Dedup.blockedNgramJaccard(d, "doc_id", "text", threshold = 0.8,
      maxBlockSize = 4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // the 5-doc boilerplate block exceeds the cap and is dropped whole;
    // the 2-doc block survives untouched
    assert(capped == Set((10L, 11L)), s"got $capped")
  }

  test("md5 twins find the same planted pairs as the production hash paths") {
    // Same pipeline, different hash family — the pair sets on the
    // planted-dup fixture must agree (the twins exist to give the
    // banding/verification logic a DuckDB value gate; DedupOps holds
    // the generated oracle SQL).
    val prodMh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val twinMh = Dedup.minhashLshMd5(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(twinMh == prodMh, s"minhash twin $twinMh vs prod $prodMh")

    val prodSh = Dedup.simhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    val twinSh = Dedup.simhashMd5Pairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    // exact dup pair must be found by both; near-dup sets may differ by
    // at most the 1↔2 near-pair (different hash → different hamming)
    assert(twinSh.contains((1L, 4L)) && prodSh.contains((1L, 4L)))
    assert(!twinSh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("near-dup clusters: transitive closure, canonical min id, singletons keep") {
    // 1-4 exact dups and 2 near both of them → one cluster {1,2,4};
    // 3 and 5 are singletons. Chain case: x-y similar, y-z similar,
    // x-z NOT directly paired (different prefix blocks) — still one
    // cluster via propagation.
    val chain = Seq(
      (20L, "prefix one shared alpha beta gamma delta epsilon zeta eta theta"),
      (21L, "prefix one shared alpha beta gamma delta epsilon zeta eta iota"),
      (22L, "prefix one shared alpha beta gamma delta epsilon zeta eta kappa"))
    val d = docs.union(chain.toDF("doc_id", "text"))
    val out = Dedup.nearDupClusters(d, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 8, s"every doc must appear: $out")
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(4L) == (1L, false))
    assert(out(3L) == (3L, true) && out(5L) == (5L, true))
    assert(out(20L) == (20L, true) && out(21L) == (20L, false) && out(22L) == (20L, false))
  }

  test("incremental exact dedup: batch firsts survive only if unseen in the corpus") {
    val seen = Seq(
      (1L, "already ingested text one"),
      (2L, "already ingested text two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already ingested text one"),  // dup of corpus → dropped
      (11L, "fresh text alpha"),           // new → survives
      (12L, "fresh text alpha"),           // within-batch dup → dropped
      (13L, "fresh text beta")).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, seen, "doc_id", "text")
      .as[(String, Long)].collect().map(_._2).toSet
    assert(out == Set(11L, 13L), s"got $out")
    // empty corpus: batch self-dedups
    val empty = seen.filter($"doc_id" < 0)
    val out2 = Dedup.incrementalExact(batch, empty, "doc_id", "text")
      .as[(String, Long)].collect().map(_._2).toSet
    assert(out2 == Set(10L, 11L, 13L))
  }

  test("LSH-fed clustering catches different-prefix near-dups the blocker misses") {
    // 30/31 are near-dups whose OPENINGS differ (jac of 3-shingles
    // ≈ 0.89): prefix-40 blocking puts them in different blocks and
    // misses the pair; the MinHash-LSH pair source must not.
    val shifted = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (31L, "zebra prefix alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
    val d = docs.union(shifted.toDF("doc_id", "text"))
    val blocked = Dedup.nearDupClusters(d, "doc_id", "text")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(blocked(30L) == 30L && blocked(31L) == 31L,
      "prefix blocking should miss the different-opening pair (the blind spot)")
    val lsh = Dedup.nearDupClustersFromPairs(d, "doc_id",
        Dedup.minhashLshMd5(d, "doc_id", "text"))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(lsh(30L) == (30L, true) && lsh(31L) == (30L, false),
      s"LSH pairs must cluster the different-prefix near-dups: $lsh")
    // production-hash path finds the same pair
    val prod = Dedup.nearDupClustersFromPairs(d, "doc_id",
        Dedup.minhashLsh(d, "doc_id", "text"))
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(prod(31L) == 30L)
  }

  test("nearDupClusters: empty input returns empty, no throw") {
    val empty = docs.filter($"doc_id" < 0)
    assert(Dedup.nearDupClusters(empty, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupClustersFromPairs(empty, "doc_id",
      empty.select($"doc_id".as("doc_a"), $"doc_id".as("doc_b"))).count() == 0)
  }

  test("nearDupClusters: 64-bit-scale ids converge exactly (decimal label sum)") {
    // two ids near Long.MaxValue, whose long sum would wrap negative:
    // the loop's labels must stay exact at the top of the id range
    val big = Seq(
      (Long.MaxValue - 1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (Long.MaxValue, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (7L, "entirely unrelated document about spark physical plans"))
    val d = big.toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(d, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(Long.MaxValue - 1L) == (Long.MaxValue - 1L, true))
    assert(out(Long.MaxValue) == (Long.MaxValue - 1L, false))
    assert(out(7L) == (7L, true))
  }

  test("nearDupClusters: repeated runs leave no CacheManager entries") {
    (1 to 3).foreach { _ =>
      Dedup.nearDupClusters(docs, "doc_id", "text").count()
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "one-shot clustering runs must not accumulate session-lifetime cached tables")
  }

  test("incremental minhash: seen near-dups caught, batch pairs once, corpus never re-paired") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val seen = Seq(
      (1L, base + " nu"),                       // near-dup of batch doc 20
      (2L, base + " xi"),                       // near-dup of 1 — but (1,2) is seen-seen
      (3L, "entirely unrelated corpus document about catalyst physical planning")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, base + " omicron"),                 // near-dup of SEEN 1 and 2
      (21L, "fresh batch document with its own words about shuffle partitioning"),
      (22L, "fresh batch document with its own words about shuffle plans")  // near-dup of 21
    ).toDF("doc_id", "text")
    val prod = Dedup.incrementalMinhashLsh(batch, seen, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = prod.map(p => (p._1, p._2))
    assert(pairs.length == pairs.toSet.size,
      s"pairs must emit exactly once, got ${pairs.toList}")
    assert(pairs.contains((1L, 20L)) && pairs.contains((2L, 20L)),
      s"planted near-dup of a SEEN doc must be caught: ${pairs.toList}")
    assert(pairs.contains((21L, 22L)),
      s"batch-internal near-dup must be caught: ${pairs.toList}")
    assert(!pairs.contains((1L, 2L)),
      "seen-seen pairs must never re-emit from an incremental probe")
    // md5 twin runs the same topology
    val twin = Dedup.incrementalMinhashLshMd5(batch, seen, "doc_id", "text",
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(twin.contains((1L, 20L)) && twin.contains((21L, 22L)) &&
      !twin.contains((1L, 2L)))
  }

  test("incremental simhash: seen dups caught, batch pairs once, corpus never re-paired") {
    // byte-identical texts guarantee identical fingerprints (hamming 0)
    // on both hash families, so the planted pairs are deterministic
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val seen = Seq(
      (1L, dupText),                             // dup of batch doc 20
      (2L, dupText),                             // (1,2) is seen-seen
      (3L, "entirely unrelated corpus document about catalyst physical planning")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, dupText),                            // dup of SEEN 1 and 2
      (21L, "fresh batch document with its own words about shuffle partitioning"),
      (22L, "fresh batch document with its own words about shuffle partitioning")
    ).toDF("doc_id", "text")
    val prod = Dedup.incrementalSimhash(batch, seen, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val pairs = prod.map(p => (p._1, p._2))
    assert(pairs.length == pairs.toSet.size,
      s"pairs must emit exactly once, got ${pairs.toList}")
    assert(pairs.contains((1L, 20L)) && pairs.contains((2L, 20L)),
      s"planted dup of a SEEN doc must be caught: ${pairs.toList}")
    assert(pairs.contains((21L, 22L)),
      s"batch-internal dup must be caught: ${pairs.toList}")
    assert(!pairs.contains((1L, 2L)),
      "seen-seen pairs must never re-emit from an incremental probe")
    // md5 twin runs the same topology
    val twin = Dedup.incrementalSimhashMd5(batch, seen, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(twin.contains((1L, 20L)) && twin.contains((2L, 20L)) &&
      twin.contains((21L, 22L)) && !twin.contains((1L, 2L)))
  }

  test("simhash pairs: over-cap fingerprint buckets dropped whole, small buckets kept") {
    // 5 byte-identical docs share every band value; cap 4 drops them.
    // The distinct pair in its own 2-member buckets survives.
    val dup = "unique content alpha beta gamma delta epsilon zeta"
    val d = ((1L to 5L).map(i => (i, "mass duplicated boilerplate body repeated verbatim")) ++
      Seq((10L, dup), (11L, dup))).toDF("doc_id", "text")
    val uncapped = Dedup.simhashPairs(d, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((10L, 11L)))
    val capped = Dedup.simhashPairs(d, "doc_id", "text", maxBucketSize = 4)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(capped == Set((10L, 11L)), s"got $capped")
  }

  test("keepByQuality: negative ids tie-break correctly (no overflow)") {
    // a MaxValue − id encoding overflows for negative ids; the ~id
    // encoding must elect the true min id on a quality tie
    val wq = Seq(
      (-5L, -10L, 0.9), (-10L, -10L, 0.9), (7L, -10L, 0.5),
      (Long.MinValue, 30L, 0.2), (31L, 30L, 0.2))
      .toDF("doc_id", "cluster_id", "quality")
    val out = Dedup.keepByQuality(wq)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out == Map(-10L -> true, -5L -> false, 7L -> false,
      Long.MinValue -> true, 31L -> false), s"got $out")
  }

  test("bloom-gated incremental exact dedup == anti-join form (exact despite the sketch)") {
    val seen = Seq(
      (1L, "already ingested text one"),
      (2L, "already ingested text two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already ingested text one"),  // dup of corpus → dropped
      (11L, "fresh text alpha"),           // new → survives
      (12L, "fresh text alpha"),           // within-batch dup → dropped
      (13L, "fresh text beta")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.as[(String, Long)].collect().map(_._2).toSet
    val want = ids(Dedup.incrementalExact(batch, seen, "doc_id", "text"))
    // a sane fpp AND a saturated filter (expectedSeen=1 at fpp 0.5 →
    // dense false positives) must both give the exact answer: false
    // positives only widen the maybe set, the confirm join is exact
    assert(ids(Dedup.incrementalExactBloom(batch, seen, "doc_id", "text")) == want)
    assert(ids(Dedup.incrementalExactBloom(batch, seen, "doc_id", "text",
      fpp = 0.5, expectedSeen = 1L)) == want)
    // empty corpus: everything definite-new
    val empty = seen.filter($"doc_id" < 0)
    assert(ids(Dedup.incrementalExactBloom(batch, empty, "doc_id", "text")) ==
      Set(10L, 11L, 13L))
    // all-null seen texts: rows exist but NO aggregable hash — the
    // sketchless guard must fire (zero-row bloom aggregation yields no
    // sketch), and null hashes never match, so same answer as empty
    val allNull = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    assert(ids(Dedup.incrementalExactBloom(batch, allNull, "doc_id", "text")) ==
      Set(10L, 11L, 13L))
  }

  test("incrementalExact propagates the caller's id column name") {
    val batch = Seq((10L, "aaa"), (11L, "aaa"), (12L, "bbb")).toDF("my_id", "text")
    val seen = Seq((1L, "bbb")).toDF("my_id", "text")
    val out = Dedup.incrementalExact(batch, seen, "my_id", "text")
    assert(out.columns.contains("my_id"))
    assert(out.select("my_id").as[Long].collect().toSet == Set(10L))
  }

  test("component loop is vertex-seeded: loop table sized by pairs, not corpus") {
    // The scale pin for the r13→r14 fix: the fixpoint loop
    // (componentLabels) takes ONLY the edge relation — structurally it
    // cannot scan the corpus per round — and its label table must hold
    // exactly the pair vertices. 5,000 docs, 4 of them in pairs: the
    // loop runs over 4 rows; the 4,996 non-pair docs re-enter as
    // singletons via ONE anti-join after the loop.
    val d = (0L until 5000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((7L, 9L), (9L, 11L), (100L, 200L)).toDF("doc_a", "doc_b")
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .select($"doc_a".cast("long").as("src"), $"doc_b".cast("long").as("dst"))
    val loopLabels = Dedup.componentLabels(edges, maxIters = 30)
    assert(loopLabels.count() == 5L,
      "loop label table must hold exactly the pair vertices {7,9,11,100,200}")
    loopLabels.unpersist()
    val out = Dedup.nearDupClustersFromPairs(d, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 5000, "every corpus doc keeps a row")
    assert(out(7L) == (7L, true) && out(9L) == (7L, false) &&
      out(11L) == (7L, false), s"chain 7-9-11 must fold to min 7: $out")
    assert(out(100L) == (100L, true) && out(200L) == (100L, false))
    assert(out(42L) == (42L, true) && out(4999L) == (4999L, true),
      "non-pair docs are their own singletons")
  }

  test("nearDupClustersFromPairs ignores pairs over ids outside docs (no phantoms)") {
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    // 999 is unknown; 1-999 and 999-2 must not create a phantom row,
    // and 1 and 2 must NOT merge through the unknown vertex
    val pairs = Seq((1L, 999L), (999L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClustersFromPairs(d, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"phantom ids in ${out.keySet}")
    assert(out(1L) == (1L, true) && out(2L) == (2L, true) && out(3L) == (3L, true))
  }

  test("keepByQuality: best-quality member wins, min-id tie-break, singleton keeps itself") {
    // cluster 1 = {1, 2, 3}: doc 3 has the best quality and must win
    // over the min-id default; cluster 10 = {10, 11}: exact quality tie
    // → min id 10; 20 is a singleton
    val wq = Seq(
      (1L, 1L, 0.5), (2L, 1L, 0.7), (3L, 1L, 0.9),
      (10L, 10L, 0.6), (11L, 10L, 0.6),
      (20L, 20L, 0.1)).toDF("doc_id", "cluster_id", "quality")
    val out = Dedup.keepByQuality(wq)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true,
      10L -> true, 11L -> false, 20L -> true), s"got $out")
  }

  test("ngramNovelty: copied doc scores 0, fresh doc 1, within-doc repeats stay novel") {
    val s = spark
    import s.implicits._
    val k = Dedup.DupSpanTokens
    val run = (1 to k).map(i => s"dup$i").mkString(" ")
    val fresh = (1 to k + 1).map(i => s"new$i").mkString(" ")
    val docs = Seq(
      (1L, run),              // the original
      (2L, run),              // verbatim copy: every gram type shared
      (3L, fresh),            // no gram shared with anyone
      (4L, s"$run $run"))     // contains the shared run twice PLUS
                              // bridge grams unique to it
      .toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((1L, 1L, 0.0)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 0.0)))
    assert(out(3L) == ((2L, 0L, 1.0)), "fresh doc is fully novel")
    // doc 4: k distinct gram types (the run — occurring twice but ONE
    // type — plus k-1 bridge windows); only the run is cross-doc
    // shared, so a doc REPEATING its own content does not lose
    // novelty for the repetition
    assert(out(4L)._1 == k.toLong && out(4L)._2 == 1L, s"got ${out(4L)}")
    // a doc shorter than k emits no row
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
    assert(Dedup.ngramNovelty(short, "doc_id", "text").count() == 0)
  }

  test("dedup_threshold_curve: monotone non-increasing, planted dups survive the top") {
    val out = graft.packs.DedupOps
      .dedupThresholdCurve(spark, sf)
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == graft.packs.DedupOps.SweepThresholds)
    // pair and doc counts can only fall as the threshold rises
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3,
        s"curve must be non-increasing: $lo -> $hi")
    }
    // the planted ≥0.9 near-dups keep the top of the sweep non-empty
    assert(out.last._2 > 0, "testdata's planted near-dups must clear 0.9")
  }

  test("planted near-dups in testdata are found by minhash (recall vs blocked oracle)") {
    val d = graft.Tables.documents(spark, sf)
    val blocked = Dedup.blockedNgramJaccard(d, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(blocked.nonEmpty, "testdata should contain planted near-dups")
    val minhash = Dedup.minhashLsh(d, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    // LSH at 8×4 has ~100% candidate probability at jac ≥ 0.9
    assert(blocked.subsetOf(minhash),
      s"missed: ${blocked -- minhash}")
  }
}
