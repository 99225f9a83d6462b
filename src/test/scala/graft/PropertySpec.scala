package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.model.OrderData
import graft.sources.DelimitedCodec

/** Property-based invariants (SURVEY.md §5.2.3). Scalacheck is driven
  * directly (Test.check) to avoid needing the scalatest bridge; sample
  * counts are small because each sample runs Spark jobs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val genOrder: Gen[OrderData] = for {
    ts <- Gen.chooseNum(0L, 4102444800000L)
    id <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
    name <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString) // no commas
    value <- Gen.chooseNum(-1e9, 1e9).map(v => math.rint(v * 100) / 100)
  } yield OrderData(ts, id, name, value)

  test("property: CSV codec roundtrip is the identity") {
    check(Prop.forAll(Gen.nonEmptyListOf(genOrder)) { orders =>
      val df = orders.toDF()
      val encoded = df.select(DelimitedCodec.encode(
        col("orderTimeMs"), col("orderId"), col("itemName"), col("orderValue"))
        .as("value"))
      val decoded = DelimitedCodec
        .decoded(encoded, "value", DelimitedCodec.orderSchema)
        .as[OrderData].collect().toList
      decoded.sortBy(_.orderId) == orders.sortBy(_.orderId)
    }, n = 8)
  }

  test("property: cents-sum aggregation is partition-invariant (merge == single pass)") {
    check(Prop.forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)),
      Gen.chooseNum(1, 16)) { (values, parts) =>
      val df = values.toDF("v")
      def total(d: org.apache.spark.sql.DataFrame): Long =
        d.agg(sum(round(col("v") * 100).cast("long"))).as[Long].head()
      total(df) == total(df.repartition(parts))
    }, n = 8)
  }

  test("property: tumbling window assignment invariant (start = floor(ts/30s)*30s)") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 10000000000L))) { tsMillis =>
      val df = tsMillis.toDF("ms")
        .select(timestamp_millis(col("ms")).as("ts"), col("ms"))
      val out = df.select(col("ms"),
        unix_millis(window(col("ts"), "30 seconds").getField("start")).as("ws"),
        unix_millis(window(col("ts"), "30 seconds").getField("end")).as("we"))
        .as[(Long, Long, Long)].collect()
      out.forall { case (ms, ws, we) =>
        ws == (ms / 30000L) * 30000L && we == ws + 30000L && ms >= ws && ms < we
      }
    }, n = 8)
  }

  test("property: faithful CTR quirk semantics hold for any click pattern") {
    import graft.operators.ClickThroughRate
    val genFlags = Gen.nonEmptyListOf(Gen.oneOf(true, false))
    check(Prop.forAll(genFlags) { flags =>
      val joined = flags.zipWithIndex
        .map { case (f, i) => (s"i$i", f, "ad") }
        .toDF("impression_id", "was_clicked", "ad_id")
      val counts = ClickThroughRate.adCounts(joined)
      val row = counts.select(col("num_impressions"), col("num_clicks"),
        ClickThroughRate.ctrFaithful(counts).as("ctr")).collect().head
      val (imps, clks, ctr) =
        (row.getLong(0), row.getLong(1), row.getDouble(2))
      val nClicked = flags.count(identity).toLong
      imps == flags.size - nClicked && clks == nClicked && {
        if (clks == 0) ctr == 0.0
        else if (imps == 0) ctr.isPosInfinity
        else ctr == clks.toDouble / imps
      }
    }, n = 8)
  }

  test("property: component labels == driver union-find on random graphs (fused-seed loop)") {
    // the component loop's exactness pin: random pair sets (including
    // pairs over ids OUTSIDE the corpus, self-loops, duplicates,
    // chains and hubs) must produce exactly the component-minimum
    // clustering a classic union-find computes — with unknown-id pairs
    // ignored entirely (no phantoms, no merging THROUGH an unknown id)
    val genRandom = Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(0L, 40L)
      b <- Gen.chooseNum(0L, 40L)
    } yield (a, b))
    // long paths over the valid ids in a shuffled order, and hubs
    val genPath = for {
      seed <- Gen.long
      k <- Gen.chooseNum(2, 30)
    } yield new scala.util.Random(seed).shuffle((0L until 30L).toList).take(k)
      .sliding(2).map(p => (p(0), p(1))).toList
    val genHub = for {
      hub <- Gen.chooseNum(0L, 29L)
      spokes <- Gen.listOf(Gen.chooseNum(0L, 29L))
    } yield spokes.map(s => (hub, s))
    val genPairs = for {
      random <- genRandom
      path <- Gen.oneOf(Gen.const(Nil), genPath)
      hub <- Gen.oneOf(Gen.const(Nil), genHub)
    } yield random ++ path ++ hub
    check(Prop.forAll(genPairs) { pairs =>
      val corpus = 0L until 30L // ids 30..40 are unknown
      val docs = corpus.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val out = graft.operators.Dedup
        .nearDupClustersFromPairs(docs, "doc_id", pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // driver union-find over VALID pairs only
      val parent = scala.collection.mutable.Map(corpus.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.filter { case (a, b) => a < 30 && b < 30 }
        .foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      val expect = corpus.map(i => i -> find(i)).toMap
      out.keySet == corpus.toSet &&
        corpus.forall { i =>
          out(i) == ((expect(i), expect(i) == i))
        }
    }, n = 8)
  }

  test("property: blocklist hits == brute-force phrase matcher on random corpora") {
    // random docs and random 1-3 word phrases over a tiny vocabulary:
    // the declarative k-gram × broadcast-dictionary join must count
    // exactly the positions a literal sliding-window matcher counts —
    // overlaps, repeats, multi-phrase docs, empty docs and all
    val vocab = Vector("alpha", "beta", "gamma", "delta", "scan", "x")
    val genDoc = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val genPhrase = Gen.chooseNum(1, 3)
      .flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab))).map(_.mkString(" "))
    val gen = for {
      nd <- Gen.chooseNum(1, 8)
      docTexts <- Gen.listOfN(nd, genDoc)
      np <- Gen.chooseNum(1, 4)
      phrases <- Gen.listOfN(np, genPhrase)
    } yield (docTexts, phrases.distinct)
    check(Prop.forAll(gen) { case (docTexts, phrases) =>
      val docs = docTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.Blocklist
        .phraseHits(docs, "doc_id", "text", phrases)
        .as[(Long, String, Long)].collect().toSet
      val want = (for {
        (t, i) <- docTexts.zipWithIndex
        toks = t.split(" ", -1).toSeq // keep empties: Spark split keeps them
        p <- phrases
        k = p.split(" ").length
        hits = (0 to toks.length - k)
          .count(j => toks.slice(j, j + k).mkString(" ") == p)
        if hits > 0
      } yield (i.toLong, p, hits.toLong)).toSet
      got == want
    }, n = 8)
  }

  test("property: JS drift == driver brute under the round-6/round-4 discipline; symmetric; bounded") {
    import graft.operators.TextAnalysis
    def r(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    def counts(texts: List[String]): Map[String, Long] =
      texts.flatMap(_.split(" ", -1)).groupBy(identity)
        .map { case (w, g) => w -> g.size.toLong }
    // driver brute with EXACTLY the engine's arithmetic: round-6 sides
    // carried as exact decimals, integer-weighted sums, one final
    // double division per side, round-4
    def brute(bw: Map[String, Long], sw: Map[String, Long]): Double = {
      val nb = bw.values.sum.toDouble
      val ns = sw.values.sum.toDouble
      var sumP = BigDecimal(0); var sumQ = BigDecimal(0)
      (bw.keySet ++ sw.keySet).foreach { w =>
        val b = bw.getOrElse(w, 0L); val s = sw.getOrElse(w, 0L)
        val den = b * ns + s * nb
        if (b > 0) sumP += BigDecimal(b) * BigDecimal(r(math.log(b * ns * 2d / den), 6))
        if (s > 0) sumQ += BigDecimal(s) * BigDecimal(r(math.log(s * nb * 2d / den), 6))
      }
      r((sumP.toDouble / nb + sumQ.toDouble / ns) / 2d, 4)
    }
    val vocab = Vector("a", "b", "c", "d", "e")
    val genDoc = Gen.chooseNum(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val gen = for {
      batch <- Gen.nonEmptyListOf(genDoc).map(_.take(5))
      seen <- Gen.nonEmptyListOf(genDoc).map(_.take(5))
    } yield (batch, seen)
    check(Prop.forAll(gen) { case (batch, seen) =>
      def df(texts: List[String]) = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def js(a: List[String], b: List[String]): Double =
        TextAnalysis.jsDriftVsCorpus(df(a), "text",
            TextAnalysis.wordCounts(df(b), "text"))
          .select("js_nats").as[Double].collect().head
      val got = js(batch, seen)
      val want = brute(counts(batch), counts(seen))
      got == want && got >= 0.0 && got <= math.log(2) + 1e-4 &&
        js(seen, batch) == got // JS is symmetric
    }, n = 6)
  }
}
