package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.queries.DedupQueries

/** Round-8 second-half: the adaptive plan router for the containment-pair
  * family. The round-7 analysis established that the right plan is
  * corpus-shape-dependent (count-join on uniform-df vocabularies,
  * rarest-first prefix filtering on Zipf-tailed text) but left the choice
  * as a code comment; these tests pin the now-mechanized decision —
  * measured gram-df statistics route the plan, and BOTH routes produce
  * identical pairs on both corpus shapes.
  */
class Round8RouterSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))

  test("route decision: fixture-shaped stats stay on the count-join") {
    // sf0.1 measured shape (BENCH_SF1 round-8 df table): binomial df
    // around 9-10, 0.8% of vocabulary at df<=2, coPairs/gramRows ~ 4.9
    val fixture = DedupQueries.GramDfStats(
      vocab = 27213L, gramRows = 2.60e6, coPairs = 1.266e7,
      rareVocabFrac = 0.008)
    assert(!DedupQueries.routeDfOrderedPrefix(fixture))
    // rare tail alone is not enough: the quadratic term must dominate too
    val rareButSmall = DedupQueries.GramDfStats(
      vocab = 100000L, gramRows = 1e6, coPairs = 2e6, rareVocabFrac = 0.6)
    assert(!DedupQueries.routeDfOrderedPrefix(rareButSmall))
    // Zipf text: half the vocab df=1, hot head drives coPairs >> gramRows
    val zipf = DedupQueries.GramDfStats(
      vocab = 500000L, gramRows = 5e6, coPairs = 4e8, rareVocabFrac = 0.55)
    assert(DedupQueries.routeDfOrderedPrefix(zipf))
  }

  test("gramDfStats is memoized per (app, dir)") {
    val d = "/root/testdata/sf0.001"
    val a = DedupQueries.gramDfStats(spark, d)
    val b = DedupQueries.gramDfStats(spark, d)
    assert(a == b)
    // distinct dirs memoize independently; the original entry survives
    val other = DedupQueries.gramDfStats(spark, "/root/testdata/sf0.01")
    assert(other.vocab != a.vocab, "different SF dirs have different vocab")
    assert(DedupQueries.gramDfStats(spark, d) == a)
  }

  test("fixtures route to count-join; df-ordered prefix is equality-pinned") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val st = DedupQueries.gramDfStats(spark, dir)
      assert(!DedupQueries.routeDfOrderedPrefix(st),
        s"$dir must stay on the count-join (stats: $st)")
      val j = rows(DedupQueries.containmentPairsJoin(spark, dir))
      val p = rows(DedupQueries.containmentPairsPrefixDfOrdered(spark, dir))
      assert(j.nonEmpty, s"$dir must produce pairs or the pin is vacuous")
      assert(p.sameElements(j), s"df-ordered prefix diverged on $dir")
      val jj = rows(DedupQueries.nearDupPairsJoin(spark, dir))
      val jp = rows(DedupQueries.nearDupPairsPrefixDfOrdered(spark, dir))
      assert(jj.nonEmpty, s"$dir must produce jaccard pairs")
      assert(jp.sameElements(jj), s"jaccard prefix arm diverged on $dir")
    }
  }

  test("Zipf-tailed synthetic corpus routes to the df-ordered prefix, same pairs") {
    import spark.implicits._
    // Deterministic web-shaped corpus: Zipf(1) content tokens (freq ~
    // 1/rank over an 8k vocabulary) give the df=1 rare tail; a shared
    // 30-token boilerplate block on 60% of docs gives the hot-gram head
    // (df ~ 150 on each boilerplate gram — the duplicated template text
    // that makes dedup necessary in the first place and drives the
    // count-join's quadratic term). 240 base docs x 80 content tokens,
    // plus 20 >=0.9-containment variants (2-3 token substitutions) so
    // containment pairs exist. Seeded so the route decision is stable.
    val rnd = new scala.util.Random(8451)
    val vocabN = 8000
    // inverse-CDF sampling from Zipf(1): weight 1/r, cumulative H_r/H_N
    val weights = Array.tabulate(vocabN)(r => 1.0 / (r + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): Int = {
      val x = rnd.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cum, x)
      math.min(if (i >= 0) i else -i - 1, vocabN - 1)
    }
    val boiler = Array.tabulate(30)(i => "tmpl" + i).mkString(" ")
    val baseDocs = Array.tabulate(240) { d =>
      val content = Array.fill(80)("w" + draw()).mkString(" ")
      val text = if (d % 5 < 3) boiler + " " + content else content
      (d.toLong, text)
    }
    val variants = Array.tabulate(20) { v =>
      val (srcId, text) = baseDocs(v * 7)
      val tk = text.split(" ")
      // substitute every 40th token with a fresh rare token: <=9 of the
      // ~78-108 shingles differ (<=10%), so the pair clears the 0.9
      // containment bar; exactness of both plans is what's pinned
      val mutated = tk.zipWithIndex.map { case (w, i) =>
        if (i % 40 == 0) "rare" + v + "_" + i else w
      }
      (1000L + srcId, mutated.mkString(" "))
    }
    val dir = Files.createTempDirectory("graft-zipf-").toString
    (baseDocs ++ variants).toSeq.toDF("doc_id", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val st = DedupQueries.gramDfStats(spark, dir)
    // construction sanity: a genuine rare tail and a dominant quadratic
    // term (3-gram shingles over Zipf tokens are heavily df=1, while the
    // hot-head grams repeat across most docs)
    assert(st.rareVocabFrac >= 0.3, s"corpus lost its rare tail: $st")
    assert(st.coPairs > 8.0 * st.gramRows, s"quadratic term too small: $st")
    assert(DedupQueries.routeDfOrderedPrefix(st))

    val j = rows(DedupQueries.containmentPairsJoin(spark, dir))
    val p = rows(DedupQueries.containmentPairsPrefixDfOrdered(spark, dir))
    val routed = rows(DedupQueries.containmentPairs(spark, dir))
    assert(j.nonEmpty, "zipf corpus must produce containment pairs")
    assert(p.sameElements(j), "df-ordered prefix diverged on the zipf corpus")
    assert(routed.sameElements(j), "router output differs from ground truth")
    // Jaccard arm (d02's nearDupPairs family), same corpus
    val jj = rows(DedupQueries.nearDupPairsJoin(spark, dir))
    val jp = rows(DedupQueries.nearDupPairsPrefixDfOrdered(spark, dir))
    assert(jj.nonEmpty, "zipf corpus must produce jaccard pairs")
    assert(jp.sameElements(jj), "jaccard prefix arm diverged on the zipf corpus")
  }

  test("randomized corpora: all four arms agree (incl. empty/short/dup docs)") {
    import spark.implicits._
    // The pigeonhole argument says prefix⋈full-index candidates are
    // complete for ANY corpus; exercise it on adversarial shapes the two
    // constructed corpora don't cover — docs with <3 tokens (no
    // shingles), exact duplicates (containment 1.0, all grams shared),
    // repeated-token docs (heavy within-doc gram dedup), tiny vocab
    // (every gram hot).
    val rnd = new scala.util.Random(42017)
    for (iter <- 0 until 4) {
      val vocab = 4 + rnd.nextInt(12)          // tiny => hot grams
      val docs = (0 until 36).map { d =>
        val n = rnd.nextInt(16)                // 0..15 tokens, some <3
        val tk = Array.fill(n)("t" + rnd.nextInt(vocab))
        (d.toLong, tk.mkString(" "))
      } ++ Seq(
        (100L, "t0 t1 t0 t1 t0 t1 t0 t1"),     // periodic
        (101L, "t0 t1 t0 t1 t0 t1 t0 t1"),     // exact dup of 100
        (102L, ""), (103L, "t0"), (104L, "t0 t1"))
      val dir = Files.createTempDirectory(s"graft-rnd$iter-").toString
      docs.toDF("doc_id", "text").repartition(3)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val cj = rows(DedupQueries.containmentPairsJoin(spark, dir))
      val cp = rows(DedupQueries.containmentPairsPrefixDfOrdered(spark, dir))
      val jj = rows(DedupQueries.nearDupPairsJoin(spark, dir))
      val jp = rows(DedupQueries.nearDupPairsPrefixDfOrdered(spark, dir))
      assert(cp.sameElements(cj), s"containment diverged, iter $iter")
      assert(jp.sameElements(jj), s"jaccard diverged, iter $iter")
      assert(cj.exists(_._6 == 1.0), s"iter $iter lost its exact-dup pair")
    }
  }
}
