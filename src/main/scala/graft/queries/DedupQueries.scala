package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md §2.D
  * D1/D2 + the training-data-pipeline brief): exact hash dedup, exact n-gram
  * Jaccard via inverted index, MinHash+LSH banding, SimHash, and
  * embedding-cosine near-dup with label blocking.
  *
  * Scale notes (100 TB): every pipeline here is shuffle-based with a blocking
  * key — shingle (inverted index), (band, signature) bucket, or label — so
  * no O(n²) stage ever materializes; candidate generation is equi-join
  * shaped and AQE-friendly.
  */
object DedupQueries {
  import Q._

  /** d48's broadcast-vs-index probe crossover, in needle COUNT: the
    * contains probe costs O(|needles|) per train row, the char-gram index
    * O(|text|) per train row — both linear in train size, so the
    * crossover is a needle-count constant. Measured at sf1 AND sf10
    * (BENCH_SF1.md): ≈12k; 10k keeps a margin on the broadcast side.
    */
  val ProbeCrossoverNeedles = 10000L

  /** Past the probe crossover, the Aho–Corasick single-pass scan
    * ([[substringHitsScan]]) serves any needle set whose total chars fit
    * [[graft.functions.AhoCorasick.MaxPatternChars]]; only sets too big to
    * hold in executor memory at all fall through to the gram inverted
    * index. Measured at sf10 (500k docs × 50k needles): broadcast probe
    * 464 s, gram index 208 s, scan — see BENCH_SF1.md round-6 section.
    */
  val ScanMaxNeedleChars: Long = graft.functions.AhoCorasick.MaxPatternChars

  /** Per-doc distinct shingle SET, computed map-side (no global distinct
    * shuffle), persisted for every downstream consumer (d02/d03/d16/d21/
    * d22); Spark's CacheManager dedups the entry across queries by
    * canonical plan.
    *
    * This is a typed mapPartitions rather than the equivalent
    * `transform(sequence(...), concat_ws(...))` + `transform(_,
    * tokenHash60)` expression chain: Catalyst evaluates lambda
    * higher-order functions interpreted (no codegen), and per-element md5
    * inside an interpreted transform made this the single hottest stage of
    * the whole bench. The JVM version computes bit-identical results —
    * split(" ", -1) ≡ Spark's split, mkString(" ") ≡ concat_ws over
    * non-null strings, first-occurrence distinct ≡ array_distinct, and the
    * hash is the numeric value of md5's first 15 hex chars exactly as
    * tokenHash60/oTokenHash60 define it.
    */
  private[queries] def docShingles(s: SparkSession, dir: String): DataFrame =
      Q.memo(s, dir, "docShingles") {
    import s.implicits._
    t(s, dir, "documents")
      // single-file fixture => 1 input partition; spread rows BEFORE the
      // expensive shingling work so it runs on every core. Width follows
      // the session's shuffle-partition sizing (Q.exchangeWidth), not
      // core count — per-task payload stays operator-sizable at scale
      .repartition(Q.exchangeWidth(s), col("doc_id"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // null text => no tokens (the expression chain this replaced
          // null-propagated; empty arrays keep the row while producing
          // the same downstream results — no shingles, no pairs)
          val tk = if (text == null) Array.empty[String]
            else text.split(" ", -1)
          val sh: Array[String] =
            if (tk.length >= 3)
              Array.tabulate(tk.length - 2)(i =>
                tk(i) + " " + tk(i + 1) + " " + tk(i + 2)).distinct
            else Array.empty[String]
          val h = sh.map { x =>
            val d = md.digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // numeric value of the first 15 hex chars = first 7 bytes
            // (56 bits) followed by the high nibble of byte 7
            var v = 0L
            var i = 0
            while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            (v << 4) | ((d(7) >> 4) & 0xfL)
          }
          // h_arr sorted ascending: canonical total order for the prefix
          // filter below (consumers treat h_arr as a SET — min/intersect/
          // explode — so element order is free to choose)
          java.util.Arrays.sort(h)
          (id, sh, h)
        }
      }.toDF("doc_id", "sh_arr", "h_arr")
      .persist()
  }

  /** Per-doc 60-bit SimHash (doc_id, simhash) — the majority-vote bit
    * signature over distinct-token hashes. Persisted and shared by d04
    * (hamming report) and d58 (multi-index Hamming candidate search).
    *
    * Computed MAP-SIDE in one typed pass (the minhashSigs pattern): the
    * per-token 60-counter vote loop runs in the JVM against [[hash60]],
    * which is law-pinned equal to the `tokenHash60` Catalyst expression —
    * measured ~10x faster than the explode × 60-bit-mask aggregation it
    * replaces (30M agg rows at sf0.1 became one scan), and bit-identical
    * to the DuckDB oracle. Docs with NULL text produce no row, matching
    * the expression form's explode(null) semantics.
    */
  private[graft] def docSimhash(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "docSimhash") {
      import s.implicits._
      // conditional spread (round 13): no downstream consumer joins
      // docSimhash by doc_id (d04 broadcasts a 1-row ref, d58 bands the
      // signature), so unlike docShingles the doc_id exchange serves no
      // later stage — on a wide scan (real deployment, ScaleUp dirs) the
      // unconditional repartition this replaces shuffled the full text
      // for nothing; on the single-row-group fixture the floor still
      // spreads the vote loop across every core
      Q.spread(t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"))
        .as[(Long, String)]
        .mapPartitions { it =>
          // one digest per partition, reset per token — getInstance in
          // the hot loop is a provider lookup + allocation per call
          val md = java.security.MessageDigest.getInstance("MD5")
          it.flatMap { case (id, text) =>
            if (text == null) None
            else {
              val toks = text.split(" ", -1).distinct
              val counts = new Array[Int](60)
              var i = 0
              while (i < toks.length) {
                val d = md.digest(
                  toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
                var v = 0L
                var k = 0
                while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
                val h = (v << 4) | ((d(7) >> 4) & 0xfL)
                var j = 0
                while (j < 60) {
                  if (((h >> j) & 1L) != 0L) counts(j) += 1
                  else counts(j) -= 1
                  j += 1
                }
                i += 1
              }
              var sim = 0L
              var j = 0
              while (j < 60) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
              Some((id, sim))
            }
          }
        }.toDF("doc_id", "simhash")
        .persist()
    }

  /** Exploded per-doc distinct shingle hashes (doc_id, h) — persisted and
    * shared by d34 (duplicate-n-gram coverage) and d36 (source overlap):
    * both consume the same inverted-index row stream, so it materializes
    * once per fixture dir.
    */
  private[queries] def gramTable(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "gramTable") {
      docShingles(s, dir)
        .select(col("doc_id"), explode(col("h_arr")).as("h"))
        .persist()
    }

  /** Sorted-source bit index (source, i) — |sources| rows (a provenance
    * label set is tiny by definition), memoized + persisted; the bit
    * assignment shared by d36's bitmap formulation and d27's corpus-hash
    * route. NULL sources are dropped (collect_set semantics).
    */
  private[queries] def srcIndexOf(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "srcIndex") {
      t(s, dir, "documents").filter(col("source").isNotNull)
        .select("source").distinct()
        .withColumn("i",
          row_number().over(Window.orderBy("source")) - 1)
        .persist()
    }

  /** Driver-side memo of |sources| per (app, dir): srcIndexOf is a tiny
    * persisted frame, but its `.count()` was re-run as a fresh job at
    * every ≤63-regime probe (d27, d36, the shared-memo warmer, the gram
    * index build — 3-4 jobs per battery). Fixture dirs are immutable
    * within a run, so one count serves them all (the dfStatsCache
    * pattern).
    */
  private val srcCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()

  private[queries] def srcCount(s: SparkSession, dir: String): Long =
    srcCountCache.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => srcIndexOf(s, dir).count())

  /** The corpus vocabulary index (h, df, first_doc, mask) — ONE
    * corpus-wide groupBy(h) pass over the inverted index serving every
    * vocabulary-level consumer (round 13; previously gramDf,
    * hashSourceMask and d50's first-occurrence agg each ran their own
    * corpus-wide h-shuffle over the same gramTable rows — three
    * vocab-sized exchanges collapsed into this one):
    *   - `df` — per-gram document frequency ([[gramDf]] view: d34,
    *     gramDfStats, rarest-first prefixes);
    *   - `first_doc` — min doc_id per gram (d50's novelty curve);
    *   - `mask` — per-hash source-occupancy bitmap ([[hashSourceMask]]
    *     view), bit i set iff some doc of source i contains h. Built
    *     only in the ≤63-source regime (NULL column past it — callers
    *     probe [[srcCount]] first, same contract as before); the source
    *     attach is a broadcast of the |sources|-row index against the
    *     gram stream, and bit_or partial-aggregates map-side so the
    *     fabric still carries ~24 bytes per hash.
    */
  private[queries] def gramIndex(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "gramIndex") {
      val g = gramTable(s, dir)
      // synthetic spec corpora can lack `source` entirely — the old
      // standalone gramDf never touched it, so the merged pass must not
      // either: no source column (or >63 sources) means no mask
      val hasSource = t(s, dir, "documents").columns.contains("source")
      val withB =
        if (hasSource && srcCount(s, dir) <= 63)
          g.join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
            // LEFT so null-source docs keep contributing to df/first_doc
            // exactly as the plain gramTable agg did; their b is NULL and
            // bit_or skips NULLs, so the mask matches the old inner-join
            // build (hashes seen ONLY in null-source docs get mask NULL —
            // filtered out by the hashSourceMask view below)
            .join(broadcast(srcIndexOf(s, dir)), Seq("source"), "left")
            .withColumn("b", expr("shiftleft(CAST(1 AS BIGINT), i)"))
        else g.withColumn("b", lit(null).cast("long"))
      withB.groupBy("h").agg(
        count(lit(1)).as("df"),
        min("doc_id").as("first_doc"),
        expr("bit_or(b)").as("mask"))
        .persist()
    }

  /** Per-shingle-hash source-occupancy bitmap (h, mask) — a projection of
    * [[gramIndex]] (shared by d36's mask histogram and d27's corpus-hash
    * route). The NOT NULL filter reproduces the old inner-join build's
    * row set exactly: a hash occurring only in null-source docs has no
    * occupancy bits. Only meaningful in the ≤63-source regime; callers
    * probe [[srcCount]] first.
    */
  private[queries] def hashSourceMask(s: SparkSession, dir: String): DataFrame =
    gramIndex(s, dir).filter(col("mask").isNotNull).select("h", "mask")

  /** d27's corpus-hash side — the distinct shingle hashes appearing in
    * any NON-eval (≠ src0) source. Routed: in the ≤63-source regime the
    * shared [[hashSourceMask]] index answers "h appears in some non-eval
    * source" as a mask test against src0's bit, so d27 and d36 split ONE
    * corpus-wide groupBy-h shuffle instead of each paying their own;
    * past 63 sources the direct explode+distinct formulation stands.
    * src0 absent from the index means every occupied mask is corpus (and
    * the eval side is empty anyway). Null-source docs are outside both
    * routes: the index drops them, and `source =!= "src0"` is
    * null-filtering. `forceRoute` (spec knob) pins either arm —
    * Some(true) = mask, Some(false) = direct — so the route equivalence
    * and the otherwise-CI-dead >63 fallback are testable on any corpus.
    */
  private[graft] def d27CorpusHashes(s: SparkSession, dir: String,
      forceRoute: Option[Boolean] = None): DataFrame = {
    val srcIdx = srcIndexOf(s, dir)
    if (forceRoute.getOrElse(srcCount(s, dir) <= 63)) {
      val src0i = srcIdx.filter(col("source") === "src0")
        .select("i").collect().headOption.map(_.getInt(0))
      val nonEval = src0i match {
        case Some(i) => col("mask").bitwiseAND(lit(~(1L << i))) =!= 0L
        case None => lit(true)
      }
      hashSourceMask(s, dir).filter(nonEval).select("h")
    } else docShingles(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id")
      .filter(col("source") =!= "src0")
      .select(explode(col("h_arr")).as("h")).distinct()
  }

  /** Queries (name prefixes) that consume the shared documents-pipeline
    * memos below — the bench warms [[warmSharedMemos]] as its own
    * `a00_shared_builds` pseudo-query when any of these are selected, so
    * shared-build cost never masquerades as a consumer's regression.
    */
  private[graft] val sharedMemoConsumers: Set[String] = Set(
    "d02", "d03", "d04", "d16", "d21", "d22", "d25", "d27", "d29", "d30",
    "d34", "d36", "d39", "d50", "d51", "d58")

  /** Materialize the cross-query shared memos for `dir`, returning
    * (memo name, build seconds) per frame — the bench's `#shared`
    * breakdown. Warming is semantically neutral (these frames build
    * lazily on first consumption either way); it only moves WHERE the
    * cost lands. srcMaskCounts (a tiny re-aggregation of the mask) and
    * the result-level memos (nearDupPairs, components — genuinely d02's/
    * d21's own work) stay charged to their first consumer.
    */
  private[graft] def warmSharedMemos(s: SparkSession,
      dir: String): Seq[(String, Double)] = {
    def time(name: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd
        .foreachPartition(it => while (it.hasNext) { it.next(); () })
      (name, (System.nanoTime() - t0) / 1e9)
    }
    // gramIndex subsumes the old gramDf + hashSourceMask entries (round
    // 13: one corpus-wide groupBy-h pass serves df, first_doc and the
    // source mask); srcIndex warms first so the index build's ≤63-regime
    // probe reads a cached count
    Seq(
      time("docShingles")(docShingles(s, dir)),
      time("docSimhash")(docSimhash(s, dir)),
      time("gramTable")(gramTable(s, dir)),
      time("srcIndex")(srcIndexOf(s, dir)),
      time("gramIndex")(gramIndex(s, dir)))
  }

  /** Near-dup pairs at the 0.5 Jaccard threshold, persisted (tiny —
    * hundreds of rows); feeds d02 (pair report) and d21 (clustering).
    *
    * Shape: inverted-index self-join on the 60-bit shingle hash with per-doc
    * set sizes riding the exploded rows, then one groupBy(da, db) counting
    * co-occurrences — `shared` falls out of the join itself, no per-pair
    * array materialization. No join-strategy hint: AQE's runtime choice
    * (measured) beats forcing shuffle_hash — the index is skewed toward hot
    * shingles and AQE splits those reducer partitions before joining.
    *
    * A PPJoin-style prefix-filtered variant (index only the first
    * n − ⌈t·n⌉ + 1 sorted hashes + t-containment size window + exact
    * array_intersect verify) was implemented and MEASURED SLOWER here
    * (8.3 s vs 5.3 s for the d21 chain at sf0.1): the fixture corpus draws
    * from a small near-uniform vocabulary, so prefixes have no rare-token
    * skew to exploit — candidate pairs barely shrink while every surviving
    * pair pays an O(|set|) intersect that the count join never does. On a
    * Zipfian real-text corpus the trade flips (rare shingles up front make
    * prefixes selective) — and since round 8 that trade is DECIDED BY THE
    * ENGINE: the memo body routes through [[routeDfOrderedPrefix]] over
    * the measured [[gramDfStats]], picking the count-join on uniform-df
    * corpora (these fixtures) and [[nearDupPairsPrefixDfOrdered]] on
    * Zipf-tailed ones. Both arms are equality-pinned (Round8RouterSpec).
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "nearDupPairs") {
      // routed like [[containmentPairs]]: count-join on uniform-df
      // corpora (these fixtures), rarest-first df-ordered prefix on
      // Zipf-tailed text where the hot-gram quadratic dominates — both
      // arms equality-pinned in Round8RouterSpec
      (if (routeDfOrderedPrefix(gramDfStats(s, dir)))
        nearDupPairsPrefixDfOrdered(s, dir)
      else nearDupPairsJoin(s, dir)).persist()
    }

  private[graft] def nearDupPairsJoin(
      s: SparkSession, dir: String): DataFrame = {
      val docsSh = docShingles(s, dir)
      // candidate-stream-sized self-join width (see pairJoinWidth); a
      // no-op below the session width, i.e. on every local fixture
      val sh = sizePairJoin(s, dir,
        docsSh.select(col("doc_id"), size(col("h_arr")).as("n_sh"),
          explode(col("h_arr")).as("sh_h")), col("sh_h"))
      sizePairAgg(s, dir,
        sh.select(col("doc_id").as("da"), col("n_sh").as("na_r"), col("sh_h"))
        .join(sh.select(col("doc_id").as("db"), col("n_sh").as("nb_r"), col("sh_h")), "sh_h")
        .filter(col("da") < col("db"))
        // size-ratio pruning (PPJoin's length filter): J(a,b) ≤ min/max,
        // so a pair can reach the 0.5 threshold only when the set sizes
        // are within 2× of each other — a codegen'd comparison that drops
        // pairs BEFORE the (da, db) aggregation shuffle ever sees them.
        .filter(col("na_r") <= col("nb_r") * 2 && col("nb_r") <= col("na_r") * 2))
        // long na/nb so both route arms share one schema (size() is int)
        .groupBy("da", "db").agg(count(lit(1)).as("shared"),
          first(col("na_r").cast("long")).as("na"),
          first(col("nb_r").cast("long")).as("nb"))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .filter(col("jaccard") >= 0.5)
    }

  /** d51's containment pairs (shared / min(|A|,|B|) ≥ 0.9), plain
    * inverted-index count-join form — every co-occurring pair flows
    * through the (da, db) aggregation. The routed plan on uniform-df
    * corpora (every fixture), and the specs' ground truth for
    * [[containmentPairsPrefixDfOrdered]].
    */
  private[graft] def containmentPairsJoin(s: SparkSession, dir: String): DataFrame = {
    // n_sh rides the index row (d02's shape — round 14): gramTable rows
    // are the per-doc DISTINCT hashes, so the old post-agg `cnt` join keys
    // carried exactly size(h_arr); attaching it map-side to the exploded
    // index deletes the two post-aggregation joins that re-shuffled and
    // re-sorted the CANDIDATE-PAIR stream on da then db (guide §2.4) —
    // measured at sf10: once `cnt` (600 k docs) outgrew the broadcast
    // threshold those two joins were Exchange+Sort over ~100 M shared
    // rows at the session width, ~2/3 of d51's CPU. first() over a
    // per-pair-constant is exact; long cast keeps the route-arm schema.
    val docsSh = docShingles(s, dir)
    // candidate-stream-sized self-join width (see pairJoinWidth); a no-op
    // below the session width, i.e. on every local fixture
    val sh = sizePairJoin(s, dir,
      docsSh.select(col("doc_id"), size(col("h_arr")).as("n_sh"),
        explode(col("h_arr")).as("h")), col("h"))
    sizePairAgg(s, dir,
      sh.select(col("doc_id").as("da"), col("n_sh").as("na_r"), col("h"))
      .join(sh.select(col("doc_id").as("db"), col("n_sh").as("nb_r"), col("h")), "h")
      .filter(col("da") < col("db")))
      .groupBy("da", "db").agg(count(lit(1)).as("shared"),
        first(col("na_r").cast("long")).as("na"),
        first(col("nb_r").cast("long")).as("nb"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.9)
      .select("da", "db", "shared", "na", "nb", "containment")
  }

  /** Shared tail of the prefix-filtered containment family: candidate
    * (da, db) pairs are the prefix row-set joined against the FULL gram
    * index — exact for ANY fixed prefix-selection rule, by pigeonhole:
    * containment ≥ 0.9 means the smaller set misses at most 10% of its
    * grams, so it shares at least one gram of any ⌊0.1·n⌋+1-subset of its
    * grams with the other set. Survivors are verified with the two-pointer
    * merge over the docs' sorted hash arrays — exact |A∩B|, one JVM pass,
    * no second aggregation shuffle.
    */
  private def verifyPrefixCandidates(
      s: SparkSession, dir: String, pre: DataFrame,
      jaccard: Boolean = false): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir).select(col("doc_id"), col("h_arr"))
    val g = gramTable(s, dir)
    val cand = pre.select(col("doc_id").as("dx"), col("h"))
      .join(g.select(col("doc_id").as("dy"), col("h")), "h")
      .filter(col("dx") =!= col("dy"))
      .select(least(col("dx"), col("dy")).as("da"),
        greatest(col("dx"), col("dy")).as("db"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("da"), col("h_arr").as("ha")), "da")
      .join(sh.select(col("doc_id").as("db"), col("h_arr").as("hb")), "db")
      .select(col("da"), col("db"), col("ha"), col("hb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (da, db, ha, hb) =>
          var i = 0; var j = 0; var shd = 0L
          while (i < ha.length && j < hb.length) {
            if (ha(i) == hb(j)) { shd += 1; i += 1; j += 1 }
            else if (ha(i) < hb(j)) i += 1
            else j += 1
          }
          val na = ha.length.toLong
          val nb = hb.length.toLong
          // same double arithmetic as the count-join formulations, so a
          // routed plan is BIT-identical, not just set-identical
          val m = if (jaccard) shd.toDouble / (na + nb - shd)
                  else shd.toDouble / math.min(na, nb)
          if (m >= (if (jaccard) 0.5 else 0.9)) Some((da, db, shd, na, nb, m))
          else None
        }
      }
      .toDF("da", "db", "shared", "na", "nb",
        if (jaccard) "jaccard" else "containment")
  }

  /** Per-doc rarest-first prefix rows (doc_id, h): the `frac·n + 1`
    * LOWEST-df grams of each doc (global df, ties by hash). One h-shuffle
    * to attach df, one doc_id-shuffle to regroup; the per-doc sort is over
    * ONE doc's gram list (bounded by doc length — never a corpus window).
    */
  private def dfOrderedPrefixRows(
      s: SparkSession, dir: String, fracDenom: Int): DataFrame = {
    import s.implicits._
    gramTable(s, dir).join(gramDf(s, dir), "h")
      .select(col("doc_id"), col("h"), col("df"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val arr = it.map { case (_, h, df) => (df, h) }.toArray.sorted
        (id, arr.take(arr.length / fracDenom + 1).map(_._2))
      }
      .toDF("doc_id", "pre_arr")
      .select(col("doc_id"), explode(col("pre_arr")).as("h"))
  }

  /** Per-gram document frequency (h, df) — a projection of [[gramIndex]]
    * (round 13: the standalone groupBy-h build merged into the shared
    * vocabulary pass). Consumers: d34 (coverage profile), [[gramDfStats]]
    * (the plan router's corpus-shape statistic) and
    * [[containmentPairsPrefixDfOrdered]] (rarest-first prefixes).
    */
  private[queries] def gramDf(s: SparkSession, dir: String): DataFrame =
    gramIndex(s, dir).select("h", "df")

  /** Corpus-shape statistics of the gram document-frequency distribution,
    * the input to [[routeDfOrderedPrefix]]:
    *   - `coPairs` = Σ_g df·(df−1)/2 — the EXACT candidate-pair count the
    *     count-join formulation pushes through its (da, db) aggregation
    *     (its dominant cost, quadratic in hot-gram df);
    *   - `gramRows` = Σ_g df — the corpus's inverted-index size, the unit
    *     of the linear work every formulation pays;
    *   - `rareVocabFrac` — the fraction of vocabulary with df ≤ 2, the
    *     presence test for a Zipf rare tail (what makes rarest-first
    *     prefixes selective).
    * Doubles for the sums: at 100 TB a hot gram's df² exceeds 2⁶³ and this
    * is a routing statistic, not an answer — magnitude matters, ulps don't.
    */
  final case class GramDfStats(
      vocab: Long, gramRows: Double, coPairs: Double, rareVocabFrac: Double)

  /** Per-(app, dir) memo of [[GramDfStats]] — the statistic is one
    * O(vocab) aggregate over the already-memoized [[gramDf]], so the first
    * routed query pays for it and every later route decision in the
    * battery costs a map lookup (round-9 verdict item 5: d02 was being
    * charged a redundant stats job per query). Keyed by applicationId so
    * a fresh session over the same dir recomputes (fixture dirs are
    * immutable within a run, not across regenerations).
    */
  private val dfStatsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), GramDfStats]()

  private[graft] def gramDfStats(s: SparkSession, dir: String): GramDfStats =
    dfStatsCache.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => gramDfStatsCompute(s, dir))

  private def gramDfStatsCompute(s: SparkSession, dir: String): GramDfStats = {
    val r = gramDf(s, dir).agg(
      count(lit(1)).as("vocab"),
      coalesce(sum(col("df").cast("double")), lit(0.0)).as("gram_rows"),
      coalesce(sum(col("df").cast("double") * (col("df") - 1).cast("double")
        / 2.0), lit(0.0)).as("co_pairs"),
      coalesce(avg(when(col("df") <= 2, 1.0).otherwise(0.0)), lit(0.0))
        .as("rare_frac")).head()
    GramDfStats(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  /** Plan-routing decision for the containment-pair family, made from
    * MEASURED corpus shape instead of a hard-coded assumption (the
    * round-7/8 analyses showed the right plan is corpus-dependent):
    *
    * The df-ordered prefix filter beats the count-join only when BOTH
    *   1. a genuine rare tail exists (`rareVocabFrac ≥ 0.3`): under
    *     Zipf-like text ≥half the vocabulary is df ≤ 2, so a rarest-first
    *     10% prefix is df≈1-selective and candidates collapse to ~linear;
    *     on this fixture's binomial df (rareVocabFrac ≈ 0.008, min df ≈ 4)
    *     NO prefix ordering is selective — measured 148 s vs 86 s at sf10;
    *   2. the quadratic term actually dominates (`coPairs > 8·gramRows`):
    *     below that the count-join's aggregation is within a constant of
    *     the linear index/verify work the prefix path pays anyway (the
    *     fixture sits at coPairs/gramRows ≈ 4.9 at every SF — ScaleUp
    *     holds the df histogram invariant, BENCH_SF1 round-8 table).
    *
    * The statistic costs one aggregate over the already-persisted
    * [[gramDf]] — work the count-join's own build subsumes — and is
    * O(vocab), never O(pairs).
    */
  private[graft] def routeDfOrderedPrefix(st: GramDfStats): Boolean =
    st.rareVocabFrac >= 0.3 && st.coPairs > 8.0 * st.gramRows

  /** Width of the count-join arms' inverted-index self-join exchange,
    * derived from the MEASURED candidate stream instead of the global
    * default (guide §2.2: size the shuffle from the bytes it will carry).
    * `gramDfStats.coPairs` is the EXACT number of candidate rows the
    * self-join streams into the (da, db) partial aggregation, and that
    * per-task partial-agg hash state + SMJ sort buffer is what spilled at
    * sf1+ (BENCH_SF1 rounds 11/12: 256 partitions cut d02/d51 spill
    * −70/−81%; that lever was env-only — this makes the sizing engine
    * logic). Replacing the join's ENSURE_REQUIREMENTS h-exchange with an
    * explicit same-key repartition moves the SAME rows once either way —
    * it only sets the width — and the partial aggregation above the join
    * is untouched. ~250k candidates/task keeps the per-task partial-agg
    * state comfortably under the per-task execution-memory share even
    * with battery-scale storage pressure (measured at sf10, coPairs =
    * 126.6 M: 254-wide tasks tipped the d51 partial agg into a 30 GB
    * sort-spill in-battery while 507-wide stayed at zero; solo the
    * 500k–250k band is a flat plateau for both d02 and d51, below 165k
    * scheduling overhead creeps back in). Capped (a 100 TB corpus is run
    * with a cluster-sized spark.sql.shuffle.partitions anyway, which the
    * floor honors via Q.exchangeWidth). None — plan untouched — unless
    * the stream needs MORE THAN TWICE the session width (hysteresis,
    * measured at sf1: need = 51 vs width 32 fired and cost d02/d51
    * ~+1.4 s each against an ENSURE default that was already spill-free
    * — inside 2× the default width, AQE-coalesced ENSURE exchanges
    * handle the stream and an explicit repartition only adds overhead).
    * The bench fixture at sf0.1 sits at coPairs ≈ 1.27 M (need = 6), so
    * driver-visible plans are unchanged; the ladder engages it from
    * sf10 up (507 / ~1520 / ~5070 at 100×/300×/1000×).
    */
  private[graft] def pairJoinWidth(s: SparkSession, st: GramDfStats): Option[Int] = {
    val base = Q.exchangeWidth(s)
    val need = math.ceil(st.coPairs / 250000.0)
    val capped = math.min(need, 65536.0).toInt
    if (capped > 2 * base) Some(capped) else None
  }

  /** Apply [[pairJoinWidth]] to a pre-join exploded-index frame. */
  private def sizePairJoin(s: SparkSession, dir: String,
      index: DataFrame, key: Column): DataFrame =
    pairJoinWidth(s, gramDfStats(s, dir))
      .fold(index)(n => index.repartition(n, key))

  /** Apply [[pairJoinWidth]] to the candidate-pair stream feeding the
    * (da, db) aggregation. The pair stream is near-DISTINCT by (da, db) —
    * pairs sharing multiple grams are the rare exception, measured at
    * sf10: 126.58 M candidates → 126.48 M partial-agg output rows — so
    * map-side combining buys ~nothing while its first()-state rows are
    * WIDER than the raw candidates (8.09 vs ~5 GB in-memory for the same
    * stream), and the final aggregation at the session width held 3.5 M
    * groups/task and sort-spilled 14.6 GB (width-invariant in the JOIN
    * width — the agg exchange was the one still at the default). An
    * explicit same-width (da, db) repartition moves the narrower raw rows
    * once (replacing the ENSURE exchange, same exchange count), skips the
    * no-op partial pass, and scales the aggregation state with the
    * measured stream. No-op — plan untouched — whenever [[pairJoinWidth]]
    * is: every local fixture at sf0.1.
    */
  private def sizePairAgg(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame =
    pairJoinWidth(s, gramDfStats(s, dir))
      .fold(cand)(n => cand.repartition(n, col("da"), col("db")))

  /** Containment pairs via RAREST-FIRST (df-ordered) prefix filtering —
    * the Zipf-corpus arm of [[containmentPairs]]. Identical output to
    * [[containmentPairsJoin]] (pigeonhole-exact, see
    * [[verifyPrefixCandidates]]); only candidate generation differs: each
    * doc indexes the ⌊0.1·n⌋+1 grams with LOWEST document frequency
    * (global df, ties by hash), so on a corpus with a rare tail the
    * prefix⋈index join fans out at df≈1 instead of at the hot-gram df a
    * hash-ordered prefix keeps hitting. Costs: one h-shuffle to attach df,
    * one doc_id-shuffle to pick per-doc minima (JVM sort of one doc's
    * gram list — bounded by doc length, no window over the corpus), then
    * the shared candidate/verify tail. All linear in corpus grams except
    * the candidate join itself, which the df-ordering is what bounds.
    */
  private[graft] def containmentPairsPrefixDfOrdered(
      s: SparkSession, dir: String): DataFrame =
    verifyPrefixCandidates(s, dir, dfOrderedPrefixRows(s, dir, 10))

  /** Jaccard (J ≥ 0.5) near-dup pairs via the rarest-first prefix — the
    * Zipf-corpus arm of the routed [[nearDupPairs]]. Pigeonhole bound for
    * the Jaccard threshold: J ≥ 0.5 ⟹ shared ≥ (na+nb)/3 ≥ 2·na/3 (na
    * the smaller set), so the smaller doc misses at most ⌊na/3⌋ of its
    * own grams and ANY fixed ⌊na/3⌋+1-subset — here the df-ordered prefix
    * — contains a shared gram. A 33% prefix is weaker than containment's
    * 10% one, but on a Zipf-tailed corpus it is still df≈1-selective
    * where the count-join's candidate term is hot-gram-quadratic.
    */
  private[graft] def nearDupPairsPrefixDfOrdered(
      s: SparkSession, dir: String): DataFrame =
    verifyPrefixCandidates(s, dir, dfOrderedPrefixRows(s, dir, 3),
      jaccard = true)

  /** d51's public containment-pair operator: routes between the count-join
    * and the df-ordered prefix plan by [[routeDfOrderedPrefix]] over the
    * measured [[gramDfStats]]. On the fixtures this always picks the
    * count-join (both prefix conditions fail, by a margin); on a
    * Zipf-tailed real-text corpus it switches to the prefix plan. No
    * bucket-kernel arm: on one JVM it measured neutral-to-slower than the
    * count-join (sf10 d51 16.98 vs 16.96 s; sf30 63.3 vs 60.6 s).
    */
  private[graft] def containmentPairs(s: SparkSession, dir: String): DataFrame =
    if (routeDfOrderedPrefix(gramDfStats(s, dir)))
      containmentPairsPrefixDfOrdered(s, dir)
    else containmentPairsJoin(s, dir)

  /** MinHash signatures (k=16), computed MAP-SIDE from the cached per-doc
    * shingle hash sets — zero shuffles. Memoized: shared by d03 (LSH
    * verify) and d25 (estimate-accuracy report).
    *
    * Typed mapPartitions for the same reason as [[docShingles]]: the
    * equivalent array_min(transform(h_arr, perm_i)) chain evaluates each
    * of the 16 lambdas interpreted (~|shingles|×16 boxed ops per doc).
    * The JVM loop applies the identical permutation arithmetic
    * (a·(h mod 2^30) + b) mod (2^31 − 1) — all intermediates < 2^61, no
    * overflow — so signatures are bit-identical to the expression form
    * and to the DuckDB oracle.
    */
  private[queries] def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    Q.memo(s, dir, "minhashSigs") {
      import s.implicits._
      val params = minhashParams(16).toArray
      docShingles(s, dir).select(col("doc_id"), col("h_arr"))
        .as[(Long, Array[Long])]
        .mapPartitions { it =>
          it.map { case (id, hs) =>
            val mins = Array.fill(16)(Long.MaxValue)
            var j = 0
            while (j < hs.length) {
              val hm = hs(j) % 1073741824L
              var i = 0
              while (i < 16) {
                val v = (params(i)._2 * hm + params(i)._3) % 2147483647L
                if (v < mins(i)) mins(i) = v
                i += 1
              }
              j += 1
            }
            // empty shingle set => null signature components, matching
            // array_min over an empty array
            (id, if (hs.isEmpty) null else mins)
          }
        }.toDF("doc_id", "mh")
        .select(col("doc_id") +:
          (0 until 16).map(i => col("mh").getItem(i).as(s"mh$i")): _*)
        .persist()
    }
  }

  /** LSH banding candidates (4 bands × 4 rows): the only shuffle in the
    * MinHash pipeline is this (band, sig) self-join, whose input is 4 rows
    * per doc. Persisted — a tiny pair table consumed by d03 and d25.
    */
  private[queries] def lshCandidates(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "lshCandidates") {
      // shingle-less docs carry null signatures; concat_ws would collapse
      // them all onto the empty band sig and pair them with each other —
      // pairs the oracle (whose sig CTE simply has no rows for them) never
      // produces. Exclude them up front, matching the oracle's semantics.
      val bands = minhashSigs(s, dir).filter(col("mh0").isNotNull)
        .select(col("doc_id"),
        expr("stack(4, " + (0 until 4).map { b =>
          val cols = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
          s"$b, concat_ws(',', $cols)"
        }.mkString(", ") + ") AS (band, sig)"))
      bands.select(col("doc_id").as("da"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("db"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("n_bands"))
        .persist()
    }

  /** Max edge count routed to the driver union-find in [[componentsOf]].
    * Worst case at the threshold: 8M distinct nodes in the open-addressing
    * parent map of [[driverComponents]] ≈ 2×16M-slot long arrays = 256 MB,
    * plus a transient result buffer — comfortably inside the 24g default
    * driver and still safe under a SPARK_DRIVER_MEM=8g override. The
    * near-dup pair graph is |near-dups|-sized, not corpus-sized, so even a
    * 100 TB corpus with a few million duplicate pairs takes this path; a
    * pathological corpus (most of it duplicated) overflows the threshold
    * and falls back to the distributed loop.
    */
  private[graft] val DriverCCMaxEdges = 4L * 1000 * 1000

  /** Connected components over an undirected pair graph: (doc_id, label)
    * with label = MIN doc_id reachable. Size-ADAPTIVE, the same runtime
    * call production CC implementations make: an overhead-dominated
    * distributed loop on a tiny graph wastes ~2 Spark jobs per round, while
    * a driver union-find on a huge graph OOMs — so pick by measured edge
    * count (pairs is already materialized; count() is a cache scan).
    */
  private[graft] def componentsOf(s: SparkSession, pairs: DataFrame): DataFrame =
    if (pairs.count() <= DriverCCMaxEdges)
      // the driver path's open-addressing map reserves Long.MinValue as its
      // empty-slot sentinel; a corpus actually using that id falls through
      // to the sentinel-free distributed loop instead of corrupting labels
      try driverComponents(s, pairs)
      catch { case MinKeyUnsupported => distributedComponents(s, pairs) }
    else distributedComponents(s, pairs)

  /** Thrown (and caught in [[componentsOf]]) when an edge carries the
    * open-addressing sentinel id Long.MinValue.
    */
  private object MinKeyUnsupported extends Exception
    with scala.util.control.NoStackTrace

  /** Driver-side union-find (path compression + union-by-min-root, so each
    * tree root IS the component minimum). O(E α(E)) on one core — for the
    * thresholded edge counts this is milliseconds, vs seconds of per-round
    * job overhead in the distributed loop.
    */
  private[graft] def driverComponents(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // Open-addressing long->long parent map (linear probing, power-of-two
    // capacity, Long.MinValue = empty): ~16 B/entry in two flat arrays vs
    // ~100 B/entry for a boxed mutable.HashMap — at the DriverCCMaxEdges
    // worst case (8M nodes) that's ~256 MB instead of ~1 GB of GC churn.
    var cap = 1 << 16
    var keys = Array.fill(cap)(Long.MinValue)
    var vals = new Array[Long](cap)
    var used = 0
    def slot(k: Long): Int = {
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & (cap - 1)
      while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill(cap)(Long.MinValue); vals = new Array[Long](cap)
      var j = 0
      while (j < ok.length) {
        if (ok(j) != Long.MinValue) { val i = slot(ok(j)); keys(i) = ok(j); vals(i) = ov(j) }
        j += 1
      }
    }
    def ensure(k: Long): Int = {
      if (k == Long.MinValue) throw MinKeyUnsupported // = empty sentinel
      var i = slot(k)
      if (keys(i) == Long.MinValue) {
        keys(i) = k; vals(i) = k; used += 1
        if (used * 2 > cap) { grow(); i = slot(k) }
      }
      i
    }
    def find(x: Long): Long = {
      var r = x
      while (vals(slot(r)) != r) r = vals(slot(r))
      var c = x
      while (c != r) { val i = slot(c); val nx = vals(i); vals(i) = r; c = nx }
      r
    }
    // toLocalIterator: one partition of boxed rows in flight at a time
    // instead of a fully-materialized collect() array alongside the map.
    val it = pairs.as[(Long, Long)].toLocalIterator()
    while (it.hasNext) {
      val (a, b) = it.next()
      ensure(a); ensure(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) vals(slot(math.max(ra, rb))) = math.min(ra, rb)
    }
    val out = Array.newBuilder[(Long, Long)]
    out.sizeHint(used)
    var j = 0
    while (j < keys.length) {
      if (keys(j) != Long.MinValue) out += ((keys(j), find(keys(j))))
      j += 1
    }
    out.result().toSeq.toDF("doc_id", "label")
  }

  /** Distributed min-label propagation with POINTER DOUBLING — the 100 TB
    * path of [[componentsOf]]: labels(doc) := min of (self, neighbor
    * labels, label-of-label), iterated to fixpoint.
    *
    * State is |docs-in-pairs| rows (never the transitive closure). The
    * label-of-label term is the shortcut edge of the classic
    * pointer-jumping trick — chains collapse in O(log diameter) rounds
    * instead of O(diameter). Labels only decrease, so the aggregate label
    * sum is a monotone convergence witness — one cheap action per round
    * instead of a change-detection join. Per-round checkpoints truncate
    * lineage (the plan would otherwise double every iteration) — RELIABLE
    * checkpoints (checkpoint-dir writes) when a checkpoint dir is
    * available, because this is the >4M-edge path where an hours-long run
    * losing an executor must not lose the corpus-sized iteration state a
    * localCheckpoint pins in executor storage. At this path's edge counts
    * the labels and edges are both genuinely large: the equi-joins
    * shuffle-partition by key and AQE picks build sides — nothing is
    * forced broadcast.
    */
  private[graft] def distributedComponents(s: SparkSession, pairs: DataFrame): DataFrame = {
    val pin = ccCheckpointer(s)
    val edges = pin(pairs
      .union(pairs.select(col("db").as("da"), col("da").as("db"))))
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head.getLong(0) // 0 when empty
    var labels = pin(edges.select(col("da").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")))
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val viaEdge = labels.as("l")
        .join(edges.as("e"), col("l.doc_id") === col("e.da"))
        .select(col("e.db").as("doc_id"), col("l.label"))
      val viaLabel = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.doc_id"))
        .select(col("x.doc_id"), col("y.label").as("label"))
      val next = pin(viaEdge.union(viaLabel).union(labels)
        .groupBy("doc_id").agg(min("label").as("label")))
      val s2 = labelSum(next)
      converged = s2 == prevSum
      prevSum = s2
      labels = next
    }
    labels
  }

  /** Lineage-truncation strategy for the CC loop: reliable `checkpoint`
    * against the context's checkpoint dir (survives executor loss; on
    * local mode a temp dir is minted when none is set), degrading to
    * `localCheckpoint` ONLY on a real cluster whose operator set no
    * checkpoint dir — a driver-local temp path would not be readable by
    * executors there. Superseded rounds' checkpoint files are reclaimed
    * by the ContextCleaner once their DataFrame references drop —
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` is set by
    * this library's session builders (Bench/Verify/SparkSpec) and MUST be
    * set by production sessions too, or old rounds accumulate until JVM
    * exit (the conf is read at context construction, it cannot be
    * enabled after the fact).
    */
  private[graft] def ccCheckpointer(s: SparkSession): DataFrame => DataFrame = {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty && sc.isLocal)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString)
    if (sc.getCheckpointDir.isDefined) df => df.checkpoint(eager = true)
    else df => df.localCheckpoint(true)
  }

  /** Memoized component labels over the near-dup pair graph — one CC run
    * shared by d21 (cluster report) and d30 (canonical-doc selection).
    */
  /** d48's inputs: (train corpus, needle set). Factored so the spec can
    * drive both hit paths against the same frames (the d21 size-adaptive
    * CC pattern).
    */
  private[graft] def d48Inputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val needles = docs
      .filter(col("source") === "src0" &&
        size(tokens(col("text"))) >= 5)
      .select(concat_ws(" ", slice(tokens(col("text")), 1, 5)).as("needle"))
      .distinct()
    // spread: all three hit arms run a per-row char scan over train (the
    // broadcast arm's contains probe, the automaton scan, the gram
    // explode) — on the single-split fixture that work sat on one core
    // (round-13 metrics: d48 1.2 s wall / 0.8 s CPU, 12 tasks). No-op on
    // wide scans, so the 100 TB path gains no exchange.
    val train = Q.spread(docs.filter(col("source") =!= "src0")
      .select("doc_id", "source", "text"), col("doc_id"))
    (train, needles)
  }

  /** Exact-substring hit set, broadcast path: the needle set fits a
    * broadcast, so the corpus is scanned ONCE with a per-row contains
    * probe — the normal plan while eval sets stay benchmark-sized.
    */
  private[graft] def substringHitsBroadcast(train: DataFrame,
      needles: DataFrame): DataFrame =
    train.crossJoin(broadcast(needles))
      .filter(col("text").contains(col("needle")))
      .select("doc_id").distinct()

  /** Exact-substring hit set, inverted-index path — for when the needle
    * set outgrows a broadcast. Blocking key: the needle's first 8
    * CHARACTERS, joined against the train text's 8-char grams. The block
    * is COMPLETE — `text.contains(needle)` implies the needle's first 8
    * chars appear as a text 8-gram at the match position (needles are ≥5
    * tokens ⇒ ≥9 chars) — and candidates are re-verified with the same
    * contains probe, so this returns exactly [[substringHitsBroadcast]]'s
    * rows. Cost is one keyed shuffle over O(|text|) grams per train doc —
    * linear, no eval×corpus product (a 100 TB run would fold the gram
    * emission into mapPartitions with a rolling window; the declarative
    * form keeps the same shuffle shape).
    */
  private[graft] def substringHitsIndexed(train: DataFrame,
      needles: DataFrame): DataFrame = {
    // completeness guard: a needle SHORTER than the 8-char block key can
    // never match a text 8-gram (degenerate ≥5-token needles exist — empty
    // tokens from doubled spaces make "x  y  z" 7 chars). Those few stay
    // on the contains-probe path; they are bounded by the token-count
    // filter, not corpus-sized.
    val long = needles.filter(length(col("needle")) >= 8)
    val short = needles.filter(length(col("needle")) < 8)
    val keyed = long.select(col("needle"),
      substring(col("needle"), 1, 8).as("k"))
    val grams = train
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - 7, lit(1)))).as("i"))
      .select(col("doc_id"), col("text").substr(col("i"), lit(8)).as("k"))
      .distinct()
    val cand = grams.join(keyed, "k").select("doc_id", "needle").distinct()
    val longHits = cand.join(train.select("doc_id", "text"), "doc_id")
      .filter(col("text").contains(col("needle")))
      .select("doc_id")
    // short needles join KEYED too (no broadcast — this path exists
    // because needle sets can be huge): for length L, a text L-gram that
    // EQUALS the needle IS the containment proof, so per distinct short
    // length (≤7 of them, collected from the tiny length-distinct agg)
    // the gram join needs no re-verification
    val rawLens = short.select(length(col("needle")).as("l")).distinct()
      .collect().map(_.getInt(0))
    val shortLens = rawLens.filter(_ > 0)
    val shortHits = shortLens.map { l =>
      train
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1),
            greatest(length(col("text")) - (l - 1), lit(1)))).as("i"))
        .select(col("doc_id"), col("text").substr(col("i"), lit(l)).as("needle"))
        .join(short.filter(length(col("needle")) === l), "needle")
        .select("doc_id")
    }
    // contains("") is true for every NON-NULL text (contains(null, '')
    // is null → filtered): an empty needle (possible when the ≥5-token
    // filter passes only empty tokens) makes every non-null-text doc a
    // hit — mirrored here, incl. the null-text exclusion, so all three
    // paths agree on degenerate inputs, not just benchmark-shaped ones
    if (rawLens.contains(0))
      train.filter(col("text").isNotNull).select("doc_id").distinct()
    else (longHits +: shortHits.toSeq).reduce(_ union _).distinct()
  }

  /** Exact-substring hit set, single-pass multi-pattern scan — the scale
    * path for needle sets past the contains-probe crossover that still fit
    * in memory (every benchmark-decontamination workload: even 1M needles
    * ≈ 30 MB of chars). An Aho–Corasick automaton built from the collected
    * needles is broadcast, and each train text is scanned ONCE with
    * early-exit on the first hit — O(total corpus chars), no gram
    * explosion, no shuffle before the final distinct. Matching is over
    * UTF-16 code units, i.e. exactly `String.contains`, so the rows equal
    * [[substringHitsBroadcast]]'s by construction (spec-pinned, incl. the
    * empty-needle degenerate).
    */
  private[graft] def substringHitsScan(train: DataFrame,
      needles: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    val pats = needles.select(col("needle")).as[String].collect()
    val built = graft.functions.AhoCorasick.build(pats.toSeq)
    // null texts are excluded like the broadcast oracle (contains(null,
    // needle) is null, never true)
    if (built.matchesAll)
      return train.filter(col("text").isNotNull).select("doc_id").distinct()
    val bc = s.sparkContext.broadcast(built.matcher)
    train.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.collect { case (id, t) if t != null && ac.anyMatch(t) => id }
      }
      .toDF("doc_id").distinct()
  }

  /** One tile of embeddings for [[tilePairs]]: members sorted by
    * vec_id, vectors flattened row-major (`dims` carries per-member length
    * so a corrupt/ragged batch degrades to skipped pairs — the NULL
    * semantics of `float_dot` on mismatched lengths — instead of garbage
    * offsets). `gkey` is an opaque Long group key — the plain label on
    * the exact path, a (label-index, cell) composite on the budgeted
    * escape-hatch path ([[embedNeardupBudgeted]]).
    */
  private[graft] case class EmbTile(gkey: Long, blk: Int, ids: Array[Long],
      nrms: Array[Double], dims: Array[Int], vecs: Array[Float])

  /** Plain-join formulation of within-label cosine pairs — the reference
    * semantics [[embedNeardupBlocked]] must reproduce bit-for-bit
    * (Round6OpsSpec pins them equal). Kept for the spec and as the
    * readable statement of WHAT d12 computes.
    */
  private[graft] def embedNeardupJoin(s: SparkSession, v: DataFrame,
      thr: Double): DataFrame = {
    graft.functions.FloatDotProduct.register(s)
    val a = v.select(col("vec_id").as("va"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("vb"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label")).filter(col("va") < col("vb"))
      .withColumn("cosine",
        cosineWithNorms(dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cosine") > thr)
      .select("label", "va", "vb", "cosine")
  }

  /** Within-label all-pairs cosine > thr, computed TILE-wise: vectors pack
    * into ~1024-member tiles per label (hash(vec_id) mod block-count —
    * windowless, see [[tilePairs]]), tile pairs join on label with
    * `blkA ≤ blkB`, and a tight primitive loop scores each tile pair in
    * one task.
    *
    * Why tiles and not LSH bands: at thr=0.4 ≈ 3σ of the random-pair
    * cosine in 64-d, hyperplane banding cannot prune without false
    * negatives — bands wide enough for recall at θ=acos(0.4)≈66°
    * (p_bit≈0.63) need ≤2 bits to keep miss probability ~0, which
    * partitions a label into ≤4 buckets per band and multiplies candidate
    * rows ~8× instead of dividing them. The pair set is information-
    * theoretically irreducible here; what IS reducible is memory traffic:
    * the plain join materializes both 64-float vectors per PAIR (O(n²·d)
    * bytes through the shuffle and row iterator), while tiles move each
    * vector once per tile pair — O(n²·d/1024) — and score pairs at
    * register speed. Same left-to-right double-fold accumulation as
    * `float_dot`, so results are bit-identical to the join and to the
    * DuckDB oracle. Repartitioned on (label, blkA, blkB) so the ~n²/2²⁰
    * tile pairs spread over all executors, not one task per label.
    */
  private[graft] def embedNeardupBlocked(s: SparkSession, v: DataFrame,
      thr: Double, tile: Int = 1024): DataFrame =
    tilePairs(s, v.withColumn("gkey", col("label").cast("long")), thr, tile)
      .select(col("gkey").cast("int").as("label"),
        col("va"), col("vb"), col("cosine"))

  /** The tile kernel itself, over an opaque Long group key `gkey`:
    * all-pairs cosine > thr WITHIN each gkey group. [[embedNeardupBlocked]]
    * passes gkey = label (the exact path); [[embedNeardupBudgeted]] passes
    * a (label-index, cell) composite so over-budget labels score only
    * within-cell candidates.
    */
  private[graft] def tilePairs(s: SparkSession, v: DataFrame,
      thr: Double, tile: Int = 1024, quantFabric: Boolean = false): DataFrame = {
    if (quantFabric) return tilePairsQuant(s, v, thr, tile)
    import s.implicits._
    // Windowless blocking (round-9): blk = hash(vec_id) mod ceil(n/tile).
    // The old row_number().over(partitionBy(gkey)) funneled every group's
    // full embedding rows through ONE sort task per gkey; hash assignment
    // needs only the per-group COUNT (a map-side-combined aggregate) and
    // keeps blocks ~tile-sized by uniformity. Correctness needs nothing
    // from block composition: every unordered pair lands in exactly one
    // (blkA ≤ blkB) tile pair, and the kernel emits (min,max) explicitly
    // since hash blocks no longer order ids across blocks.
    val cnts = v.groupBy("gkey").agg(count(lit(1)).as("gn"))
    val blocks = v.join(cnts, "gkey")
      .withColumn("blk",
        pmod(xxhash64(col("vec_id")),
          expr(s"(gn + ${tile - 1}) div $tile")).cast("int"))
      .groupBy(col("gkey"), col("blk"))
      .agg(sort_array(collect_list(struct(
        col("vec_id"), col("nrm"), col("embedding")))).as("m"))
      .select(col("gkey"), col("blk"),
        expr("transform(m, x -> x.vec_id)").as("ids"),
        expr("transform(m, x -> x.nrm)").as("nrms"),
        expr("transform(m, x -> size(x.embedding))").as("dims"),
        flatten(expr("transform(m, x -> x.embedding)")).as("vecs"))
      .as[EmbTile]
    // Tile-pair rows carry both tiles' vectors, so the repartition moves
    // O(n²·d/tile) bytes — 20 GB at 500 k×64-d. MEASURED against the
    // alternative (broadcast the 130 MB tile frame, parallelize on the
    // A-side partitioning alone): the shuffle wins 34.5 s vs 61.9 s at
    // sf10/local[32] — per-pair task spread beats avoiding an exchange
    // the page cache absorbs, and on a many-executor cluster the same
    // exchange spreads O(1/executors). Pair-task granularity is the
    // knob that matters: one task per tile pair, hashed over all cores.
    val pairs = blocks.as("x").joinWith(blocks.as("y"),
        col("x.gkey") === col("y.gkey") && col("x.blk") <= col("y.blk"))
      .repartition(col("_1.gkey"), col("_1.blk"), col("_2.blk"))
    pairs.flatMap { case (ta, tb) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      val same = ta.blk == tb.blk
      val nA = ta.ids.length
      val nB = tb.ids.length
      val d0 = if (ta.dims.nonEmpty) ta.dims(0) else 0
      val uniform = d0 > 0 &&
        ta.dims.forall(_ == d0) && tb.dims.forall(_ == d0)
      // Double.compare: NaN sorts greatest — Spark's and DuckDB's
      // comparison semantics for a zero-norm vector's NaN cosine
      @inline def emit(i: Int, j: Int, cos: Double): Unit =
        if (java.lang.Double.compare(cos, thr) > 0) {
          // hash blocks don't order ids across blocks: emit (min, max)
          val a = ta.ids(i); val b = tb.ids(j)
          out += ((ta.gkey, math.min(a, b), math.max(a, b), cos))
        }
      if (uniform) {
        // Hot path, register-blocked 4 pairs wide: each accumulator is a
        // STRICT left-to-right double fold over one pair — bit-identical
        // to float_dot / the oracle — and the four independent chains
        // hide the 4-cycle FP-add latency (measured ~7× over the naive
        // per-pair loop; a lane-split sum of ONE pair would be faster
        // still but reassociates, so it is deliberately not used).
        // Floats widen to doubles once per tile, not once per pair.
        def widen(src: Array[Float]): Array[Double] = {
          val d = new Array[Double](src.length)
          var k = 0
          while (k < src.length) { d(k) = src(k).toDouble; k += 1 }
          d
        }
        val ad = widen(ta.vecs)
        val bd = if (same) ad else widen(tb.vecs)
        var i = 0
        while (i < nA) {
          val oa = i * d0
          val na = ta.nrms(i)
          var j = if (same) i + 1 else 0
          while (j + 3 < nB) {
            val o0 = j * d0; val o1 = o0 + d0; val o2 = o1 + d0; val o3 = o2 + d0
            var t0 = 0.0; var t1 = 0.0; var t2 = 0.0; var t3 = 0.0
            var k = 0
            while (k < d0) {
              val x = ad(oa + k)
              t0 += x * bd(o0 + k); t1 += x * bd(o1 + k)
              t2 += x * bd(o2 + k); t3 += x * bd(o3 + k)
              k += 1
            }
            emit(i, j, t0 / (na * tb.nrms(j)))
            emit(i, j + 1, t1 / (na * tb.nrms(j + 1)))
            emit(i, j + 2, t2 / (na * tb.nrms(j + 2)))
            emit(i, j + 3, t3 / (na * tb.nrms(j + 3)))
            j += 4
          }
          while (j < nB) {
            val ob = j * d0
            var t = 0.0
            var k = 0
            while (k < d0) { t += ad(oa + k) * bd(ob + k); k += 1 }
            emit(i, j, t / (na * tb.nrms(j)))
            j += 1
          }
          i += 1
        }
      } else {
        // ragged tiles (mixed dims — a corrupt batch): per-pair offsets,
        // mismatched dims ⇒ null dot ⇒ no pair, same as float_dot
        def offsets(dims: Array[Int]): Array[Int] = {
          val o = new Array[Int](dims.length)
          var i = 1
          while (i < dims.length) { o(i) = o(i - 1) + dims(i - 1); i += 1 }
          o
        }
        val offA = offsets(ta.dims)
        val offB = if (same) offA else offsets(tb.dims)
        var i = 0
        while (i < nA) {
          val d = ta.dims(i)
          val oa = offA(i)
          val na = ta.nrms(i)
          var j = if (same) i + 1 else 0
          while (j < nB) {
            if (d == tb.dims(j)) {
              val ob = offB(j)
              var acc = 0.0
              var k = 0
              while (k < d) {
                acc += ta.vecs(oa + k).toDouble * tb.vecs(ob + k).toDouble
                k += 1
              }
              emit(i, j, acc / (na * tb.nrms(j)))
            }
            j += 1
          }
          i += 1
        }
      }
      out
    }.toDF("gkey", "va", "vb", "cosine")
  }

  /** One int8-quantized tile for [[tilePairsQuant]]: per member, the
    * exact norm (double — the rescore denominators must not drift), the
    * quantization scale (0 marks an UNSAFE member: NaN/±Inf/null
    * components, zero maxabs, or a non-finite/zero norm — every pair it
    * touches routes to the exact rescore unconditionally), and the
    * flattened int8 codes (1 B/component — the 4 B float codes are what
    * made the exact tile fabric the d12 disk ceiling at 1000×).
    */
  private[graft] case class EmbTileQ(gkey: Long, blk: Int, ids: Array[Long],
      nrms: Array[Double], dims: Array[Int], scls: Array[Double],
      qv: Array[Byte])

  /** [[tilePairs]] with an int8-quantized CANDIDATE fabric — same blocks,
    * same tile-pair join and repartition, but tile rows carry 1-byte
    * codes instead of 4-byte floats (~3× fewer fabric bytes — the term
    * that exhausted the box's disk at 1000×), and the kernel emits
    * CANDIDATE pairs under a rigorous no-false-negative bound instead of
    * exact cosines. Survivors re-join the (persisted) member frame and
    * re-score through the identical `float_dot` expression the plain-join
    * reference uses, so the output is BIT-IDENTICAL to [[tilePairs]]
    * (spec-pinned, including NaN/ragged/tie edges).
    *
    * The bound: with q = ⌊x·s + ½⌋ (s = 127/maxabs, so |q − x·s| ≤ ½ per
    * component), |dot(x,y) − Q/(sₓs_y)| ≤ (½·Σ|qₓ| + ½·Σ|q_y| + ¼·d)/
    * (sₓs_y) where Q = Σ qₓq_y (integer). A pair survives when the upper
    * bound on its cosine clears `thr` (slack 1e-7 ≫ the bound
    * arithmetic's own FP rounding, ≪ the ~1e-2 quantization width), or
    * when either member is unsafe (scl = 0) or the denominator is
    * non-finite — the exact rescore, not the bound, decides those.
    * At thr − ε selectivity the survivor set is output-sized, so the
    * rescore joins move O(output) rows, never O(pairs).
    */
  private[graft] def tilePairsQuant(s: SparkSession, v: DataFrame,
      thr: Double, tile: Int = 1024,
      maxBatchBytes: Long = VectorKernels.MaxProbeBytes,
      maxBatches: Int = MaxRescoreBatches): DataFrame = {
    import s.implicits._
    // gdim (sum of real per-member dims) rides the count aggregate for
    // free: the rescore batching below sizes each gkey's broadcast from
    // MEASURED bytes, so a ragged corpus whose later vectors are much
    // wider cannot overshoot a batch past maxBatchBytes the way a
    // one-sampled-dim estimate could
    val cnts = v.groupBy("gkey").agg(count(lit(1)).as("gn"),
      sum(coalesce(size(col("embedding")), lit(0)).cast("long")).as("gdim"))
    val maxabs = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    val hasNull = exists(col("embedding"), x => x.isNull)
    // member safety gate: quantization (and the bound's denominator)
    // only trusts finite, non-degenerate members; everything else takes
    // scl = 0 and rides to the exact rescore. The division sits INSIDE
    // the when so ANSI never sees a zero divisor, and a subnormal maxabs
    // (127/x overflowing to +Inf) demotes to unsafe in the second step.
    val safeIn = col("embedding").isNotNull && !hasNull &&
      maxabs.isNotNull && !isnan(maxabs) && maxabs > 0 &&
      maxabs =!= lit(Double.PositiveInfinity) &&
      !isnan(col("nrm")) && col("nrm") > 0 &&
      col("nrm") =!= lit(Double.PositiveInfinity)
    val sclRaw = when(safeIn, lit(127.0) / maxabs).otherwise(lit(0.0))
    val sclSafe = when(sclRaw =!= lit(Double.PositiveInfinity), sclRaw)
      .otherwise(lit(0.0))
    // int8 codes as a hex string per member (2 chars/component), joined
    // and unhex'd once per TILE into a flat binary — linear, and the only
    // array<tinyint>→binary bridge the SQL surface offers
    val blocks = v.join(cnts, "gkey")
      .withColumn("blk",
        pmod(xxhash64(col("vec_id")),
          expr(s"(gn + ${tile - 1}) div $tile")).cast("int"))
      .withColumn("scl", sclSafe)
      .withColumn("qhex",
        when(col("scl") === 0.0,
          repeat(lit("00"), coalesce(size(col("embedding")), lit(0))))
        .otherwise(array_join(transform(col("embedding"), x =>
          lpad(hex(floor(x.cast("double") * col("scl") + 0.5).cast("int")
            .bitwiseAND(lit(255))), 2, "0")), "")))
      .groupBy(col("gkey"), col("blk"))
      .agg(sort_array(collect_list(struct(
        col("vec_id"), col("nrm"), col("scl"),
        coalesce(size(col("embedding")), lit(0)).as("dim"),
        col("qhex")))).as("m"))
      .select(col("gkey"), col("blk"),
        expr("transform(m, x -> x.vec_id)").as("ids"),
        expr("transform(m, x -> x.nrm)").as("nrms"),
        expr("transform(m, x -> x.dim)").as("dims"),
        expr("transform(m, x -> x.scl)").as("scls"),
        unhex(concat_ws("", expr("transform(m, x -> x.qhex)"))).as("qv"))
      .as[EmbTileQ]
    val pairs = blocks.as("x").joinWith(blocks.as("y"),
        col("x.gkey") === col("y.gkey") && col("x.blk") <= col("y.blk"))
      .repartition(col("_1.gkey"), col("_1.blk"), col("_2.blk"))
    val cand = pairs.flatMap { case (ta, tb) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val same = ta.blk == tb.blk
      val nA = ta.ids.length
      val nB = tb.ids.length
      def offsets(dims: Array[Int]): Array[Int] = {
        val o = new Array[Int](dims.length)
        var i = 1
        while (i < dims.length) { o(i) = o(i - 1) + dims(i - 1); i += 1 }
        o
      }
      // per-member |q| L1 from the codes themselves (no cross-layer
      // drift with the bound that consumes it), once per tile
      def l1Of(t: EmbTileQ, off: Array[Int]): Array[Int] = {
        val l1 = new Array[Int](t.ids.length)
        var i = 0
        while (i < t.ids.length) {
          var acc = 0
          var k = 0
          val o = off(i); val d = t.dims(i)
          while (k < d) {
            val b = t.qv(o + k).toInt
            acc += (if (b < 0) -b else b)
            k += 1
          }
          l1(i) = acc
          i += 1
        }
        l1
      }
      val offA = offsets(ta.dims)
      val offB = if (same) offA else offsets(tb.dims)
      val l1A = l1Of(ta, offA)
      val l1B = if (same) l1A else l1Of(tb, offB)
      @inline def emitC(i: Int, j: Int): Unit = {
        val a = ta.ids(i); val b = tb.ids(j)
        out += ((ta.gkey, math.min(a, b), math.max(a, b)))
      }
      @inline def check(i: Int, j: Int, q: Long, d: Int): Unit =
        if (quantCandidate(q, l1A(i), l1B(j), d, ta.scls(i), tb.scls(j),
            ta.nrms(i), tb.nrms(j), thr)) emitC(i, j)
      val d0 = if (ta.dims.nonEmpty) ta.dims(0) else 0
      val uniform = d0 > 0 &&
        ta.dims.forall(_ == d0) && tb.dims.forall(_ == d0)
      if (uniform) {
        // 4-wide integer accumulator chains over byte codes (the
        // tilePairs blocking shape; int adds have no FP latency to hide
        // but the 4-wide layout keeps the byte loads streaming)
        val qa = ta.qv
        val qb = tb.qv
        var i = 0
        while (i < nA) {
          val oa = i * d0
          var j = if (same) i + 1 else 0
          while (j + 3 < nB) {
            val o0 = j * d0; val o1 = o0 + d0; val o2 = o1 + d0; val o3 = o2 + d0
            var t0 = 0L; var t1 = 0L; var t2 = 0L; var t3 = 0L
            var k = 0
            while (k < d0) {
              val x = qa(oa + k).toLong
              t0 += x * qb(o0 + k); t1 += x * qb(o1 + k)
              t2 += x * qb(o2 + k); t3 += x * qb(o3 + k)
              k += 1
            }
            check(i, j, t0, d0); check(i, j + 1, t1, d0)
            check(i, j + 2, t2, d0); check(i, j + 3, t3, d0)
            j += 4
          }
          while (j < nB) {
            val ob = j * d0
            var t = 0L
            var k = 0
            while (k < d0) { t += qa(oa + k).toLong * qb(ob + k); k += 1 }
            check(i, j, t, d0)
            j += 1
          }
          i += 1
        }
      } else {
        // ragged tiles: per-pair offsets; mismatched dims ⇒ no pair
        // (float_dot's NULL contract — the rescore would drop them too)
        var i = 0
        while (i < nA) {
          val d = ta.dims(i)
          val oa = offA(i)
          var j = if (same) i + 1 else 0
          while (j < nB) {
            if (d == tb.dims(j)) {
              val ob = offB(j)
              var t = 0L
              var k = 0
              while (k < d) { t += ta.qv(oa + k).toLong * tb.qv(ob + k); k += 1 }
              check(i, j, t, d)
            }
            j += 1
          }
          i += 1
        }
      }
      out
    }.toDF("gkey", "va", "vb")
    // ---- exact rescore of survivors ----
    // On dup-heavy corpora the survivor set is OUTPUT-sized (every true
    // near-dup pair survives the bound by definition), so a join-back
    // rescore would shuffle survivor×embedding rows — measured fatal at
    // 1000× (the pair×embedding intermediate alone outweighs the fabric
    // the quantization saved). Instead the member vectors broadcast in
    // gkey-batches bounded by [[VectorKernels.MaxProbeBytes]] and
    // survivors re-score IN PLACE (a narrow mapPartitions — zero
    // pair-shaped shuffle), through the same strict left-to-right
    // double fold as float_dot and the same NaN-greatest comparison as
    // the reference's `cosine > thr` filter. Corpora whose member
    // batches outgrow [[MaxRescoreBatches]] broadcasts fall back to the
    // shuffle-join rescore (loud) — at that scale the pair×embedding
    // fabric spreads over a cluster's aggregate disk.
    // per-gkey MEASURED member bytes: 4 B per real component (gdim sums
    // actual sizes, so mixed-width corpora size correctly) + per-row
    // overhead (boxed id/norm/array headers in the driver HashMap)
    val gkSizes = cnts.select(col("gkey"), col("gn"), col("gdim"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
      .map { case (g, n, sd) => (g, 4L * sd + 120L * n) }
    val batches = rescoreBatches(gkSizes, maxBatchBytes)
    if (batches.isEmpty) {
      // empty member frame ⇒ no survivors possible: degrade like the
      // exact kernel (an empty frame, not an empty .reduce throw)
      cand.withColumn("cosine", lit(null).cast("double")).limit(0)
    } else if (batches.length > maxBatches) {
      Console.err.println(s"[graft] tilePairsQuant: member corpus needs " +
        s"${batches.length} rescore broadcasts (> $maxBatches) — " +
        "falling back to the shuffle-join rescore")
      val ea = v.select(col("gkey"), col("vec_id").as("va"),
        col("nrm").as("na"), col("embedding").as("ea"))
      val eb = v.select(col("gkey"), col("vec_id").as("vb"),
        col("nrm").as("nb"), col("embedding").as("eb"))
      cand.join(ea.hint("shuffle_hash"), Seq("gkey", "va"))
        .join(eb.hint("shuffle_hash"), Seq("gkey", "vb"))
        .withColumn("cosine",
          cosineWithNorms(dot(col("ea"), col("eb")), col("na"), col("nb")))
        .filter(col("cosine") > thr)
        .select("gkey", "va", "vb", "cosine")
    } else {
      // multi-batch: each batch re-reads the survivor stream, so cache it
      // (columnar-compressed, ~output-sized) instead of re-running the
      // quantized kernel per batch. The persist (and each batch's member
      // broadcast below) outlives this function — the returned plan
      // references them lazily — so their release registers with the
      // scratch queue: the harness drains it after the consuming query
      // materializes, instead of leaving ~output-sized cache plus up to
      // maxBatches × maxBatchBytes of broadcast blocks to the
      // ContextCleaner's GC timing.
      val candIn = if (batches.length > 1) {
        val p = cand.persist()
        Q.registerScratch(s, "tilePairsQuant.candIn")(p.unpersist(false))
        p
      } else cand
      batches.map { gs =>
        // collect (vec_id → nrm, vec) for the batch's cells; multi-probe
        // duplicates collapse in the map (same payload by construction)
        val rows = v.join(broadcast(gs.toDF("gkey")), "gkey")
          .select(col("vec_id"), col("nrm"), col("embedding"))
          .as[(Long, Double, Array[Float])].collect()
        val bmap = new java.util.HashMap[java.lang.Long, (Double, Array[Double])](
          rows.length * 2)
        rows.foreach { case (id, nr, vf) =>
          val d = if (vf == null) null else {
            val w = new Array[Double](vf.length)
            var k = 0
            while (k < vf.length) { w(k) = vf(k).toDouble; k += 1 }
            w
          }
          bmap.put(id, (nr, d))
        }
        val bc = s.sparkContext.broadcast(bmap)
        Q.registerScratch(s, "tilePairsQuant.rescoreBroadcast")(bc.destroy())
        val gset = gs.toSet
        candIn.filter(col("gkey").isInCollection(gset))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            val m = bc.value
            it.flatMap { case (g, va, vb) =>
              val a = m.get(va); val b = m.get(vb)
              if (a == null || b == null)
                throw new IllegalStateException(
                  s"rescore member missing for pair ($va, $vb)")
              val (na, ea2) = a; val (nb, eb2) = b
              if (ea2 == null || eb2 == null || ea2.length != eb2.length)
                None // float_dot's NULL contract: no pair
              else {
                val cos = VectorKernels.cosOf(
                  VectorKernels.fold(ea2, eb2), na, nb)
                // NaN-greatest like Spark's `cosine > thr` on doubles
                if (java.lang.Double.compare(cos, thr) > 0)
                  Some((g, va, vb, cos))
                else None
              }
            }
          }
          .toDF("gkey", "va", "vb", "cosine")
      }.reduce(_ unionByName _)
    }
  }

  /** The [[tilePairsQuant]] per-pair CANDIDATE decision, factored pure so
    * the no-false-negative contract is property-testable on its own
    * (Round13OpsSpec sweeps it against exact cosines over random/
    * adversarial corpora; a weakened slack constant fails the sweep).
    *
    * Inputs: `q` = Σ qₓq_y over the int8 codes, `l1a`/`l1b` = Σ|q| per
    * member, `d` = shared dim, `sa`/`sb` = quantization scales (0 marks
    * an UNSAFE member), `na`/`nb` = exact norms. Derivation (expanded
    * around the integer codes, VERDICT r12 re-derived): with
    * qᵢ = ⌊xᵢs + ½⌋ and eᵢ = qᵢ − xᵢs ∈ (−½, ½],
    * dot·sₐs_b = Q − Σqₓe_y − Σq_ye_x + Σe_xe_y, so
    * |dot·sₐs_b − Q| ≤ ½(L1ₐ+L1_b) + ¼d. The 0.500001/0.250001 slacks
    * absorb the bound arithmetic's own FP rounding; the 1e-7 absorbs the
    * division's. A pair whose scales or denominator are untrustworthy is
    * ALWAYS a candidate — the exact rescore, not the bound, decides it.
    */
  private[graft] def quantCandidate(q: Long, l1a: Int, l1b: Int, d: Int,
      sa: Double, sb: Double, na: Double, nb: Double, thr: Double): Boolean =
    if (sa == 0.0 || sb == 0.0) true
    else {
      val den = sa * sb * na * nb
      if (!(den > 0.0 && den < Double.PositiveInfinity)) true
      else {
        val err = 0.500001 * (l1a + l1b) + 0.250001 * d
        (q + err) / den + 1e-7 > thr
      }
    }

  /** Greedy gkey batching for [[tilePairsQuant]]'s broadcast rescore, by
    * MEASURED bytes: consecutive (gkey-sorted) groups pack into a batch
    * while the running byte sum stays ≤ `maxBatchBytes`. Invariant
    * (spec-pinned): no batch of ≥2 gkeys exceeds the bound — only a
    * SINGLE gkey already larger than the bound forms an oversized batch
    * (it cannot be split: the rescore needs both pair members resident),
    * and a corpus full of those trips the [[MaxRescoreBatches]] fallback.
    */
  private[graft] def rescoreBatches(sizes: Seq[(Long, Long)],
      maxBatchBytes: Long): List[List[Long]] =
    sizes.foldLeft(List(List.empty[Long]) -> 0L) {
      case ((acc, sz), (g, b)) =>
        if (sz + b > maxBatchBytes && acc.head.nonEmpty)
          (List(g) :: acc, b)
        else ((g :: acc.head) :: acc.tail, sz + b)
    }._1.map(_.reverse).reverse.filter(_.nonEmpty)

  /** Rescore broadcast-batch cap for [[tilePairsQuant]]: past this many
    * [[VectorKernels.MaxProbeBytes]]-sized member broadcasts the
    * shuffle-join rescore takes over (a cluster's aggregate disk absorbs
    * the pair×embedding fabric that a single box cannot). Each batch is
    * one pass over the PERSISTED survivor frame plus one ≤256 MB member
    * collect — cheap relative to the pair×embedding shuffle the fallback
    * pays (measured at 1000×: a 12-batch corpus forced onto the fallback
    * wrote 21 GB of rescore fabric; the broadcast arm writes none).
    */
  private[graft] val MaxRescoreBatches = 64

  /** Planned-pair volume past which the hatch's tile fabric quantizes to
    * int8 ([[tilePairsQuant]]): each hatched label's realized within-cell
    * pair term is ~budget by construction, so hatched-labels × budget
    * estimates the fabric's pair term. 2³³ pairs ≈ 4.6 GB of exact tile
    * fabric at 64-d — below it the exact kernel's single pass beats the
    * quantize + rescore round trip; above it fabric BYTES are the
    * binding constraint (measured: d12's 63–67 GB candidate fabric at
    * 1000× exhausted the box; int8 cuts it ~3×).
    */
  private[graft] val QuantFabricPairBound = 1L << 33

  /** Per-label candidate-pair budget for d12. Labels whose exact all-pairs
    * term c·(c−1)/2 stays within it run the irreducible tile kernel
    * unchanged; labels over it take the IVF-cell escape hatch
    * ([[embedNeardupBudgeted]]). 2³⁰ keeps every oracle/bench SF exact —
    * sf10's largest label is ~2.4e8 pairs — while bounding the quadratic
    * term once the corpus grows another ~10× (the 100 TB regime, where
    * a 218k-member label would otherwise score 2.4e10 pairs).
    */
  private[graft] val EmbedPairBudget = 1L << 30

  /** d12 with the d32-style pair-budget escape hatch (VectorQueries
    * nearestTrainIvf / ExactPairBudget pattern, adapted from top-1 search
    * to all-pairs enumeration).
    *
    * Within-budget labels: exactly [[embedNeardupBlocked]] — bit-identical
    * to the plain join and the DuckDB oracle (`approx_label = false`,
    * `audit_recall` null, `n_scored_pairs` = the exact all-pairs term,
    * `recall_floor_met` true).
    *
    * Over-budget labels: members assign to their `probe` nearest of
    * ~p²n²/2B deterministic IVF cells (hash-mod selected members — no
    * RNG, no window; see [[hatchRound]]), and the SAME tile kernel scores
    * pairs only WITHIN a cell, so the label's scored-pair count is
    * ~budget instead of n²/2 (`n_scored_pairs` reports the realized
    * within-cell total; multi-probe duplicates collapse by distinct —
    * cosine is a bit-identical fold, so the duplicate rows are equal).
    * Approximation is never silent: a deterministic salted-hash-residue
    * sample of each hatched label (`xxhash64(salt, vec_id) % mod` — id
    * structure can't dodge it, and the salt decorrelates it from the
    * centroid hash) — mod sized PER LABEL so every hatched label yields
    * ~[[AuditSamplesPerLabel]] sampled vectors regardless of its size —
    * is re-answered EXACTLY (sample×label is linear, not quadratic) and
    * the per-label recall of the hatch against that sample rides on
    * every output row as `audit_recall` (the d32/d43 audit-column
    * contract) — AND is ENFORCED: labels under `recallFloor` escalate
    * once (probe ×2), re-audit, and carry `recall_floor_met = false` if
    * they still miss. Every hatched label gets an audit row by
    * construction; `audit_recall` is null only when the sample found
    * zero above-threshold pairs (no counterevidence), never because a
    * label went unaudited — and a label whose sample came back EMPTY
    * (possible only by hash coincidence) is treated as floor-not-met,
    * escalating in round 1 or carrying `recall_floor_met = false` after
    * escalation, never trusted.
    *
    * Driver-side bounds: the hatched-label metadata + per-round audit
    * collects are ≤ corpus/√(2·budget) rows each (a label over budget B
    * has ≥ √(2B) members), i.e. ~one row per 46k corpus rows at the
    * default budget; centroid staging is batched under
    * [[MaxHatchProbeRows]].
    */
  /** CROSSOVER, measured at sf10 (218 k vectors, 2.4e8 pairs/label):
    * exact tile kernel 9.4 s vs hatch-forced (budget 1e7) 14.9 s — the
    * hatch's LINEAR overheads (cell assignment, sample audit dots) exceed
    * its quadratic-term savings until the pair count clears ~10⁹/label,
    * which is exactly where [[EmbedPairBudget]] sits. Past it (a 10×
    * larger corpus: 2.4e10 pairs/label) the exact kernel grows 100× while
    * the hatch grows ~10× — the budget is the empirical crossover, not a
    * guess. RE-MEASURED round 9 after the windowless rewrite: 9.48 vs
    * 14.95 s — bit-for-bit the same trade (the hatch's linear term is
    * assignment + audit arithmetic, not the removed window), so the
    * budget stands for the new implementation on fresh evidence.
    */
  /** Flat-IVF per-label cell bound: a hatched label whose cell count
    * stays under this broadcasts its centroids directly (≤ ~60 MB at
    * 64-d); past it the label takes the TWO-LEVEL path, whose only
    * broadcast is the ~√cells coarse centroids — so no single broadcast
    * ever grows past O(√cells) no matter how large a label gets.
    */
  private[graft] val FlatCellsBound = 200000L

  /** Centroid rows per driver batch when building [[VectorKernels.ProbeSet]]s
    * for the hatch: many simultaneously-hatched flat labels are collected
    * and broadcast in label-grouped batches of at most this many rows, so
    * driver memory for centroid staging is bounded regardless of how many
    * labels hatch at once.
    */
  private[graft] val MaxHatchProbeRows = 500000L

  /** Expected audit-sample size per hatched label: each label's audit
    * modulus is `max(1, n/this)`, so the exact recall audit costs
    * ~this·n dot products per label (linear) and EVERY hatched label is
    * sampled — a single corpus-wide modulus sized from the largest label
    * would leave labels ≳128× smaller with no samples at all, and their
    * recall would ride out unchecked.
    */
  private[graft] val AuditSamplesPerLabel = 128L

  /** Default per-label recall floor the hatch ENFORCES (round-9 verdict
    * item: the audit is a contract, not a measurement): a hatched label
    * whose exact-sample recall audit lands below this is re-run once with
    * probe doubled (scored-pair budget ×4), re-audited, and only then
    * emitted — with `recall_floor_met = false` riding every row of a
    * label that still misses after escalation (plus a stderr warning).
    */
  private[graft] val DefaultRecallFloor = 0.95

  /** Escalation routes for a hatched label after its round-1 evidence
    * (realized scored-pair count + audited recall) is in. The decision
    * table ([[escRouteOf]]) is pure so the contract is spec-pinned
    * independently of the Spark machinery.
    */
  private[graft] sealed trait EscRoute
  private[graft] case object EscKeep extends EscRoute
  private[graft] case object EscExact extends EscRoute
  private[graft] case object EscResplit extends EscRoute
  private[graft] case object EscProbe extends EscRoute

  /** term = the label's exact all-pairs count (double: it overflows Long
    * past n ~ 4e9 and only magnitude matters here).
    */
  private[graft] def escRouteOf(term: Double, budget: Long,
      degenerate: Boolean, belowFloor: Boolean): EscRoute =
    if (degenerate) {
      if (term <= 4.0 * budget) EscExact else EscResplit
    } else if (belowFloor) {
      if (term <= 4.0 * budget) EscExact else EscProbe
    } else EscKeep

  /** The hatch prologue shared by the engine ([[embedNeardupBudgeted]]),
    * the plan auditor (graft.Plans' forced-hatch EXPLAIN sections) and
    * any harness that needs the over-budget label list: (normalized
    * member frame, per-label (c, minv) counts frame, driver-side
    * (lab, n, minv) rows for labels whose exact pair term exceeds
    * `budget`). Keeping this in ONE place pins the audit dumps AND the
    * engine to the same routing predicate — neither can drift.
    */
  private[graft] def hatchOverOf(s: SparkSession, v: DataFrame,
      budget: Long): (DataFrame, DataFrame, Seq[(Long, Long, Long)]) = {
    import s.implicits._
    val members = v.select(col("label").cast("long").as("lab"),
      col("vec_id"), col("nrm"), col("embedding"))
    val counts = members.groupBy("lab")
      .agg(count(lit(1)).as("c"), min(col("vec_id")).as("minv"))
    val over = counts
      .filter(expr(s"c * (c - 1) div 2 > ${budget}L"))
      .select(col("lab"), col("c"), col("minv"))
      .as[(Long, Long, Long)].collect().toSeq
    (members, counts, over)
  }

  /** One hatch planning row, computed on the driver from the bounded
    * over-budget label list (a label over budget B has ≥ √(2B) members,
    * so this list is ≤ corpus/√(2B) entries).
    */
  private[graft] final case class HatchPlan(lab: Long, n: Long, minv: Long,
      cells: Long, stepFine: Long, stepCoarse: Long)

  private[graft] def hatchPlansOf(over: Seq[(Long, Long, Long)], probe: Int,
      budget: Long, cellsMult: Long = 1L): Seq[HatchPlan] =
    over.map { case (lab, n, minv) =>
      val p = probe.toDouble
      // double arithmetic: p²n² overflows Long past n ~ 2e9 and this is
      // a cell-count plan, not an answer. cellsMult > 1 is the
      // degenerate-label RE-SPLIT (finer grid, same probe count).
      val cells = math.max(2L, (cellsMult * p * p * n.toDouble *
        n.toDouble / (2.0 * budget.toDouble)).toLong + 1L)
      val stepFine = math.max(1L, (n + cells - 1L) / cells)
      val nCoarse = math.max(2L, math.sqrt(cells.toDouble).toLong + 1L)
      val stepCoarse = math.max(1L, n / nCoarse)
      HatchPlan(lab, n, minv, cells, stepFine, stepCoarse)
    }

  /** Collect a centroid frame (lab, vec_id, nrm, embedding) into a
    * [[VectorKernels.ProbeSet]] whose slot ids are DENSE composites
    * `labIdx(lab) · stride + rank-within-label` (rank by vec_id) — the
    * driver-side replacement for the per-label row_number window the
    * round-8 hatch used: cell ids come from sorting ≤ [[MaxHatchProbeRows]]
    * collected centroid rows on the driver, never from a Window over
    * corpus-sized embedding rows.
    */
  private def denseProbeSet(cent: DataFrame, labIdx: Map[Long, Long],
      stride: Long): VectorKernels.ProbeSet = {
    val ps0 = VectorKernels.collectProbes(cent.select(
      col("lab").as("gkey"), col("vec_id").as("id"),
      col("nrm"), col("embedding").as("vec")))
    val ids = new Array[Long](ps0.nSlots)
    ps0.byGroup.foreach { case (lab, slots) =>
      val order = slots.sortBy(ps0.slotIds(_))
      var r = 0
      while (r < order.length) {
        ids(order(r)) = labIdx(lab) * stride + r
        r += 1
      }
    }
    VectorKernels.ProbeSet(ps0.slotGkeys, ids, ps0.slotNrms, ps0.slotVecs,
      ps0.byGroup)
  }

  /** One hatch round over the given over-budget labels: members assign to
    * their `probe` nearest deterministic IVF cells and the SAME tile
    * kernel scores pairs only WITHIN a cell. Returns
    * (pairs (lab, va, vb, cosine) distinct, per-label realized
    * n_scored_pairs).
    *
    * WINDOWLESS (round-9 verdict item 1): centroids are the members with
    * `pmod(xxhash64(vec_id), step) == 0` (∪ the label's min member, so
    * every label has ≥1) — a distributed filter whose expected yield is
    * n/step ≈ cells; dense cell ids come from [[denseProbeSet]]'s
    * driver-side sort of the ≤ cells collected centroid rows; members
    * reach their cells through [[VectorKernels.assignProbes]] (corpus
    * streamed once, centroids broadcast, top-`probe` in registers) — no
    * per-label row_number ever funnels a label's embedding rows through
    * one task.
    *
    * TWO-LEVEL (labels with cells > cellsBound): only the ~√cells COARSE
    * centroids broadcast; members and fine centroids (a denser hash-mod
    * selection, ⊇ the coarse set so every member-bearing coarse cell has
    * ≥1 fine centroid) take their coarse cell(s) from that broadcast, and
    * the member→fine assignment is a fully-distributed shuffle join on
    * the coarse key + max(struct) argmax (map-side partial agg, no
    * window). Fine cell key = fine centroid's own vec_id, composited as
    * labIdx·(maxVecId+1)+vec_id — flat and two-level key namespaces never
    * meet because each runs through its own tilePairs call.
    */
  private[graft] def hatchRound(s: SparkSession, members: DataFrame,
      plans: Seq[HatchPlan], thr: Double, tile: Int, probe: Int,
      cellsBound: Long, probeRowBytes: Long = 576L,
      scratch: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty,
      quantFabric: Boolean = false): (DataFrame, DataFrame) = {
    import s.implicits._
    require(plans.nonEmpty, "hatchRound called with no over-budget labels")
    // a label is flat only while its WHOLE centroid set fits one
    // broadcast — bounded in cells AND in bytes (probeRowBytes is the
    // measured per-row widened size, 8·dim + overhead), so high-dim
    // embeddings route to two-level earlier instead of OOMing the guard
    val (flatPlans, tlPlans) = plans.partition(p =>
      p.cells <= cellsBound &&
        p.cells * probeRowBytes <= VectorKernels.MaxProbeBytes)

    def centFilter(stepCol: Column): Column =
      (pmod(xxhash64(col("vec_id")), stepCol) === 0) ||
        (col("vec_id") === col("minv"))

    // ---- flat labels: centroids broadcast whole, one ProbeSet batch at
    // a time (driver staging bounded by MaxHatchProbeRows) ----
    val flatParts: Seq[(DataFrame, DataFrame)] = if (flatPlans.isEmpty) Nil
    else {
      val fMeta = flatPlans.map(p => (p.lab, p.minv, p.stepFine))
        .toDF("lab", "minv", "step")
      val fm = members.join(broadcast(fMeta), "lab")
      val cent = fm.filter(centFilter(col("step")))
        .select("lab", "vec_id", "nrm", "embedding").persist()
      scratch += cent
      val centCounts: Map[Long, Long] = cent.groupBy("lab")
        .agg(count(lit(1)).as("cc")).as[(Long, Long)].collect().toMap
      val stride = centCounts.values.max + 1L
      val labIdx: Map[Long, Long] = flatPlans.map(_.lab).sorted.zipWithIndex
        .map { case (l, i) => l -> i.toLong }.toMap
      // greedy label batches bounded in BYTES (MaxProbeBytes /
      // measured row size) with MaxHatchProbeRows as the row-count cap
      val maxBatchRows = math.max(1L, math.min(MaxHatchProbeRows,
        VectorKernels.MaxProbeBytes / math.max(1L, probeRowBytes)))
      val batches = flatPlans.map(_.lab).sorted
        .foldLeft(List(List.empty[Long]) -> 0L) { case ((acc, sz), lab) =>
          val c = centCounts.getOrElse(lab, 1L)
          if (sz + c > maxBatchRows && acc.head.nonEmpty)
            (List(lab) :: acc, c)
          else ((lab :: acc.head) :: acc.tail, sz + c)
        }._1.map(_.reverse).reverse.filter(_.nonEmpty)
      val parts = batches.map { labs =>
        val inBatch = col("lab").isin(labs: _*)
        val ps = denseProbeSet(cent.filter(inBatch), labIdx, stride)
        // persisted: both the pair kernel and the scored audit consume
        // it, and assignProbes' broadcast scan is the expensive part
        val assigned = VectorKernels.assignProbes(
            members.filter(inBatch)
              .select("lab", "vec_id", "nrm", "embedding"),
            ps, "embedding", "nrm", Some("lab"), "cellArr",
            p = probe, arrayOut = true)
          .select(col("lab"), explode(col("cellArr")).as("gkey"),
            col("vec_id"), col("nrm"), col("embedding"))
          .persist()
        scratch += assigned
        val labByIdx = broadcast(labs.map(l => (labIdx(l), l))
          .toDF("lidx", "lab"))
        val pairs = tilePairs(s,
            assigned.select("gkey", "vec_id", "nrm", "embedding"), thr, tile,
            quantFabric)
          .withColumn("lidx", expr(s"gkey div ${stride}L"))
          .join(labByIdx, "lidx")
          .select(col("lab"), col("va"), col("vb"), col("cosine"))
        (pairs, assigned.select("lab", "gkey"))
      }
      parts
    }

    // ---- two-level labels: broadcast only the ~√cells coarse centroids ----
    val tlParts: Seq[(DataFrame, DataFrame)] = if (tlPlans.isEmpty) Nil
    else {
      val tMeta = tlPlans.map(p => (p.lab, p.minv, p.stepFine, p.stepCoarse))
        .toDF("lab", "minv", "stepFine", "stepCoarse")
      val tm = members.join(broadcast(tMeta), "lab")
      val coarse = tm.filter(centFilter(col("stepCoarse")))
        .select("lab", "vec_id", "nrm", "embedding").persist()
      scratch += coarse
      val coarseCounts: Map[Long, Long] = coarse.groupBy("lab")
        .agg(count(lit(1)).as("cc")).as[(Long, Long)].collect().toMap
      val cstride = coarseCounts.values.max + 1L
      val labIdx: Map[Long, Long] = tlPlans.map(_.lab).sorted.zipWithIndex
        .map { case (l, i) => l -> i.toLong }.toMap
      val psC = denseProbeSet(coarse, labIdx, cstride)
      require(psC.estBytes <= VectorKernels.MaxProbeBytes,
        s"two-level coarse centroid set ${psC.estBytes}B exceeds the " +
          "broadcast guard — raise cellsBound granularity")
      // fine cell key namespace: labIdx · (max vec_id + 1) + fine vec_id
      val maxVid = tm.agg(max(col("vec_id"))).head.getLong(0)
      val vstride = maxVid + 1L
      require(tlPlans.size.toLong <= Long.MaxValue / math.max(1L, vstride),
        "two-level fine-cell key space overflows Long — re-partition the " +
          "hatched label set")
      val mAss = VectorKernels.assignProbes(
          tm.select("lab", "vec_id", "nrm", "embedding"),
          psC, "embedding", "nrm", Some("lab"), "ckArr",
          p = probe, arrayOut = true)
        .select(col("lab"), explode(col("ckArr")).as("ck"),
          col("vec_id"), col("nrm"), col("embedding"))
      // fine centroids ⊇ coarse centroids, each owning ONE coarse cell
      val fineSel = tm.filter(centFilter(col("stepFine")) ||
          centFilter(col("stepCoarse")))
        .select("lab", "vec_id", "nrm", "embedding")
      val fAss = VectorKernels.assignProbes(fineSel, psC,
          "embedding", "nrm", Some("lab"), "ck", p = 1)
        .select(col("ck"), col("vec_id").as("fid"), col("nrm").as("fn"),
          col("embedding").as("fe"))
      // member → nearest fine centroid WITHIN each probed coarse cell:
      // shuffle join on the coarse key + max(struct) argmax — map-side
      // partial aggregation, fully distributed, no window. NULL fine
      // cosine (ragged dims) ranks lowest; ties to the lowest fine id.
      val assigned = mAss.join(fAss, "ck")
        .withColumn("fcos", cosineWithNorms(
          dot(col("embedding"), col("fe")), col("nrm"), col("fn")))
        .groupBy("ck", "vec_id")
        .agg(max(struct(col("fcos"), (-col("fid")).as("nf"))).as("b"),
          first(col("lab")).as("lab"), first(col("nrm")).as("nrm"),
          first(col("embedding")).as("embedding"))
        .select(col("lab"), col("vec_id"), col("nrm"), col("embedding"),
          (-col("b.nf")).as("fid"))
        .join(broadcast(tlPlans.map(p => (p.lab, labIdx(p.lab)))
          .toDF("lab", "lidx")), "lab")
        .select(col("lab"), (col("lidx") * vstride + col("fid")).as("gkey"),
          col("vec_id"), col("nrm"), col("embedding"))
        .persist()
      scratch += assigned
      val labByIdx = broadcast(tlPlans.map(p => (labIdx(p.lab), p.lab))
        .toDF("lidx", "lab"))
      val pairs = tilePairs(s,
          assigned.select("gkey", "vec_id", "nrm", "embedding"), thr, tile,
          quantFabric)
        .withColumn("lidx", expr(s"gkey div ${vstride}L"))
        .join(labByIdx, "lidx")
        .select(col("lab"), col("va"), col("vb"), col("cosine"))
      Seq((pairs, assigned.select("lab", "gkey")))
    }

    val parts = flatParts ++ tlParts
    val pairs = parts.map(_._1).reduce(_ unionByName _)
      .distinct() // multi-probe: same pair found via two shared cells
    // realized within-cell pair total per label — the budget audit that
    // rides every verified output row
    val scored = parts.map(_._2).reduce(_ unionByName _)
      .groupBy("lab", "gkey").agg(count(lit(1)).as("cc"))
      .groupBy("lab")
      .agg(sum(expr("cc * (cc - 1) div 2")).as("n_scored_pairs"))
    (pairs, scored)
  }

  /** Exact recall audit of `pairs` over a deterministic PER-LABEL
    * hash-residue sample (`xxhash64(salt, vec_id) % mod == 0`) — linear
    * (sample × label members), never quadratic. `mods` carries one
    * (lab, mod) entry per label to audit, each mod sized from THAT
    * label's cardinality (~[[AuditSamplesPerLabel]] expected samples
    * each): a single global modulus sized from the largest hatched label
    * starves labels ≳128× smaller of samples entirely, and an unsampled
    * label would ride out with an unchecked `recall_floor_met = true`.
    * The residue is taken on a SALTED hash, not the raw id, for two
    * reasons: structured id spaces (shard-strided or parity-biased
    * vec_ids — e.g. all-odd ids against an even modulus) can dodge a raw
    * `vec_id % mod` entirely, and an UNSALTED hash residue would
    * correlate the sample with [[hatchRound]]'s centroid selection
    * (which filters `xxhash64(vec_id) % step == 0`) — centroids sit at
    * cell centers and are systematically better-recalled, so a
    * centroid-biased sample overstates recall exactly when it matters.
    * Returns one (lab, audit_recall, n_sampled) row for EVERY entry in
    * `mods`; audit_recall is null when the sample produced zero
    * above-threshold exact pairs (no counterevidence). `n_sampled` lets
    * the caller distinguish "sampled, clean" from the residual
    * zero-sample case (possible only by hash coincidence now, but the
    * contract treats it as floor-not-met rather than trusting it).
    */
  private[graft] def hatchAudit(s: SparkSession, members: DataFrame,
      pairs: DataFrame, thr: Double, mods: Seq[(Long, Long)],
      estSampleBytes: Long = 0L,
      scratch: scala.collection.mutable.Buffer[DataFrame] = null): DataFrame = {
    import s.implicits._
    // the audit result reads `sample` through THREE consumers (the
    // broadcast/shuffle join arm feeding exactSample, exactSample's own
    // n_exact/n_found aggregations, and the per-label n_sampled count) —
    // without a materialization each consumer rescans `members` and
    // recomputes the salted filter; correct (the filter is
    // deterministic) but 3x the member scans at scale. When the caller
    // hands a scratch buffer, the ~128-rows-per-label sample (and the
    // above-threshold exact pair set, read twice downstream) persist for
    // the audit's lifetime and the caller unpersists after its collect.
    def viaScratch(df: DataFrame): DataFrame =
      if (scratch == null) df
      else { val p = df.persist(); scratch += p; p }
    val sample = viaScratch(members
      .join(broadcast(mods.toDF("lab", "amod")), "lab")
      .filter(pmod(xxhash64(lit("graft-audit"), col("vec_id")),
        col("amod")) === 0)
      .select(col("lab"), col("vec_id").as("sa"),
        col("embedding").as("se"), col("nrm").as("sn")))
    // the sample is ~(members/auditModEff) embedding rows — ~128 PER
    // HATCHED LABEL, so it grows with how many labels hatch at once. A
    // corpus hatching 10⁵+ labels would push a multi-GB broadcast;
    // past the probe-set guard the audit joins by shuffle instead
    // (same rows, fabric-partitioned) — the audit stays linear either way
    val sampleSide =
      if (estSampleBytes > 0L && estSampleBytes > VectorKernels.MaxProbeBytes)
        sample
      else broadcast(sample)
    val exactSample = viaScratch(members.join(sampleSide, "lab")
      .filter(col("vec_id") =!= col("sa"))
      .withColumn("cos",
        cosineWithNorms(dot(col("embedding"), col("se")), col("nrm"), col("sn")))
      .filter(col("cos") > thr)
      .select(col("lab"), least(col("sa"), col("vec_id")).as("pa"),
        greatest(col("sa"), col("vec_id")).as("pb"))
      .distinct())
    // found = exactSample ∩ pairs; both sides are distinct, so either
    // semi-join direction counts the same intersection. The hatch's pair
    // set is OUTPUT-sized (billions of rows on dup-heavy corpora at
    // 1000×) while the exact sample is ~128·pairs-per-sample per label —
    // when the sample fits a broadcast, probe the pairs IN PLACE instead
    // of shuffling the whole pair set into a semi-join (measured: the
    // pair-side shuffle was one of the disk terms that kept d12's 1000×
    // run from fitting a single box).
    val pairsKeyed = pairs.select(col("lab"), col("va").as("pa"),
      col("vb").as("pb"))
    val found =
      if (exactSample.count() * 48L <= VectorKernels.MaxProbeBytes)
        pairsKeyed.join(broadcast(exactSample.select("lab", "pa", "pb")),
          Seq("lab", "pa", "pb"), "left_semi")
      else exactSample.join(pairsKeyed, Seq("lab", "pa", "pb"), "left_semi")
    mods.map(_._1).toDF("lab")
      .join(exactSample.groupBy("lab").agg(count(lit(1)).as("n_exact")),
        Seq("lab"), "left")
      .join(found.groupBy("lab").agg(count(lit(1)).as("n_found")),
        Seq("lab"), "left")
      .join(sample.groupBy("lab").agg(count(lit(1)).as("ns")),
        Seq("lab"), "left")
      .select(col("lab"),
        when(col("n_exact").isNull, lit(null).cast("double"))
          .otherwise(coalesce(col("n_found"), lit(0L)).cast("double") /
            col("n_exact"))
          .as("audit_recall"),
        coalesce(col("ns"), lit(0L)).as("n_sampled"))
  }

  private[graft] def embedNeardupBudgeted(s: SparkSession, v: DataFrame,
      thr: Double, budget: Long = EmbedPairBudget, tile: Int = 1024,
      probe: Int = 2, auditMod: Long = 0L,
      cellsBound: Long = FlatCellsBound,
      recallFloor: Double = DefaultRecallFloor,
      quantFabric: Option[Boolean] = None): DataFrame = {
    import s.implicits._
    // the engine, the plan auditor (graft.Plans) and any harness derive
    // the over-budget label list from the SAME prologue, so the routing
    // predicate lives in one place and cannot drift between them
    val (vl, counts, overSeq) = hatchOverOf(s, v, budget)
    val over: Array[(Long, Long, Long)] = overSeq.toArray
    val exactScored = counts
      .filter(expr(s"c * (c - 1) div 2 <= ${budget}L"))
      .select(col("lab"), expr("c * (c - 1) div 2").as("n_scored_pairs"))
    if (over.isEmpty) {
      // every label within budget: the exact path, audit columns constant
      return embedNeardupBlocked(s, v, thr, tile)
        .join(broadcast(exactScored
          .select(col("lab").cast("int").as("label"), col("n_scored_pairs"))),
          "label")
        .withColumn("approx_label", lit(false))
        .withColumn("audit_recall", lit(null).cast("double"))
        .withColumn("recall_floor_met", lit(true))
    }
    // audit modulus PER LABEL (auditMod > 0 forces one fixed modulus for
    // every label — the spec knob): ~AuditSamplesPerLabel expected
    // samples for EVERY hatched label, so the exact re-answer stays
    // O(n·128) per label at any scale AND no label is ever unsampled
    val modOf: Map[Long, Long] = over.map { case (l, c, _) =>
      l -> (if (auditMod > 0L) auditMod
            else math.max(1L, c / AuditSamplesPerLabel))
    }.toMap
    val overLabs = over.map(_._1).toSeq
    val members = vl
      .join(broadcast(overLabs.toDF("lab")), Seq("lab"))
      .persist()
    // measured embedding width (limit-1 scan, stops at the first
    // non-empty vector): sizes every broadcast/batch estimate below —
    // a 1024-d corpus is ~16× a 64-d one and a hard-coded constant
    // would defeat the byte guards exactly where they matter
    val dim: Int = members.select(size(col("embedding")).as("d"))
      .filter(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(64)
    val probeRowBytes = 8L * dim + 64L
    // quantized tile fabric once the planned pair volume (hatched labels
    // × ~budget realized pairs each) says fabric BYTES, not kernel
    // passes, are the binding constraint; the spec knob forces either arm
    val quant = quantFabric.getOrElse(
      over.length.toLong * budget >= QuantFabricPairBound)
    if (quant)
      Console.err.println(s"[graft] d12 hatch: planned pair volume " +
        s"~${over.length.toLong * budget} >= $QuantFabricPairBound — " +
        "int8-quantized candidate fabric engaged (exact rescore preserves " +
        "bit-identical output)")
    // round 1: the configured probe/budget
    val scratch1 = scala.collection.mutable.Buffer.empty[DataFrame]
    val plans1 = hatchPlansOf(over.toSeq, probe, budget)
    val (ap1, sc1) = hatchRound(s, members, plans1, thr, tile, probe,
      cellsBound, probeRowBytes, scratch1, quant)
    // the pair frame is OUTPUT-sized; in the quant (large-planned-volume)
    // regime caching it costs more storage than recomputation costs CPU —
    // the lineage's shuffle stages are reused across jobs either way, so
    // skipping the persist only re-runs narrow stages while freeing
    // tens of GB of block-store at 1000× (measured disk term)
    val ap1p = if (quant) ap1 else ap1.persist()
    // audit-sample size estimate for the broadcast-vs-shuffle decision:
    // Σ n_i/mod_i sampled rows × the measured widened row size
    val estAuditBytes =
      over.map { case (l, c, _) => c / modOf(l) + 1L }
        .sum * (probeRowBytes + 32L)
    // the recall CONTRACT, in three rules, all decided from bounded
    // per-label collects (≤ one row per hatched label each):
    //   1. a hatched label whose REALIZED n_scored_pairs ≥ its exact
    //      all-pairs term is DEGENERATE (the hatch pruned nothing): it
    //      resolves exactly when its term ≤ 4×budget (strictly cheaper,
    //      recall 1), else it RE-SPLITS once to a ×4-finer cell grid —
    //      and only a still-degenerate label after that (a tight
    //      duplicate cluster whose ANSWER is near-quadratic) goes exact;
    //   2. a pruning label auditing under `recallFloor` escalates ONCE:
    //      to the exact kernel when the ×4 escalated budget covers its
    //      full term anyway, else to probe ×2 (scored budget ×4) + a
    //      re-audit — with rule 1's degeneracy check re-applied;
    //   3. labels still under the floor after escalation are emitted with
    //      `recall_floor_met = false` and a stderr warning — approximation
    //      is never silent.
    val termOf: Map[Long, Double] =
      over.map { case (l, n, _) => l -> n.toDouble * (n - 1).toDouble / 2.0 }
        .toMap
    val sc1m: Map[Long, Long] = sc1.as[(Long, Long)].collect().toMap
    // per-label evidence frames are rebuilt from the collected maps
    // (bounded: one row per hatched label) instead of re-running the
    // sc1/audit lineages — and the degeneracy verdict lands BEFORE the
    // audit so degenerate labels (whose near-quadratic pair sets would
    // make the audit's left-semi join pointless work) never enter it
    val degenerate1 = overLabs
      .filter(l => sc1m.getOrElse(l, 0L).toDouble >= termOf(l)).toSet
    if (degenerate1.nonEmpty)
      Console.err.println(s"[graft] d12 hatch: labels " +
        s"${degenerate1.mkString(",")} scored >= their full pair term " +
        "(hatch pruned nothing) — routing to exact or re-split")
    val auditMembers =
      if (degenerate1.isEmpty) members
      else members.filter(!col("lab").isin(degenerate1.toSeq: _*))
    val mods1 = overLabs.filterNot(degenerate1).map(l => (l, modOf(l)))
    val a1: Map[Long, (Option[Double], Long)] =
      if (mods1.isEmpty) Map.empty
      else hatchAudit(s, auditMembers, ap1p, thr, mods1, estAuditBytes,
          scratch1)
        .as[(Long, Option[Double], Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
    // round-1 evidence is now fully on the driver and ap1p itself is
    // cached (the audit's left-semi materialized it, or it is about to
    // be empty-folded when every label escalates): the round's scratch
    // frames (centroids, per-batch assignments) can go — without this,
    // every d12 invocation leaks corpus-scale cached blocks for the
    // application lifetime
    scratch1.foreach(_.unpersist(false))
    // zero-sample labels (hash-coincidence residual) count as FAILING —
    // an unverified label escalates rather than riding an unchecked floor
    val unsampled1 = overLabs.filterNot(degenerate1)
      .filter(l => a1.get(l).exists(_._2 == 0L)).toSet
    if (unsampled1.nonEmpty)
      Console.err.println(s"[graft] d12 hatch: labels " +
        s"${unsampled1.mkString(",")} drew ZERO audit samples — treated " +
        "as under the recall floor and escalated")
    val failing = overLabs.filterNot(degenerate1)
      .filter(l => a1.get(l).exists { case (r, n) =>
        n == 0L || r.exists(_ < recallFloor) }).toSet
    val dropR1 = (failing ++ degenerate1).toSeq
    val keepLabs1 = overLabs.filterNot(l => failing(l) || degenerate1(l))
    // lit(false) (not an empty isin) when nothing survives round 1, so
    // Catalyst empty-folds the branch instead of re-deriving an
    // all-filtered cache at evaluation time
    val keep =
      if (keepLabs1.isEmpty) lit(false)
      else if (dropR1.isEmpty) lit(true)
      else !col("lab").isin(dropR1: _*)
    // escalation routing, one step per label:
    //   floor-failing, term ≤ 4B  → exact (recall 1, ≤ the escalated work)
    //   floor-failing, term > 4B  → probe ×2 (scored budget ×4), re-audit
    //   degenerate,    term ≤ 4B  → exact (strictly cheaper than a
    //                               non-pruning hatch)
    //   degenerate,    term > 4B  → RE-SPLIT: cells ×4 at the same probe —
    //     hash-sampled centroids are density-adaptive, so a finer grid
    //     subdivides exactly the clusters that collapsed; falling back to
    //     exact here would surrender the budget's whole point at extreme
    //     scale (a clustered 10⁸-member label would pay its full
    //     quadratic term). A label still degenerate AFTER the re-split
    //     resolves exactly — at that point its above-threshold OUTPUT is
    //     itself near-quadratic (tight duplicate cluster) and no cell
    //     grid can beat the work its answer costs.
    val routeOf: ((Long, Long, Long)) => EscRoute = o =>
      escRouteOf(termOf(o._1), budget, degenerate1(o._1), failing(o._1))
    val degenExact = over.toSeq.filter(o =>
      degenerate1(o._1) && routeOf(o) == EscExact)
    val degenSplit = over.toSeq.filter(o => routeOf(o) == EscResplit)
    val floorExact = over.toSeq.filter(o =>
      failing(o._1) && routeOf(o) == EscExact)
    val floorHatch = over.toSeq.filter(o => routeOf(o) == EscProbe)
    if (floorExact.nonEmpty)
      Console.err.println(s"[graft] d12 hatch: labels " +
        s"${floorExact.map(_._1).mkString(",")} under recall floor " +
        s"$recallFloor with full pair term <= 4x budget — resolved " +
        "EXACTLY (recall 1)")
    if (degenSplit.nonEmpty)
      Console.err.println(s"[graft] d12 hatch: labels " +
        s"${degenSplit.map(_._1).mkString(",")} degenerate with term > " +
        "4x budget — re-splitting cells x4")
    // one escalated hatch round over `sub`; returns (pairs, per-label
    // scored map, per-label audit map, still-degenerate labels routed
    // to exact)
    def escalate(sub: Seq[(Long, Long, Long)], plans: Seq[HatchPlan],
        p2: Int): (DataFrame, Map[Long, Long],
          Map[Long, (Option[Double], Long)], Seq[(Long, Long, Long)]) = {
      val labs = sub.map(_._1)
      // size the audit's broadcast-vs-shuffle estimate from the ESCALATED
      // subset, not the whole round-1 corpus: a large round-1 estimate
      // would force the shuffle arm even when this subset's sample is a
      // few KB and trivially broadcastable
      val estSubBytes = sub.map { case (l, c, _) => c / modOf(l) + 1L }
        .sum * (probeRowBytes + 32L)
      val scratchX = scala.collection.mutable.Buffer.empty[DataFrame]
      val membersX = members.filter(col("lab").isin(labs: _*)).persist()
      val (ap, sc) = hatchRound(s, membersX, plans, thr, tile, p2,
        cellsBound, probeRowBytes, scratchX, quant)
      val scm: Map[Long, Long] = sc.as[(Long, Long)].collect().toMap
      val degen = labs.filter(l =>
        scm.getOrElse(l, 0L).toDouble >= termOf(l)).toSet
      if (degen.nonEmpty)
        Console.err.println(s"[graft] d12 hatch: escalated labels " +
          s"${degen.mkString(",")} still scored >= their full pair term " +
          "— resolved EXACTLY (duplicate-cluster geometry)")
      val keepLabsX = labs.filterNot(degen)
      val keepX = if (keepLabsX.isEmpty) lit(false)
        else if (degen.isEmpty) lit(true)
        else !col("lab").isin(degen.toSeq: _*)
      // same output-sized-cache rationale as ap1p: skip in the quant regime
      val app = if (quant) ap.filter(keepX) else ap.filter(keepX).persist()
      val membersOk =
        if (degen.isEmpty) membersX else membersX.filter(keepX)
      val modsX = keepLabsX.map(l => (l, modOf(l)))
      val auditM: Map[Long, (Option[Double], Long)] =
        if (modsX.isEmpty) Map.empty
        else hatchAudit(s, membersOk, app, thr, modsX, estSubBytes,
            scratchX)
          .as[(Long, Option[Double], Long)].collect()
          .map(t => t._1 -> ((t._2, t._3))).toMap
      auditM.foreach {
        case (l, (Some(r), _)) if r < recallFloor =>
          Console.err.println(f"[graft] d12 hatch: label $l audit_recall " +
            f"$r%.4f still under floor $recallFloor%.2f after escalation " +
            s"(probe $p2) — emitted with recall_floor_met=false")
        case (l, (_, 0L)) =>
          Console.err.println(s"[graft] d12 hatch: label $l drew ZERO " +
            s"audit samples after escalation (probe $p2) — emitted with " +
            "recall_floor_met=false")
        case _ => ()
      }
      // escalated evidence is on the driver and app is cached (the
      // audit materialized it, or it is empty-folded): release the
      // round's scratch and member slice
      scratchX.foreach(_.unpersist(false))
      membersX.unpersist(false)
      (app, keepLabsX.map(l => l -> scm.getOrElse(l, 0L)).toMap,
        auditM, sub.filter(o => degen(o._1)))
    }
    val escB = if (floorHatch.isEmpty) None
      else Some(escalate(floorHatch,
        hatchPlansOf(floorHatch, probe * 2, budget * 4L),
        probe * 2))
    val escD = if (degenSplit.isEmpty) None
      else Some(escalate(degenSplit,
        hatchPlansOf(degenSplit, probe, budget, cellsMult = 4L),
        probe))
    val escParts = Seq(escB, escD).flatten
    if (keepLabs1.isEmpty) ap1p.unpersist(false)
    val pairsF = escParts.map(_._1).foldLeft(ap1p.filter(keep))(_ unionByName _)
    // scored/audit side frames rebuilt from the driver maps (one entry
    // per surviving hatched label): nothing re-runs the sc1/audit
    // lineages and every surviving label HAS an audit entry — round-1
    // labels from a1 (minus escalated ones, whose FINAL audit is their
    // escalation round's), escalated labels from their escalate map
    val scoredF = (keepLabs1.map(l => l -> sc1m.getOrElse(l, 0L)) ++
        escParts.flatMap(_._2.toSeq))
      .toDF("lab", "n_scored_pairs")
    val auditF = (keepLabs1.map(l => l -> a1.getOrElse(l, (None, 0L))) ++
        escParts.flatMap(_._3.toSeq))
      .map { case (l, (r, n)) => (l, r, n) }
      .toDF("lab", "audit_recall", "n_sampled")
    val exactEsc: Seq[(Long, Long, Long)] =
      degenExact ++ floorExact ++ escParts.flatMap(_._4)
    val approxPart = pairsF
      .join(broadcast(scoredF), "lab")
      .join(broadcast(auditF), Seq("lab"), "left")
      .withColumn("approx_label", lit(true))
      // null audit_recall with n_sampled > 0 means "audited, zero
      // above-threshold sample pairs" (no counterevidence) — that label
      // meets the floor. n_sampled == 0 (a hash-coincidence residual
      // after an escalation round) is the opposite: NO evidence either
      // way, and an unverified label must not claim the floor.
      .withColumn("recall_floor_met",
        when(col("n_sampled") === 0L, lit(false))
          .otherwise(coalesce(col("audit_recall") >= recallFloor,
            lit(true))))
      .select(col("lab").cast("int").as("label"), col("va"), col("vb"),
        col("cosine"), col("n_scored_pairs"), col("approx_label"),
        col("audit_recall"), col("recall_floor_met"))
    // exact channel: never-hatched labels plus any labels the recall
    // escalation resolved exactly — the output for both is the complete
    // exact pair set, so both carry approx_label = false
    // members stays cached only while the FINAL plan needs it (labels
    // the escalation resolved exactly read it at evaluation time);
    // otherwise every non-empty branch of the output is backed by its
    // own cache (ap1p / app) and the corpus-scale slice can go now
    if (exactEsc.isEmpty) members.unpersist(false)
    val neverHatched = vl
      .join(broadcast(overLabs.toDF("lab")), Seq("lab"), "left_anti")
    val exactInput =
      if (exactEsc.isEmpty) neverHatched
      else neverHatched.unionByName(
        members.filter(col("lab").isin(exactEsc.map(_._1): _*)))
    val exactScoredAll =
      if (exactEsc.isEmpty) exactScored
      else exactScored.unionByName(
        exactEsc.map { case (l, n, _) => (l, n * (n - 1L) / 2L) }
          .toDF("lab", "n_scored_pairs"))
    val exactPart = embedNeardupBlocked(s,
        exactInput.withColumnRenamed("lab", "label"), thr, tile)
      .join(broadcast(exactScoredAll
        .select(col("lab").cast("int").as("label"), col("n_scored_pairs"))),
        "label")
      .withColumn("approx_label", lit(false))
      .withColumn("audit_recall", lit(null).cast("double"))
      .withColumn("recall_floor_met", lit(true))
    exactPart.unionByName(approxPart)
  }

  private def components(s: SparkSession, dir: String): DataFrame =
    Q.memo(s, dir, "components") {
      componentsOf(s, nearDupPairs(s, dir).select(col("da"), col("db")))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // D1 — exact dedup on a content hash.
    "d01_dedup_exact" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_id"))
        .orderBy("content_hash")
    },
    // D2a — exact 3-shingle Jaccard near-dup pairs via inverted index.
    "d02_dedup_jaccard" -> { (s, dir) =>
      nearDupPairs(s, dir)
        .select("da", "db", "shared", "jaccard")
        .orderBy("da", "db")
    },
    // D2b — MinHash (k=16) + LSH (4 bands × 4 rows) with exact-Jaccard
    // verification of the banding candidates.
    //
    // Signatures are computed MAP-SIDE from the cached per-doc hash set:
    // array_min(transform(h_arr, perm_i)) per permutation — zero shuffle,
    // vs. the explode→16-column groupBy alternative which shuffles
    // |docs|×|shingles| rows. The only shuffle in the whole pipeline is the
    // (band, sig) candidate self-join, whose input is 4 rows per doc.
    // Verification joins the (few) candidate pairs back to the doc hash
    // sets and computes exact Jaccard via array_intersect — O(candidates),
    // never touching the corpus-wide inverted index d02 needs.
    "d03_dedup_minhash_lsh" -> { (s, dir) =>
      val base = docShingles(s, dir)
      val cand = lshCandidates(s, dir)
      // the bare CANDIDATE PAIR table is the only explicit broadcast —
      // O(candidate pairs) with no hash arrays attached. The first join
      // streams the corpus sets past it; the second joins the (small)
      // pair+set result against the corpus under Catalyst/AQE's choice,
      // so no per-pair duplication of a hub doc's array ever enters a
      // broadcast.
      val setsA = base.select(col("doc_id").as("da"),
        col("h_arr").as("ha"), size(col("h_arr")).as("na"))
      val setsB = base.select(col("doc_id").as("db"),
        col("h_arr").as("hb"), size(col("h_arr")).as("nb"))
      val withA = setsA.join(broadcast(cand), "da")
      setsB.join(withA, "db")
        .withColumn("shared", size(array_intersect(col("ha"), col("hb"))))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .filter(col("jaccard") >= 0.5)
        .select("da", "db", "n_bands", "jaccard")
        .orderBy("da", "db")
    },
    // D2g — MinHash estimate accuracy: for every LSH banding candidate,
    // the signature-estimated Jaccard (fraction of equal minhash
    // components) next to the exact set Jaccard and the estimation error.
    // The production use: tune (k, bands, rows) from a sample before
    // committing the corpus-wide run — at 100 TB the estimate IS the
    // dedup signal and this query is how its quality gets audited.
    // Exactness: n_eq is an integer count, est/err are single IEEE double
    // operations on exact inputs — reproducible on any engine.
    "d25_minhash_estimate" -> { (s, dir) =>
      val base = docShingles(s, dir)
      val sig = minhashSigs(s, dir)
      val cand = lshCandidates(s, dir)
      val a = sig.select(col("doc_id").as("da") +:
        (0 until 16).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
      val b = sig.select(col("doc_id").as("db") +:
        (0 until 16).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
      val nEq = (0 until 16)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val setsA = base.select(col("doc_id").as("da"),
        col("h_arr").as("ha"), size(col("h_arr")).as("na"))
      val setsB = base.select(col("doc_id").as("db"),
        col("h_arr").as("hb"), size(col("h_arr")).as("nb"))
      // Only the BARE pair table carries a broadcast hint — every other
      // side (sets, signatures) has corpus cardinality and must stay
      // streamable at scale; the accumulating pair-sized result is left to
      // AQE, which broadcasts it when its runtime size allows.
      val withA = setsA.join(broadcast(cand), "da")
      val withSets = setsB.join(withA, "db")
      val full = a.join(withSets, "da").join(b, "db")
      full
        .withColumn("shared", size(array_intersect(col("ha"), col("hb"))))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .withColumn("n_eq", nEq)
        .withColumn("est_jaccard", col("n_eq").cast("double") / 16.0)
        .withColumn("err", col("est_jaccard") - col("jaccard"))
        .select("da", "db", "n_eq", "est_jaccard", "jaccard", "err")
        .orderBy("da", "db")
    },
    // D2e — duplicate CLUSTERS: connected components over the near-dup
    // pair graph (what a real dedup pipeline needs after pair generation —
    // keep one canonical doc per component, drop the rest). Size-adaptive
    // via [[componentsOf]]: driver union-find below the edge threshold,
    // distributed min-label propagation above it.
    "d21_dedup_clusters" -> { (s, dir) =>
      components(s, dir)
        .groupBy(col("label").as("component_id"))
        .agg(count(lit(1)).as("n_members"), max("doc_id").as("max_doc"))
        .orderBy("component_id")
    },
    // D2i — canonical-doc SELECTION: the end product of the dedup chain.
    // Per near-dup cluster keep the best document (longest, doc_id as the
    // deterministic tie-break) and account for what gets dropped — the
    // numbers a corpus-curation report needs. One window over the (tiny)
    // component membership table; never touches full text.
    "d30_dedup_keep_best" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("label")
        .orderBy(col("n_chars").desc, col("doc_id"))
      components(s, dir).join(docs, "doc_id")
        .withColumn("rnk", row_number().over(w))
        .groupBy(col("label").as("component_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rnk") === 1, col("doc_id"))).as("kept_doc"),
          max(when(col("rnk") === 1, col("n_chars"))).as("kept_chars"),
          coalesce(sum(when(col("rnk") > 1, col("n_chars"))), lit(0))
            .cast("long").as("dropped_chars"))
        .orderBy("component_id")
    },
    // D2j — chunk-level (passage) dedup, the C4-style boilerplate filter:
    // split each doc into 10-token chunks, flag chunks that occur in ≥2
    // distinct documents, report per-doc dup fraction and surviving token
    // count. Shape: inverted index on the chunk hash (groupBy + join by
    // h) — corpus-scalable, no pairwise stage at all.
    "d29_chunk_dedup" -> { (s, dir) =>
      // chunk strings from the codegen'd token_ngrams byte-span kernel
      // (tiling mode: stride = n = 10, ragged tail emitted), n_tok
      // recovered per chunk as separators + 1 — no token-array split, no
      // interpreted transform/concat_ws. Persisted: the frame feeds both
      // the doc-frequency aggregation and the join probe side, and Spark
      // does not dedup common subplans — unpersisted, the per-chunk md5
      // pipeline would run twice.
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(tokenNgrams(col("text"), 10, 10)).as("chunk"))
        .select(col("doc_id"),
          (length(col("chunk")) -
            length(translate(col("chunk"), " ", "")) + 1).as("n_tok"),
          tokenHash60(col("chunk")).as("h"))
        .persist()
      val docFreq = chunks.groupBy("h")
        .agg(countDistinct("doc_id").as("ndocs"))
      chunks.join(docFreq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("ndocs") >= 2, lit(1))).as("n_dup_chunks"),
          coalesce(sum(when(col("ndocs") < 2, col("n_tok"))),
            lit(0)).cast("long").as("n_clean_tokens"))
        .withColumn("dup_frac",
          col("n_dup_chunks").cast("double") / col("n_chunks"))
        .select("doc_id", "n_chunks", "n_dup_chunks", "dup_frac",
          "n_clean_tokens")
        .orderBy("doc_id")
    },
    // D2f — INCREMENTAL dedup: check an incoming batch (doc_id % 10 == 0
    // as the stand-in split) against the EXISTING corpus only — the shape
    // a production ingestion pipeline runs continuously. Exact check is a
    // hash semi-join; near-dup check restricts the inverted index to
    // incoming×existing pairs, so cost scales with the batch, not the
    // corpus squared.
    "d22_incremental_dedup" -> { (s, dir) =>
      val base = docShingles(s, dir)
      // no parallelism floor here (round-13 A/B, min-of-4): docs feeds
      // TWO plan branches, so a Q.spread repartition executes twice and
      // the pair of text exchanges cost more than the single-core sha2
      // they parallelize (1.23 s → 1.48 s) — the sha2 pass is ~100 ms,
      // under the exchange+scheduling floor
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      val incoming = docs.filter(col("doc_id") % 10 === 0)
      val existing = docs.filter(col("doc_id") % 10 =!= 0)
      val exact = incoming.join(
          existing.select(col("content_hash")).distinct()
            .withColumn("is_exact_dup", lit(true)),
          Seq("content_hash"), "left")
        .select(col("doc_id"),
          coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"))
      val shIn = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("da"), size(col("h_arr")).as("na"),
          explode(col("h_arr")).as("sh_h"))
      val shEx = base.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("db"), size(col("h_arr")).as("nb"),
          explode(col("h_arr")).as("sh_h"))
      val near = shIn.hint("shuffle_hash").join(shEx, "sh_h")
        // size-ratio prune BEFORE the (da, db) aggregation shuffle —
        // d02's PPJoin length filter applied to the incremental join:
        // J = shared/(na+nb−shared) ≤ min/max, so J ≥ 0.5 forces the set
        // sizes within 2× of each other; pairs outside the band are
        // dropped from the candidate stream before the exchange ever
        // sees them (guide §2.3). Result-preserving by the same argument
        // as nearDupPairsJoin (non-strict bound: max = 2·min can still
        // reach exactly 0.5).
        .filter(col("na") <= col("nb") * 2 && col("nb") <= col("na") * 2)
        .groupBy("da", "db").agg(count(lit(1)).as("shared"),
          first("na").as("na"), first("nb").as("nb"))
        .filter(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")) >= 0.5)
        .groupBy(col("da").as("doc_id"))
        .agg(count(lit(1)).as("n_near_dups"))
      exact.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact_dup"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
        .orderBy("doc_id")
    },
    // D2h — benchmark DECONTAMINATION: for every doc of a held-out eval
    // source (src0), the fraction of its distinct 3-grams that appear
    // anywhere in the training corpus (all other sources) — the hygiene
    // gate run before pre-training to keep eval benchmarks out of the
    // training set. Shape: inverted-index semi-join by shingle hash (the
    // corpus side reduces to a distinct hash set — never doc×doc pairs),
    // so cost scales with corpus size, not eval×corpus.
    "d27_decontamination" -> { (s, dir) =>
      val base = docShingles(s, dir)
      // no broadcast hint: src has per-doc cardinality (same as the corpus)
      // — at 100 TB this must be a co-partitioned shuffle join; AQE still
      // broadcasts it on its own at small scale
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val withSrc = base.join(src, "doc_id")
      // shingle-less docs (<3 tokens) have no rows in the oracle's
      // exploded-shingle totals — exclude them here too, or Spark would
      // emit an n_grams=0 row with a 0/0 fraction the oracle lacks
      val evalDocs = withSrc.filter(col("source") === "src0" &&
        size(col("h_arr")) > 0)
      val evalSh = evalDocs.select(col("doc_id"), explode(col("h_arr")).as("h"))
      val corpusHashes = d27CorpusHashes(s, dir)
      val hits = evalSh.join(corpusHashes, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      evalDocs.select(col("doc_id"), size(col("h_arr")).as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
        .withColumn("contaminated_frac",
          col("n_contaminated").cast("double") / col("n_grams"))
        .withColumn("is_contaminated", col("contaminated_frac") >= 0.8)
        .select("doc_id", "n_grams", "n_contaminated",
          "contaminated_frac", "is_contaminated")
        .orderBy("doc_id")
    },
    // D2c — 60-bit SimHash over distinct tokens + Hamming distance to doc 0.
    "d04_simhash" -> { (s, dir) =>
      val sim = docSimhash(s, dir)
      val ref = sim.filter(col("doc_id") === 0)
        .select(col("simhash").as("simhash0"))
      sim.crossJoin(broadcast(ref))
        .select(col("doc_id"), col("simhash"),
          bit_count(col("simhash").bitwiseXOR(col("simhash0"))).as("hamming_to_doc0"))
        .orderBy("doc_id")
    },
    // D2d — embedding-cosine near-dup pairs, blocked by label. The 0.4
    // threshold sits ≈3σ above the random-pair cosine in 64-d (σ=1/√d) —
    // provably below where hyperplane-LSH banding can prune without
    // false negatives (bands wide enough for recall at θ≈66° partition
    // into ≤4 buckets and INFLATE candidates ~8× over label blocking) —
    // so within a label the pair set is irreducible and the scale lever
    // is arithmetic shape, not candidate count: blocked tile
    // multiplication (embedNeardupBlocked) reads each vector once per
    // 1024-row tile instead of once per pair. Bit-identical to the plain
    // join (Round6OpsSpec pins both branches).
    "d12_embed_neardup" -> { (s, dir) =>
      graft.functions.FloatDotProduct.register(s)
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("nrm", l2norm(col("embedding")))
      // Candidate-pair audit (the d32-recall-audit pattern): d12 is
      // irreducibly quadratic WITHIN a label (see tile-kernel note above),
      // so each output row carries its label's candidate-pair count, and
      // [[embedNeardupBudgeted]] acts on it: a label whose pair term
      // crosses EmbedPairBudget switches to IVF-cell candidates with a
      // riding exact-sample recall audit (n_scored_pairs / approx_label /
      // audit_recall) that is ENFORCED against a 0.95 recall floor
      // (escalation / exact fallback / loud recall_floor_met=false —
      // round 9). Every oracle/bench SF sits under the budget, so the
      // verified output is the exact all-pairs set with the audit
      // columns constant — the escape-hatch branches are spec-pinned
      // with forced tiny budgets (Round8OpsSpec/Round9OpsSpec).
      val cand = v.groupBy("label").agg(count(lit(1)).as("c"))
        .select(col("label"), expr("c * (c - 1) div 2").as("n_candidate_pairs"))
      // GRAFT_D12_BUDGET overrides the per-label pair budget — the
      // scale-experiment knob (force the hatch at bench SFs and read the
      // wall-clock + audit_recall tradeoff); the default keeps every
      // oracle/bench SF exact
      val budget = sys.env.get("GRAFT_D12_BUDGET")
        .flatMap(v0 => scala.util.Try(v0.trim.toLong).toOption)
        .getOrElse(EmbedPairBudget)
      // GRAFT_D12_CELLSBOUND forces the two-level cell layout at bench
      // SFs (same scale-experiment role as GRAFT_D12_BUDGET); defaults
      // keep the flat layout everywhere a single broadcast fits
      val cb = sys.env.get("GRAFT_D12_CELLSBOUND")
        .flatMap(v0 => scala.util.Try(v0.trim.toLong).toOption)
        .getOrElse(FlatCellsBound)
      embedNeardupBudgeted(s, v, 0.4, budget = budget, cellsBound = cb)
        .join(broadcast(cand), "label")
        .select(col("label"), col("va"), col("vb"), col("cosine"),
          col("n_candidate_pairs"), col("n_scored_pairs"),
          col("approx_label"), col("audit_recall"), col("recall_floor_met"))
        .orderBy("label", "va", "vb")
    },
    // D1/D2 audit — per-document duplicate-n-gram coverage: the fraction of
    // a doc's distinct shingles that occur in ≥2 documents. This is the
    // standard corpus-contamination profile (how much of each doc is
    // boilerplate/copied) and the per-doc counterpart of d02's pair view.
    // Shape at scale: reuses the persisted shingle table; one shuffle on
    // the 60-bit hash builds doc-frequencies (ints, partial-agg'd
    // map-side), one shuffle joins them back — never materializes pairs.
    // Zero-shingle docs surface with n_grams=0 via the left join from
    // documents, mirrored in the oracle.
    "d34_ngram_coverage" -> { (s, dir) =>
      val grams = gramTable(s, dir)
      // h_arr is per-doc distinct, so count(*) per hash = document
      // frequency — the shared memoized [[gramDf]] table
      val perDoc = grams.join(gramDf(s, dir), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      t(s, dir, "documents").select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
            .otherwise(col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
        .orderBy("doc_id")
    },
    // D1/D2 audit — cross-SOURCE contamination matrix: shingle-set Jaccard
    // between every source pair (how much of source A's content also lives
    // in source B). Shape at scale: the corpus collapses to distinct
    // (source, hash) rows FIRST — an inverted index aggregated to source
    // level, linear in corpus shingles — and the pair join fans out at
    // most |sources|² rows per hash, so pair blowup is bounded by the
    // (tiny, fixed) source count, never by corpus size.
    "d36_source_overlap" -> { (s, dir) =>
      sourceOverlapOf(s, dir)
    }) ++ queriesB

  /** d36's cross-source contamination matrix — shingle-set Jaccard
    * between every source pair. Routed on the source count (the same
    * measured-probe pattern as componentsOf); `forceRoute` (spec knob)
    * pins either arm — Some(true) = bitmap, Some(false) = source-set
    * fallback — so the route equivalence and the otherwise-CI-dead
    * >63-source fallback are testable on any corpus.
    */
  private[graft] def sourceOverlapOf(s: SparkSession, dir: String,
      forceRoute: Option[Boolean] = None): DataFrame = {
      val docsSrc = t(s, dir, "documents").select("doc_id", "source")
      // the sorted-source bit index, memoized + persisted (shared with
      // d27's corpus-hash route — see srcIndexOf). >63 real sources
      // falls back to the source-SET formulation (collect_set + bounded
      // explode) below.
      val totals = srcIndexOf(s, dir)
      // adaptive-path probe on the cached source count: the same
      // measured-runtime-choice pattern as componentsOf
      if (forceRoute.getOrElse(srcCount(s, dir) <= 63)) {
        // BITMAP formulation: each hash collapses to a 64-bit source mask
        // (bit_or — one shuffle on h, partial-agg'd map-side), then the
        // mask HISTOGRAM (distinct masks × count — tiny: ≤ 2^|sources|,
        // in practice a handful) answers every per-source total and every
        // pair co-occurrence with mask tests. The |sources-per-hash|²
        // explode of the set formulation disappears entirely, and at
        // 100 TB the shuffle carries 16 bytes per hash instead of a
        // string array.
        // the corpus-wide groupBy-h pass lives in hashSourceMask (shared
        // with d27); the histogram here is a tiny re-aggregation of it
        val maskCounts = Q.memo(s, dir, "srcMaskCounts") {
          hashSourceMask(s, dir)
            .groupBy("mask").agg(count(lit(1)).as("cnt"))
            .persist()
        }
        val nH = totals.crossJoin(broadcast(maskCounts))
          .filter(expr("(mask & shiftleft(CAST(1 AS BIGINT), i)) != 0"))
          .groupBy("source").agg(sum("cnt").as("n_h"))
        val pairs = totals.select(col("source").as("src_a"), col("i").as("ia"))
          .join(broadcast(
            totals.select(col("source").as("src_b"), col("i").as("ib"))),
            col("src_a") < col("src_b"))
        pairs.crossJoin(broadcast(maskCounts))
          .filter(expr("(mask & shiftleft(CAST(1 AS BIGINT), ia)) != 0 AND " +
            "(mask & shiftleft(CAST(1 AS BIGINT), ib)) != 0"))
          .groupBy("src_a", "src_b").agg(sum("cnt").as("n_shared"))
          .join(broadcast(nH.select(col("source").as("src_a"),
            col("n_h").as("n_a"))), "src_a")
          .join(broadcast(nH.select(col("source").as("src_b"),
            col("n_h").as("n_b"))), "src_b")
          .withColumn("jaccard", col("n_shared").cast("double") /
            (col("n_a") + col("n_b") - col("n_shared")))
          .select("src_a", "src_b", "n_shared", "n_a", "n_b", "jaccard")
          .orderBy("src_a", "src_b")
      } else {
        // fallback: source sets per hash, pair fanout ≤ |sources|² per hash
        val srcSets = Q.memo(s, dir, "srcSets") {
          gramTable(s, dir)
            .join(docsSrc, "doc_id")
            .groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
            .persist()
        }
        val counts = srcSets.select(explode(col("ss")).as("source"))
          .groupBy("source").agg(count(lit(1)).as("n_h"))
        srcSets
          .select(explode(col("ss")).as("src_a"), col("ss"))
          .select(col("src_a"), explode(col("ss")).as("src_b"))
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
          .join(broadcast(counts.select(col("source").as("src_a"), col("n_h").as("n_a"))), "src_a")
          .join(broadcast(counts.select(col("source").as("src_b"), col("n_h").as("n_b"))), "src_b")
          .withColumn("jaccard", col("n_shared").cast("double") /
            (col("n_a") + col("n_b") - col("n_shared")))
          .select("src_a", "src_b", "n_shared", "n_a", "n_b", "jaccard")
          .orderBy("src_a", "src_b")
      }
  }

  private lazy val queriesB: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D2l — near-dup-cluster-SAFE train/val/test split: the assignment a
    // decontaminated eval needs — near-duplicate documents must land in
    // the SAME split or train/test leakage re-enters through paraphrases.
    // Group key = the CC label for clustered docs (memoized, shared with
    // d21/d30), the doc itself otherwise; the split bucket hashes the
    // GROUP (never the member), so whole clusters move atomically. Shape
    // at scale: one left join of the corpus against the (tiny,
    // |near-dups|-sized) label table + a map-side md5 bucket — the
    // assignment itself adds no corpus-sized shuffle.
    "d39_cluster_split" -> { (s, dir) =>
      val labels = components(s, dir)
        .select(col("doc_id"), col("label").as("lbl"))
      val h = substring(md5(col("group_key").cast("string")), 1, 1)
      t(s, dir, "documents").select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("group_key", coalesce(col("lbl"), col("doc_id")))
        // 12/2/2 hex-prefix buckets = 75% / 12.5% / 12.5%
        .withColumn("split",
          when(h < "c", "train").when(h < "e", "val").otherwise("test"))
        .select("doc_id", "group_key", "split")
        .orderBy("doc_id")
    },
    // D1f — EXACT-SUBSTRING decontamination: the strict complement of
    // d27's n-gram-overlap test. Each eval doc (src0, the d27 convention)
    // contributes its 5-token prefix as a needle; a training doc is
    // contaminated if any needle occurs verbatim inside its text. The
    // path is picked by the MEASURED needle-set size against the session
    // broadcast threshold: eval sets are benchmark-sized, so the normal
    // plan broadcasts them and scans the corpus once; past the threshold
    // the char-gram inverted-index path takes over ([[substringHitsIndexed]]
    // — same rows by construction, spec-pinned in Round5OpsSpec).
    "d48_substring_decontamination" -> { (s, dir) =>
      val (train, needles) = d48Inputs(s, dir)
      val est = needles
        .agg(count(lit(1)).as("n"),
          coalesce(sum(length(col("needle"))), lit(0L)).as("chars")).head()
      // ~2 bytes/char in-heap + per-row object overhead — deliberately
      // pessimistic so the switch fires before the broadcast OOMs
      val estBytes = est.getLong(1) * 2 + est.getLong(0) * 64
      // Two switch conditions, both measured (BENCH_SF1.md): the broadcast
      // must FIT (byte threshold), and the probe must be WORTH it — probe
      // work is |needles| per train row while the index path is linear in
      // train chars, so past ~10k needles the index wins even when the
      // broadcast fits (measured crossover ≈12k needles at both sf1 and
      // sf10: 5k → broadcast 2.6x faster; 50k → index 4x faster).
      val pick =
        if (estBytes <= s.sessionState.conf.autoBroadcastJoinThreshold &&
            est.getLong(0) <= DedupQueries.ProbeCrossoverNeedles)
          substringHitsBroadcast(train, needles)
        else if (est.getLong(1) <= DedupQueries.ScanMaxNeedleChars)
          // past the probe crossover but with the needle chars still
          // memory-resident-sized, one automaton scan of the corpus beats
          // both other paths (O(corpus chars), zero gram shuffle)
          substringHitsScan(train, needles)
        else substringHitsIndexed(train, needles)
      val hits = pick.withColumn("hit", lit(1L))
      train.join(hits, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contaminated_frac",
          col("n_contaminated").cast("double") / col("n_docs"))
        .orderBy("source")
    },
    // D2g — n-gram NOVELTY curve: scanning the corpus in doc_id order,
    // how many never-before-seen 3-grams does each ingest decile
    // contribute? The diminishing-returns curve behind "is more of this
    // source still adding new content" scaling decisions. First
    // occurrence = min(doc_id) per gram hash (one keyed agg on the shared
    // gram table); deciles derive from the doc_id RANGE (map-side integer
    // math against a broadcast 1-row max — no global row_number, so the
    // bucketing itself never serializes the corpus through one partition).
    "d50_novelty_curve" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val db = Q.withDecileBucket(
        t(s, dir, "documents").select("doc_id"), "doc_id")
      val grams = gramTable(s, dir)
      val tot = grams.join(db, "doc_id")
        .groupBy("bucket").agg(count(lit(1)).as("n_grams"))
      // first occurrence rides the shared vocabulary index (round 13):
      // min(doc_id) per gram is a gramIndex column, so d50's own
      // corpus-wide groupBy-h pass disappears
      val firsts = gramIndex(s, dir)
        .select(col("h"), col("first_doc").as("doc_id"))
      val newb = firsts.join(db, "doc_id")
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      val nd = db.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      val wCum = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nd.join(tot, Seq("bucket"), "left").join(newb, Seq("bucket"), "left")
        .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_new", sum("n_new").over(wCum))
        .withColumn("novelty_frac",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(col("n_new").cast("double") / col("n_grams")))
        .select("bucket", "n_docs", "n_grams", "n_new", "cum_new",
          "novelty_frac")
        .orderBy("bucket")
    },
    // D2h — CONTAINMENT near-dup pairs: shared / min(|A|,|B|) ≥ 0.9, the
    // asymmetric complement of d02's Jaccard. A small doc embedded in a
    // big one scores J = |small|/|big| (arbitrarily low — d02's size-ratio
    // prune discards exactly these pairs BY DESIGN), but containment 1.0.
    // Same inverted-index equi-join shape as d02, minus the Jaccard prune
    // (which would be wrong here). The containment-VALID prune — prefix
    // filtering, exact by pigeonhole at 0.9 — was MEASURED SLOWER at sf10
    // with hash-ordered prefixes (148 s vs 86 s): they carry no rare-gram
    // selectivity on this near-uniform vocabulary (same corpus-shape
    // verdict as d02's PPJoin note above), so candidates barely shrink
    // while survivors pay an array-payload verify join. The choice is
    // ADAPTIVE:
    // [[containmentPairs]] measures the gram-df shape (gramDfStats) and
    // routes Zipf-tailed corpora through the rarest-first df-ordered
    // prefix plan, uniform-df corpora (these fixtures) through the
    // count-join — both routes equality-pinned in Round8RouterSpec.
    "d51_containment" -> { (s, dir) =>
      containmentPairs(s, dir).orderBy("da", "db")
    },
    // D2i — lexical-vs-SEMANTIC dup agreement: every verified lexical
    // near-dup pair (d02's J ≥ 0.5 set) rescored by embedding cosine —
    // the audit that tells a curation run whether its cheap lexical
    // dedup and its expensive semantic dedup see the same duplicates
    // (low cosine on a high-Jaccard pair = template/boilerplate overlap
    // embeddings correctly blur). INNER join on the embedding table: at
    // larger SF only a prefix of docs carries vectors, and a pair is
    // auditable only when both sides do. Shape: |pairs| is tiny; the
    // embedding attach is two keyed lookups, nothing corpus-sized moves.
    "d53_dup_agreement" -> { (s, dir) =>
      graft.functions.FloatDotProduct.register(s)
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", l2norm(col("embedding")))
      nearDupPairs(s, dir).select("da", "db", "jaccard")
        .join(v.select(col("vec_id").as("da"), col("embedding").as("ea"),
          col("nrm").as("na")), "da")
        .join(v.select(col("vec_id").as("db"), col("embedding").as("eb"),
          col("nrm").as("nb")), "db")
        .withColumn("cosine",
          cosineWithNorms(dot(col("ea"), col("eb")), col("na"), col("nb")))
        .withColumn("semantic_agree", col("cosine") >= 0.9)
        .select("da", "db", "jaccard", "cosine", "semantic_agree")
        .orderBy("da", "db")
    },
    // D1g — TEMPLATE detection by shared opening: docs that begin with the
    // same 8 tokens are template instances (form letters, scraped page
    // chrome) even when their tails differ — the case full-hash dedup
    // (d01) misses and pairwise near-dup (d02) only catches when the
    // shared fraction is large. One hash groupBy on the prefix hash —
    // exactly d01's scale shape, no pairwise stage.
    "d56_template_prefixes" -> { (s, dir) =>
      t(s, dir, "documents")
        .filter(size(tokens(col("text"))) >= 8)
        .withColumn("prefix_hash",
          md5(concat_ws(" ", slice(tokens(col("text")), 1, 8))))
        .groupBy("prefix_hash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"),
          countDistinct("source").as("n_sources"))
        .filter(col("n_docs") >= 2)
        .orderBy("prefix_hash")
    },
    // D2k — SimHash near-dup pairs via MULTI-INDEX Hamming search: split
    // the 60-bit signature into four 15-bit bands; by pigeonhole, two
    // signatures within Hamming distance ≤ 3 MUST agree on at least one
    // band, so banding is a COMPLETE (no false negative) candidate
    // generator at that radius — the classic web-dedup recipe. Candidate
    // fanout is bounded by band-bucket sizes (an equi-join, never all
    // pairs); exact bit_count verification touches candidates only.
    // Executed through the BUCKET KERNEL ([[simhashBandPairsBucketed]]):
    // the band self-join materialized ~2e8 candidate rows through the
    // join machinery at sf30 while the verification itself is one
    // popcount per candidate — the same row-materialization-vs-arithmetic
    // gap the VectorKernels argmax paths close. Join formulation kept
    // below as the spec reference.
    "d58_simhash_hamming" -> { (s, dir) =>
      simhashBandPairsBucketed(s, bandedSimhash(docSimhash(s, dir)))
        .orderBy("da", "db")
    }
  )

  /** (doc_id, simhash) → one row per 15-bit band value: (doc_id, simhash,
    * band, bv). Shared by both d58 executions.
    */
  private[graft] def bandedSimhash(sim: DataFrame): DataFrame =
    sim.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 15)
              .bitwiseAND(lit(32767L)).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))

  /** Join formulation of the banded Hamming search — the readable
    * statement of the candidate rule and the equality-spec reference for
    * [[simhashBandPairsBucketed]].
    */
  private[graft] def simhashBandPairsJoin(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bv"),
      col("doc_id").as("da"), col("simhash").as("sa"))
    val b2 = banded.select(col("band"), col("bv"),
      col("doc_id").as("db"), col("simhash").as("sb"))
    a.join(b2, Seq("band", "bv"))
      .filter(col("da") < col("db"))
      // hamming BEFORE distinct: bit_count is a codegen'd map-side
      // comparison, so band collisions that aren't near-dups die in the
      // join stage and the dedup shuffle only carries true pairs (≤4
      // copies each) — the pre-filter distinct was shuffling EVERY
      // candidate, the dominant cost once hot bands appear at scale
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select("da", "db", "hamming").distinct()
  }

  /** Bucket-kernel execution of the banded Hamming search: one shuffle of
    * (doc_id, simhash) keyed by (band, bv) — 16 narrow bytes per banded
    * row — then every bucket's candidate pairs are verified in a tight
    * i<j popcount loop and only true pairs (Hamming ≤ 3) leave the task.
    * The verified set is identical to [[simhashBandPairsJoin]] (spec),
    * with the ~|bucket|² candidate ROWS never materialized.
    *
    * Multi-band dedup is LOCAL, not a distinct: both signatures are in
    * hand, so the set of agreeing bands is computable per pair
    * ((xor >> 15·b) masks), and the pair is emitted ONLY from its lowest
    * agreeing band. On a self-similar corpus this matters more than the
    * candidate loop — at sf30 the true-pair set is ~10⁸ rows, and the
    * join formulation's `.distinct()` shuffled every copy of every one of
    * them (measured: the distinct, not the candidate scoring, dominated).
    *
    * Skew note for 100 TB: a degenerate hot bucket (e.g. millions of
    * identical signatures) concentrates in one task here exactly as it
    * concentrates in one join key in the join formulation — and its
    * QUADRATIC OUTPUT (all its pairs are Hamming-0 dups) is inherent to
    * the query's semantics, not the execution; a production corpus caps
    * that with a bucket-size limit upstream (the d48 adaptive-route
    * pattern), which this operator deliberately leaves exact.
    */
  private[graft] def simhashBandPairsBucketed(s: SparkSession,
      banded: DataFrame): DataFrame = {
    import s.implicits._
    banded.groupBy("band", "bv")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("m"))
      .select(col("band"), col("m")).as[(Int, Seq[(Long, Long)])]
      .flatMap { case (band, members) =>
        val n = members.length
        val ids = new Array[Long](n)
        val sigs = new Array[Long](n)
        var i = 0
        members.foreach { case (id, sg) => ids(i) = id; sigs(i) = sg; i += 1 }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        i = 0
        while (i < n) {
          val si = sigs(i); val di = ids(i)
          var j = i + 1
          while (j < n) {
            val x = si ^ sigs(j)
            val h = java.lang.Long.bitCount(x)
            if (h <= 3) {
              // lowest agreeing band owns the pair (current band's value
              // matches by construction, so minBand ≤ band always holds)
              var minBand = 0
              while (((x >>> (minBand * 15)) & 0x7FFFL) != 0L) minBand += 1
              if (minBand == band) {
                val dj = ids(j)
                out += (if (di < dj) (di, dj, h) else (dj, di, h))
              }
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("da", "db", "hamming")
  }

  /** DuckDB mirror of [[docSimhash]] — yields the `sim(doc_id, simhash)`
    * CTE; shared by the d04 and d58 oracles.
    */
  private val simhashSql =
    s"""tok AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) raw),
       |h AS (SELECT doc_id, ${oTokenHash60("tok")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, j, (1::BIGINT << j) AS mask,
       |         SUM(CASE WHEN (h & (1::BIGINT << j)) != 0 THEN 1 ELSE -1 END) AS s
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) js
       |  GROUP BY doc_id, j),
       |sim AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN s > 0 THEN mask ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  private val shingleSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') tk,
      |               unnest(range(len(string_split(text, ' ')) - 2)) AS i
      |        FROM documents) raw)""".stripMargin

  private val jaccardSql =
    s"""WITH $shingleSql,
       |cnt AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
       |shh AS (SELECT doc_id, ${oTokenHash60("shingle")} AS sh_h FROM sh),
       |shared AS (
       |  SELECT a.doc_id da, b.doc_id db, COUNT(*) shared
       |  FROM shh a JOIN shh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
       |  GROUP BY da, db),
       |jac AS (
       |  SELECT da, db, shared,
       |         CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) AS jaccard
       |  FROM shared JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies,
        |       MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin,
    "d02_dedup_jaccard" ->
      s"""$jaccardSql
         |SELECT da, db, shared, jaccard FROM jac
         |WHERE jaccard >= 0.5 ORDER BY da, db""".stripMargin,
    "d22_incremental_dedup" ->
      s"""WITH $shingleSql,
         |cnt AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
         |shh AS (SELECT doc_id, ${oTokenHash60("shingle")} AS sh_h FROM sh),
         |exact AS (
         |  SELECT i.doc_id,
         |         EXISTS (SELECT 1 FROM documents e
         |                 WHERE e.doc_id % 10 != 0
         |                   AND sha256(e.text) = sha256(i.text)) AS is_exact_dup
         |  FROM documents i WHERE i.doc_id % 10 = 0),
         |near AS (
         |  SELECT da AS doc_id, COUNT(*) AS n_near_dups FROM (
         |    SELECT a.doc_id da, b.doc_id db, COUNT(*) shared
         |    FROM shh a JOIN shh b ON a.sh_h = b.sh_h
         |    WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
         |    GROUP BY da, db) p
         |  JOIN cnt ca ON p.da = ca.doc_id JOIN cnt cb ON p.db = cb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5
         |  GROUP BY da)
         |SELECT exact.doc_id, is_exact_dup,
         |       COALESCE(n_near_dups, 0) AS n_near_dups
         |FROM exact LEFT JOIN near ON exact.doc_id = near.doc_id
         |ORDER BY exact.doc_id""".stripMargin,
    "d21_dedup_clusters" ->
      s"""$jaccardSql,
         |p AS (SELECT da, db FROM jac WHERE jaccard >= 0.5),
         |edges AS (
         |  -- symmetric closure only; (a,a) self-pairs fall out of the
         |  -- recursion via (a,b) joined with (b,a), and every node in p
         |  -- has at least one neighbor
         |  SELECT da, db FROM p
         |  UNION SELECT db, da FROM p),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT da, db FROM edges
         |    UNION
         |    SELECT r.a, e.db FROM r JOIN edges e ON r.b = e.da)
         |  SELECT a, b FROM r),
         |comp AS (SELECT a AS doc_id, MIN(b) AS component_id
         |         FROM reach GROUP BY a)
         |SELECT component_id, COUNT(*) AS n_members, MAX(doc_id) AS max_doc
         |FROM comp GROUP BY component_id ORDER BY component_id""".stripMargin,
    "d30_dedup_keep_best" ->
      s"""$jaccardSql,
         |p AS (SELECT da, db FROM jac WHERE jaccard >= 0.5),
         |edges AS (
         |  -- symmetric closure only; (a,a) self-pairs fall out of the
         |  -- recursion via (a,b) joined with (b,a), and every node in p
         |  -- has at least one neighbor
         |  SELECT da, db FROM p
         |  UNION SELECT db, da FROM p),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT da, db FROM edges
         |    UNION
         |    SELECT r.a, e.db FROM r JOIN edges e ON r.b = e.da)
         |  SELECT a, b FROM r),
         |comp AS (SELECT a AS doc_id, MIN(b) AS label
         |         FROM reach GROUP BY a),
         |m AS (
         |  SELECT comp.doc_id, label, n_chars,
         |         row_number() OVER (PARTITION BY label
         |                            ORDER BY n_chars DESC, comp.doc_id) AS rnk
         |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id)
         |SELECT label AS component_id, COUNT(*) AS n_members,
         |       MAX(CASE WHEN rnk = 1 THEN doc_id END) AS kept_doc,
         |       MAX(CASE WHEN rnk = 1 THEN n_chars END) AS kept_chars,
         |       CAST(COALESCE(SUM(n_chars) FILTER (WHERE rnk > 1), 0) AS BIGINT)
         |         AS dropped_chars
         |FROM m GROUP BY label ORDER BY component_id""".stripMargin,
    "d29_chunk_dedup" ->
      s"""WITH ch AS (
         |  SELECT doc_id,
         |         array_to_string(tk[i*10+1 : i*10+10], ' ') AS chunk,
         |         len(tk[i*10+1 : i*10+10]) AS n_tok
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk,
         |               unnest(range(CAST(ceil(
         |                 len(string_split(text, ' ')) / 10.0) AS BIGINT))) AS i
         |        FROM documents) raw),
         |hashed AS (SELECT doc_id, n_tok, ${oTokenHash60("chunk")} AS h FROM ch),
         |docfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs
         |            FROM hashed GROUP BY h)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |       COUNT(*) FILTER (WHERE ndocs >= 2) AS n_dup_chunks,
         |       CAST(COUNT(*) FILTER (WHERE ndocs >= 2) AS DOUBLE) / COUNT(*)
         |         AS dup_frac,
         |       CAST(COALESCE(SUM(n_tok) FILTER (WHERE ndocs < 2), 0) AS BIGINT)
         |         AS n_clean_tokens
         |FROM hashed JOIN docfreq USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d03_dedup_minhash_lsh" ->
      s"""$jaccardSql,
         |h AS (SELECT doc_id, ${oTokenHash60("shingle")} AS h FROM sh),
         |params AS (
         |  SELECT i, (1103515245 * (i + 1)) % 2147483647 AS a, 12345 * (i + 1) AS b
         |  FROM (SELECT unnest(range(16)) AS i)),
         |sig AS (
         |  SELECT doc_id, i, MIN((a * (h % 1073741824) + b) % 2147483647) AS mh
         |  FROM h CROSS JOIN params GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT x.doc_id da, y.doc_id db, COUNT(*) n_bands
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |  GROUP BY da, db)
         |SELECT cand.da AS da, cand.db AS db, n_bands, jaccard
         |FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
         |WHERE jaccard >= 0.5 ORDER BY da, db""".stripMargin,
    "d27_decontamination" ->
      s"""WITH $shingleSql,
         |shh AS (
         |  SELECT s.doc_id, d.source, ${oTokenHash60("s.shingle")} AS h
         |  FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
         |corpus AS (SELECT DISTINCT h FROM shh WHERE source != 'src0'),
         |ev AS (SELECT doc_id, h FROM shh WHERE source = 'src0'),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_contaminated FROM ev
         |  WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.h = ev.h)
         |  GROUP BY doc_id),
         |totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY doc_id)
         |SELECT t.doc_id,
         |       CAST(t.n_grams AS INT) AS n_grams,
         |       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_grams
         |         AS contaminated_frac,
         |       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_grams >= 0.8
         |         AS is_contaminated
         |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "d25_minhash_estimate" ->
      s"""$jaccardSql,
         |h AS (SELECT doc_id, ${oTokenHash60("shingle")} AS h FROM sh),
         |params AS (
         |  SELECT i, (1103515245 * (i + 1)) % 2147483647 AS a, 12345 * (i + 1) AS b
         |  FROM (SELECT unnest(range(16)) AS i)),
         |sig AS (
         |  SELECT doc_id, i, MIN((a * (h % 1073741824) + b) % 2147483647) AS mh
         |  FROM h CROSS JOIN params GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT x.doc_id da, y.doc_id db, COUNT(*) n_bands
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         |  GROUP BY da, db),
         |est AS (
         |  SELECT c.da, c.db,
         |         CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS INT) AS n_eq
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.da
         |  JOIN sig sb ON sb.doc_id = c.db AND sb.i = sa.i
         |  GROUP BY c.da, c.db)
         |SELECT est.da AS da, est.db AS db, n_eq,
         |       CAST(n_eq AS DOUBLE) / 16.0 AS est_jaccard,
         |       COALESCE(jaccard, 0.0) AS jaccard,
         |       CAST(n_eq AS DOUBLE) / 16.0 - COALESCE(jaccard, 0.0) AS err
         |FROM est LEFT JOIN jac ON est.da = jac.da AND est.db = jac.db
         |ORDER BY da, db""".stripMargin,
    "d04_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, sim.simhash AS simhash,
         |       bit_count(xor(sim.simhash, ref.simhash0)) AS hamming_to_doc0
         |FROM sim CROSS JOIN
         |  (SELECT simhash AS simhash0 FROM sim WHERE doc_id = 0) ref
         |ORDER BY doc_id""".stripMargin,
    "d58_simhash_hamming" ->
      s"""WITH $simhashSql,
         |banded AS (
         |  SELECT doc_id, simhash, b AS band,
         |         (simhash >> (b * 15)) & 32767 AS bv
         |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY da, db""".stripMargin,
    "d12_embed_neardup" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, embedding, ${oNorm("embedding")} AS nrm
         |  FROM embeddings),
         |cand AS (
         |  SELECT label, c * (c - 1) // 2 AS n_candidate_pairs
         |  FROM (SELECT label, COUNT(*) AS c FROM embeddings GROUP BY label))
         |SELECT a.label AS label, a.vec_id AS va, b.vec_id AS vb,
         |       ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine,
         |       cand.n_candidate_pairs,
         |       cand.n_candidate_pairs AS n_scored_pairs,
         |       FALSE AS approx_label,
         |       CAST(NULL AS DOUBLE) AS audit_recall,
         |       TRUE AS recall_floor_met
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |JOIN cand ON cand.label = a.label
         |WHERE ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > 0.4
         |ORDER BY label, va, vb""".stripMargin,
    "d34_ngram_coverage" ->
      s"""WITH $shingleSql,
         |shh AS (SELECT doc_id, ${oTokenHash60("shingle")} AS h FROM sh),
         |dfreq AS (SELECT h, COUNT(*) AS df FROM shh GROUP BY h),
         |per_doc AS (
         |  SELECT shh.doc_id, COUNT(*) AS n_grams,
         |         CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM shh JOIN dfreq ON shh.h = dfreq.h
         |  GROUP BY shh.doc_id)
         |SELECT d.doc_id,
         |       COALESCE(n_grams, 0) AS n_grams,
         |       COALESCE(n_dup, 0) AS n_dup,
         |       CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
         |            ELSE CAST(n_dup AS DOUBLE) / n_grams END AS dup_frac
         |FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "d36_source_overlap" ->
      s"""WITH $shingleSql,
         |sshh AS (
         |  SELECT DISTINCT d.source, ${oTokenHash60("sh.shingle")} AS h
         |  FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
         |cnt AS (SELECT source, COUNT(*) AS n_h FROM sshh GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
         |  FROM sshh a JOIN sshh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY src_a, src_b)
         |SELECT src_a, src_b, n_shared, ca.n_h AS n_a, cb.n_h AS n_b,
         |       CAST(n_shared AS DOUBLE) / (ca.n_h + cb.n_h - n_shared)
         |         AS jaccard
         |FROM pairs
         |JOIN cnt ca ON src_a = ca.source
         |JOIN cnt cb ON src_b = cb.source
         |ORDER BY src_a, src_b""".stripMargin,
    "d39_cluster_split" ->
      s"""$jaccardSql,
         |p AS (SELECT da, db FROM jac WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT da, db FROM p
         |  UNION SELECT db, da FROM p),
         |reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT da, db FROM edges
         |    UNION
         |    SELECT r.a, e.db FROM r JOIN edges e ON r.b = e.da)
         |  SELECT a, b FROM r),
         |comp AS (SELECT a AS doc_id, MIN(b) AS lbl FROM reach GROUP BY a),
         |g AS (
         |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         |SELECT doc_id, group_key,
         |       CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1) < 'c'
         |              THEN 'train'
         |            WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 1) < 'e'
         |              THEN 'val'
         |            ELSE 'test' END AS split
         |FROM g ORDER BY doc_id""".stripMargin,
    "d48_substring_decontamination" ->
      """WITH needles AS (
        |  SELECT DISTINCT array_to_string(
        |           list_slice(string_split(text, ' '), 1, 5), ' ') AS needle
        |  FROM documents
        |  WHERE source = 'src0' AND len(string_split(text, ' ')) >= 5),
        |train AS (SELECT doc_id, source, text FROM documents
        |          WHERE source != 'src0'),
        |hits AS (
        |  SELECT DISTINCT t.doc_id FROM train t
        |  JOIN needles n ON contains(t.text, n.needle))
        |SELECT t.source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END)
        |            AS BIGINT) AS n_contaminated,
        |       CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END)
        |            AS DOUBLE) / COUNT(*) AS contaminated_frac
        |FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "d50_novelty_curve" ->
      s"""WITH $shingleSql,
         |shh AS (SELECT doc_id, ${oTokenHash60("shingle")} AS h FROM sh),
         |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
         |db AS (SELECT doc_id, (doc_id * 10) // (mx + 1) AS bucket
         |       FROM documents CROSS JOIN mx),
         |tot AS (SELECT bucket, COUNT(*) AS n_grams
         |        FROM shh JOIN db USING (doc_id) GROUP BY bucket),
         |firsts AS (SELECT h, MIN(doc_id) AS doc_id FROM shh GROUP BY h),
         |newb AS (SELECT bucket, COUNT(*) AS n_new
         |         FROM firsts JOIN db USING (doc_id) GROUP BY bucket),
         |nd AS (SELECT bucket, COUNT(*) AS n_docs FROM db GROUP BY bucket)
         |SELECT nd.bucket, n_docs,
         |       COALESCE(n_grams, 0) AS n_grams,
         |       COALESCE(n_new, 0) AS n_new,
         |       CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY nd.bucket
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS BIGINT) AS cum_new,
         |       CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
         |            ELSE CAST(COALESCE(n_new, 0) AS DOUBLE) / n_grams
         |       END AS novelty_frac
         |FROM nd LEFT JOIN tot USING (bucket) LEFT JOIN newb USING (bucket)
         |ORDER BY nd.bucket""".stripMargin,
    "d51_containment" ->
      s"""WITH $shingleSql,
         |cnt AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY doc_id),
         |shh AS (SELECT doc_id, ${oTokenHash60("shingle")} AS sh_h FROM sh),
         |shared AS (
         |  SELECT a.doc_id da, b.doc_id db, COUNT(*) shared
         |  FROM shh a JOIN shh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
         |  GROUP BY da, db)
         |SELECT da, db, shared, ca.n_sh AS na, cb.n_sh AS nb,
         |       CAST(shared AS DOUBLE) / least(ca.n_sh, cb.n_sh)
         |         AS containment
         |FROM shared JOIN cnt ca ON da = ca.doc_id
         |JOIN cnt cb ON db = cb.doc_id
         |WHERE CAST(shared AS DOUBLE) / least(ca.n_sh, cb.n_sh) >= 0.9
         |ORDER BY da, db""".stripMargin,
    "d53_dup_agreement" ->
      s"""$jaccardSql,
         |v AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm
         |      FROM embeddings)
         |SELECT da, db, jaccard,
         |       ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
         |         AS cosine,
         |       ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
         |         >= 0.9 AS semantic_agree
         |FROM jac JOIN v a ON da = a.vec_id JOIN v b ON db = b.vec_id
         |WHERE jaccard >= 0.5
         |ORDER BY da, db""".stripMargin,
    "d56_template_prefixes" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         md5(array_to_string(
        |           list_slice(string_split(text, ' '), 1, 8), ' '))
        |           AS prefix_hash
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8)
        |SELECT prefix_hash, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS first_doc,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM d GROUP BY prefix_hash
        |HAVING COUNT(*) >= 2 ORDER BY prefix_hash""".stripMargin
  )
}
