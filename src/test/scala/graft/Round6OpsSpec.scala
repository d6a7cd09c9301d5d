package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.queries.DedupQueries

/** Round-6 scale-path equivalences: d12's tiled all-pairs scorer must be
  * bit-identical to the plain label-blocked join it replaces (the d48/d32
  * pattern from Round5OpsSpec — both branches pinned on the same inputs).
  */
class Round6OpsSpec extends SparkSpec {

  private def embeddings(dir: String) = {
    graft.functions.FloatDotProduct.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("label", "va", "vb").collect()
      .map(r => (r.getAs[Any]("label"), r.getAs[Long]("va"),
        r.getAs[Long]("vb"), r.getAs[Double]("cosine")))

  test("d12 tiled scorer == plain join, at the query threshold (sf0.01)") {
    val v = embeddings("/root/testdata/sf0.01")
    val j = rows(DedupQueries.embedNeardupJoin(spark, v, 0.4))
    val b = rows(DedupQueries.embedNeardupBlocked(spark, v, 0.4))
    assert(j.nonEmpty, "fixture must produce pairs or the pin is vacuous")
    assert(b.sameElements(j))
  }

  test("d32 ANN escape hatch: exhaustive-probe IVF == broadcast exact (fixture)") {
    import graft.queries.VectorQueries
    val (tr, ev) = VectorQueries.d32Inputs(spark, "/root/testdata/sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("eval_id").collect()
        .map(r => (r.getAs[Any]("eval_id"), r.getAs[Any]("train_id"),
          r.getAs[Double]("cosine")))
    val b = rows(VectorQueries.nearestTrainBroadcast(tr, ev))
    // probing every cell makes the IVF path score every train row — the
    // argmax and tie-break must then be IDENTICAL to the exact search
    val a = rows(VectorQueries.nearestTrainIvf(tr, ev, nprobe = Int.MaxValue))
    assert(b.nonEmpty)
    assert(a.sameElements(b))
    // default nprobe keeps the output shape (one best row per eval) even
    // when approximate; every eval id must still be answered
    val ann = VectorQueries.nearestTrainIvf(tr, ev)
    assert(ann.select("eval_id").distinct().count() == b.length)
  }

  test("d12 tiled scorer == plain join across tile boundaries (tile=7, thr=0.3)") {
    // tile far smaller than the per-label population: every label spans
    // many tiles, so intra-tile (j>i), inter-tile (blkA<blkB) and the
    // va<vb invariant across the boundary are all exercised; thr=0.3
    // multiplies the matching pairs ~20x over the query threshold
    val v = embeddings("/root/testdata/sf0.01")
    val j = rows(DedupQueries.embedNeardupJoin(spark, v, 0.3))
    val b = rows(DedupQueries.embedNeardupBlocked(spark, v, 0.3, tile = 7))
    assert(j.length > 50)
    assert(b.sameElements(j))
  }

  test("d48 scan path: Aho-Corasick hits == broadcast contains hits (fixture)") {
    import spark.implicits._
    val (train, needles) = DedupQueries.d48Inputs(spark, "/root/testdata/sf0.001")
    val b = DedupQueries.substringHitsBroadcast(train, needles)
      .orderBy("doc_id").collect().map(_.getLong(0))
    val s = DedupQueries.substringHitsScan(train, needles)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(b.nonEmpty, "fixture must produce hits or the pin is vacuous")
    assert(s.sameElements(b))
    // non-token-boundary + overlapping-pattern cases: fail links must
    // carry a hit that a naive trie restart would drop ("ababc" inside
    // "xababcy" requires following the fail chain from the 'abab' state)
    val train2 = Seq(
      (1L, "srcA", "xababcy"), (2L, "srcA", "ababab"),
      (3L, "srcA", "no such thing"), (4L, "srcA", "ends with bc"),
      (5L, "srcA", "")).toDF("doc_id", "source", "text")
    val needles2 = Seq("ababc", "bc ").toDF("needle")
    val b2 = DedupQueries.substringHitsBroadcast(train2, needles2)
      .orderBy("doc_id").collect().map(_.getLong(0))
    val s2 = DedupQueries.substringHitsScan(train2, needles2)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(b2.toSeq == Seq(1L))
    assert(s2.sameElements(b2))
  }

  test("topKPerQuery == row_number window (ties, NaN, long scores, multi-partition)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 97 distinct scores over 5k rows/query → ~51-deep tie classes broken
    // by vec_id; one NaN (sorts FIRST under desc, Spark's NaN-greatest);
    // 16 input partitions exercise the local-heap merge
    val rows = for (q <- 0L until 4L; i <- 1L to 5000L) yield
      (q, i, if (i == 17L && q == 2L) Double.NaN
             else ((i * 2654435761L) % 97L).toDouble)
    val df = rows.toDF("q_id", "vec_id", "cosine").repartition(16)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    val expect = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).orderBy("q_id", "rank").collect()
    val got = graft.queries.VectorQueries
      .topKPerQuery(df, 3, "q_id", "cosine", "vec_id")
      .orderBy("q_id", "rank").collect()
    assert(expect.length == 12)
    assert(got.map(_.toString).sameElements(expect.map(_.toString)))
    // integral score path (d43's int8 dot ranks on a LONG column)
    val dfl = df.filter(!isnan(col("cosine")))
      .withColumn("qdot", col("cosine").cast("long")).drop("cosine")
    val wl = Window.partitionBy("q_id").orderBy(col("qdot").desc, col("vec_id"))
    val el = dfl.withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= 2).orderBy("q_id", "rank").collect()
    val gl = graft.queries.VectorQueries
      .topKPerQuery(dfl, 2, "q_id", "qdot", "vec_id")
      .orderBy("q_id", "rank").collect()
    assert(gl.map(_.toString).sameElements(el.map(_.toString)))
  }

  test("topKPerQuery: -0.0 ties +0.0 like Spark's sort — tie column decides") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Spark's double order (nanSafeCompareDoubles) ties the two zeros, so
    // the window ranks vec_id=3 (-0.0) above vec_id=5 (+0.0); a heap
    // comparing via java.lang.Double.compare would evict vec_id=3 locally
    // and return the wrong row
    val df = Seq((0L, 3L, -0.0), (0L, 5L, 0.0), (0L, 7L, -1.0))
      .toDF("q_id", "vec_id", "cosine").coalesce(1)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    val expect = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 1).collect()
    val got = graft.queries.VectorQueries
      .topKPerQuery(df, 1, "q_id", "cosine", "vec_id").collect()
    assert(expect.head.getLong(1) == 3L)
    assert(got.map(_.toString).sameElements(expect.map(_.toString)))
  }

  test("q34 selection plan == window plan (fixtures)") {
    import graft.queries.RelationalQueries2._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ds = ntileDistInput(spark, dir)
      val stats = graft.queries.GroupedTopK.groupStats(ds)
      val w = ntileDistWindow(spark, dir).collect()
      val sel = ntileDistSelect(spark, ds, stats).collect()
      assert(w.nonEmpty)
      assert(sel.map(_.toString).sameElements(w.map(_.toString)), s"diverged on $dir")
    }
  }

  test("GroupedTopK.kthLargest: exact under heavy ties (key-phase) and tiny groups") {
    import spark.implicits._
    // group 0: 10k rows over only 3 distinct prices — the k-th element
    // sits inside a tie class, finishing via the collect path's
    // (ord DESC, key ASC) sort; group 1: a single row (k = n = 1);
    // group 2: 100k rows of ONE price — the tie class exceeds the collect
    // limit, forcing the key-dimension histogram refinement.
    val rows =
      (1L to 10000L).map(k => (0, (k % 3).toDouble, k)) ++
      Seq((1, 42.0, 1L)) ++
      (1L to 100000L).map(k => (2, 7.0, k))
    val ds = rows.toDS()
    val kBy = Map(0 -> 1234L, 1 -> 1L, 2 -> 70000L)
    val got = graft.queries.GroupedTopK.kthLargest(ds, kBy)
    def oracle(g: Int): (Double, Long) = {
      val sorted = rows.filter(_._1 == g)
        .sortBy { case (_, o, k) => (-o, k) }
      val (_, o, k) = sorted((kBy(g) - 1).toInt)
      (o, k)
    }
    for (g <- kBy.keys) assert(got(g) == oracle(g), s"group $g")
  }

  test("GroupedTopK: -0.0 ties +0.0 (key decides); duplicate keys fail loudly") {
    import spark.implicits._
    // zeros tie under Spark's sort: the k=2 threshold must be the LOWER
    // key of the tie class (3, carrying -0.0), not the +0.0 row
    val ds = Seq((0, -0.0, 3L), (0, 0.0, 5L), (0, 1.0, 1L)).toDS()
    val (o, k) = graft.queries.GroupedTopK.kthLargest(ds, Map(0 -> 2L))(0)
    assert(o == 0.0 && k == 3L)
    // a duplicate (ord, key) pair inside the collected band corrupts the
    // threshold silently unless checked — must throw, not over-select
    val dup = Seq((0, 1.0, 5L), (0, 1.0, 5L), (0, 2.0, 1L)).toDS()
    val e = intercept[IllegalArgumentException] {
      graft.queries.GroupedTopK.kthLargest(dup, Map(0 -> 2L))
    }
    assert(e.getMessage.contains("key not unique"))
  }

  test("q34: empty orders table takes the window plan and returns empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q34-empty").toString
    Seq.empty[(Long, java.sql.Date, Double)]
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = graft.queries.RelationalQueries2.queries("q34_ntile_dist")(spark, dir)
    assert(out.collect().isEmpty)
  }

  test("d48 scan path: empty needle means contains('') — all three paths agree") {
    import spark.implicits._
    // doc 3 has NULL text: SQL contains(null, '') is null, never true, so
    // every path must exclude it — matching the broadcast oracle exactly
    val train = Seq((1L, "srcA", "anything"), (2L, "srcB", ""),
        (3L, "srcC", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val needles = Seq("", "zzz-not-present").toDF("needle")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids(DedupQueries.substringHitsBroadcast(train, needles)) == Seq(1L, 2L))
    assert(ids(DedupQueries.substringHitsScan(train, needles)) == Seq(1L, 2L))
    assert(ids(DedupQueries.substringHitsIndexed(train, needles)) == Seq(1L, 2L))
  }
}
