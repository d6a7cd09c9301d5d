package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions._
import graft.queries.{VectorKernels, VectorQueries}

/** Broadcast argmax kernel ([[graft.queries.VectorKernels]]) equality pins:
  * every kernel path must be BIT-IDENTICAL to the join formulation it
  * replaces, on corpora that exercise the contract edges — zero-norm
  * vectors (NaN cosines, NaN-greatest ranking), duplicate vectors (cosine
  * ties broken by lowest id), ragged dims (float_dot's NULL contract and
  * the all-NULL fallback pick), and multi-group corpora.
  */
class Round8KernelSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-vector: integer-hash components in [-0.5, 0.5).
    * No RNG object — reproducible across runs and engines.
    */
  private def vec(i: Long, dim: Int): Array[Float] =
    Array.tabulate(dim) { k =>
      val h = (i * 31 + k) * 2654435761L % 1000L
      ((if (h < 0) h + 1000 else h) / 1000.0f) - 0.5f
    }

  /** Edge corpus: mostly 4-d vectors, with (a) an all-zero train vector
    * (NaN cosine against everything), (b) an exact duplicate pair (tie on
    * cosine, id decides), (c) one ragged 3-d train row and one ragged
    * eval row (NULL dots).
    */
  private def edgeTrainEval(): (DataFrame, DataFrame) = {
    val train = (0L until 200L).map { i =>
      val e =
        if (i == 7) Array(0f, 0f, 0f, 0f) // zero norm
        else if (i == 11) vec(5, 4) // duplicate of id 5
        else if (i == 13) vec(13, 3) // ragged
        else vec(i, 4)
      (i, e)
    }
    val ev = (1000L until 1040L).map { i =>
      val e =
        if (i == 1003) Array(0f, 0f, 0f, 0f) // zero-norm eval
        else if (i == 1005) vec(17, 3) // ragged eval
        else vec(i, 4)
      (i, e)
    }
    val tr = train.toDF("train_id", "embedding")
      .select(col("train_id"), col("embedding").as("te"),
        l2norm(col("embedding")).as("tn"))
    val evd = ev.toDF("eval_id", "embedding")
      .select(col("eval_id"), col("embedding").as("qe"),
        l2norm(col("embedding")).as("qn"))
    graft.functions.FloatDotProduct.register(spark)
    (tr, evd)
  }

  private def nnRows(df: DataFrame): Seq[(Long, Long, Option[Double])] =
    df.orderBy("eval_id").collect().toSeq.map { r =>
      (r.getLong(r.fieldIndex("eval_id")),
        r.getLong(r.fieldIndex("train_id")),
        if (r.isNullAt(r.fieldIndex("cosine"))) None
        else Some(r.getDouble(r.fieldIndex("cosine"))))
    }

  // Option[Double] equality that treats NaN == NaN (bit-identity check)
  private def sameNN(a: Seq[(Long, Long, Option[Double])],
      b: Seq[(Long, Long, Option[Double])]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((e1, t1, c1), (e2, t2, c2)) =>
      e1 == e2 && t1 == t2 && ((c1, c2) match {
        case (None, None) => true
        case (Some(x), Some(y)) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y)
        case _ => false
      })
    }

  test("exact NN kernel == broadcast == replicated on the edge corpus") {
    val (tr, ev) = edgeTrainEval()
    val k = nnRows(VectorQueries.nearestTrainKernel(tr, ev))
    val b = nnRows(VectorQueries.nearestTrainBroadcast(tr, ev))
    val r = nnRows(VectorQueries.nearestTrainReplicated(tr, ev, fragments = 5))
    assert(k.nonEmpty)
    assert(sameNN(k, b), s"kernel vs broadcast:\n$k\n$b")
    assert(sameNN(k, r), "kernel vs replicated")
    // the zero-norm eval got a NaN-cosine answer with the LOWEST train id
    // (every cosine NaN ⇒ all tie ⇒ id decides)
    val z = k.find(_._1 == 1003L).get
    assert(z._3.exists(_.isNaN) && z._2 == 0L)
    // the ragged eval matches nothing dim-wise except the ragged train row
    val rg = k.find(_._1 == 1005L).get
    assert(rg._2 == 13L && rg._3.isDefined)
  }

  test("exact NN kernel == broadcast on fixture embeddings (sf0.01)") {
    val (tr, ev) = VectorQueries.d32Inputs(spark, "/root/testdata/sf0.01")
    val k = nnRows(VectorQueries.nearestTrainKernel(tr, ev))
    val b = nnRows(VectorQueries.nearestTrainBroadcast(tr, ev))
    assert(k.nonEmpty && sameNN(k, b))
  }

  test("IVF kernel == IVF join, default and exhaustive nprobe (edge + fixture)") {
    val (tr, ev) = edgeTrainEval()
    for (np <- Seq(1, 2, 1000)) {
      val k = nnRows(VectorQueries.nearestTrainIvf(tr, ev, nprobe = np))
      val j = nnRows(VectorQueries.nearestTrainIvfJoin(tr, ev, nprobe = np))
      assert(sameNN(k, j), s"nprobe=$np kernel vs join:\n$k\n$j")
    }
    // exhaustive probing degenerates to the exact search
    val ex = nnRows(VectorQueries.nearestTrainIvf(tr, ev, nprobe = 1000))
    val b = nnRows(VectorQueries.nearestTrainBroadcast(tr, ev))
    assert(sameNN(ex, b))
    val (ftr, fev) = VectorQueries.d32Inputs(spark, "/root/testdata/sf0.01")
    val fk = nnRows(VectorQueries.nearestTrainIvf(ftr, fev))
    val fj = nnRows(VectorQueries.nearestTrainIvfJoin(ftr, fev))
    assert(fk.nonEmpty && sameNN(fk, fj))
    // every eval answered, kernel path (the liveness contract)
    assert(fk.map(_._1).distinct.length ==
      fev.select("eval_id").distinct().count())
  }

  test("assignProbes top-1 == crossJoin max(struct) on ties/zero-norm/ragged") {
    val (tr, _) = edgeTrainEval()
    // probes: include the duplicate pair (5, 11 have identical vectors →
    // equal cosines everywhere → lowest probe id must win) and a ragged
    // probe
    val cent = tr.filter(col("train_id").isin(5L, 11L, 13L, 7L, 20L, 40L))
      .select(col("train_id").as("c_id"), col("te").as("ce"),
        col("tn").as("cn"))
    val ps = VectorKernels.collectProbes(
      VectorKernels.probeFrame(cent, col("c_id"), col("cn"), col("ce")))
    val kern = VectorKernels.assignProbes(
        tr.select("train_id", "te", "tn"), ps, "te", "tn", None, "cell")
      .select("train_id", "cell").as[(Long, Long)].collect().sortBy(_._1)
    val join = tr.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        cosineWithNorms(dot(col("te"), col("ce")), col("tn"), col("cn")))
      .groupBy("train_id")
      .agg(max(struct(col("c_cos"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("train_id"), (-col("best.nc")).as("cell"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(kern.nonEmpty && kern.sameElements(join))
  }

  test("assignProbes top-p == window ranking on ties/zero-norm/ragged") {
    val (tr, _) = edgeTrainEval()
    val cent = tr.filter(col("train_id").isin(5L, 11L, 13L, 7L, 20L, 40L))
      .select(col("train_id").as("c_id"), col("te").as("ce"),
        col("tn").as("cn"))
    val ps = VectorKernels.collectProbes(
      VectorKernels.probeFrame(cent, col("c_id"), col("cn"), col("ce")))
    val p = 3
    val kern = VectorKernels.assignProbes(
        tr.select("train_id", "te", "tn"), ps, "te", "tn", None, "cells", p)
      .select(col("train_id"), posexplode(col("cells")).as(Seq("rk", "cell")))
      .select("train_id", "rk", "cell")
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("train_id").orderBy(col("c_cos").desc, col("c_id"))
    val join = tr.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        cosineWithNorms(dot(col("te"), col("ce")), col("tn"), col("cn")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= p)
      .select(col("train_id"), (col("pr") - 1).as("rk"), col("c_id").as("cell"))
      .as[(Long, Int, Long)].collect().sortBy(t => (t._1, t._2))
    assert(kern.nonEmpty && kern.sameElements(join))
  }

  test("d06 kernel cell assignment == join formulation (sf0.01)") {
    graft.functions.FloatDotProduct.register(spark)
    val v = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))
    val n = v.count()
    val mod = 200L * math.max(1L, math.ceil(math.sqrt(n / 2000.0)).toLong)
    val cent = v.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        col("nrm").as("cn"))
    val ps = VectorKernels.collectProbes(
      VectorKernels.probeFrame(cent, col("c_id"), col("cn"), col("ce")))
    val kern = VectorKernels.assignProbes(
        v.select("vec_id", "embedding", "nrm"), ps, "embedding", "nrm",
        None, "cell")
      .select("vec_id", "cell").as[(Long, Long)].collect().sortBy(_._1)
    val join = v.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        cosineWithNorms(dot(col("embedding"), col("ce")), col("nrm"), col("cn")))
      .groupBy("vec_id")
      .agg(max(struct(col("c_cos"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("vec_id"), (-col("best.nc")).as("cell"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(kern.length == n && kern.sameElements(join))
  }

  test("d58 bucket kernel == band self-join (fixture + hot-bucket corpus)") {
    import graft.queries.DedupQueries
    def pairs(df: DataFrame): Seq[(Long, Long, Int)] =
      df.orderBy("da", "db").as[(Long, Long, Int)].collect().toSeq
    // seeded corpus with a HOT bucket: 30 identical signatures (every
    // pair Hamming 0, all four bands agree → 4 copies per pair collapse
    // in the distinct), plus near-misses at distance 1-4 and randoms
    val sigs = (0L until 30L).map(i => (i, 0x0FAB12345678CDEFL)) ++
      (30L until 40L).map(i =>
        (i, 0x0FAB12345678CDEFL ^ (1L << ((i * 7) % 60)))) ++ // dist 1
      (40L until 50L).map { i =>
        val flips = (0 until 4).map(k => 1L << ((i * 11 + k * 13) % 60))
        (i, flips.foldLeft(0x0FAB12345678CDEFL)(_ ^ _)) // dist ≤ 4
      } ++
      (50L until 120L).map(i => (i, i * 0x9E3779B97F4A7C15L & 0x0FFFFFFFFFFFFFFFL))
    val sim = sigs.toDF("doc_id", "simhash")
    val banded = DedupQueries.bandedSimhash(sim)
    val k = pairs(DedupQueries.simhashBandPairsBucketed(spark, banded))
    val j = pairs(DedupQueries.simhashBandPairsJoin(banded))
    assert(k.nonEmpty && k == j)
    // the hot bucket's full clique survived
    assert(k.count { case (a, b, h) => a < 30 && b < 30 && h == 0 } ==
      30 * 29 / 2)
  }

  test("int8_quantize == composed HOF quantizer (edges: NaN, zero, null, empty)") {
    graft.functions.Int8Quantize.register(spark)
    val f = java.lang.Float.valueOf(_: Float)
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      1L -> Seq(f(0.5f), f(-1.25f), f(0.75f)),
      2L -> Seq(f(0f), f(0f), f(0f)), // zero norm → scl 0 → all 0
      3L -> Seq(f(Float.NaN), f(1f), f(-2f)), // NaN poisons scl
      4L -> Seq(f(-127.5f), f(63.25f)),
      5L -> Seq(null, f(2f), null), // null elements skipped/preserved
      6L -> Seq.empty[java.lang.Float],
      7L -> Seq[java.lang.Float](null, null), // all-null → maxabs NULL → scl 0
      8L -> (0 until 64).map(k => f((k - 32) / 7.0f)))
    val df = rows.toDF("id", "embedding")
      .select(col("id"), col("embedding").cast(ArrayType(FloatType, true)).as("embedding"))
    val maxabs = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    val hof = df
      .withColumn("scl",
        when(maxabs > 0.0, lit(127.0) / maxabs).otherwise(lit(0.0)))
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast("double") * col("scl") + 0.5).cast("float")))
      .select("id", "q").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[java.lang.Float](1)))
    val kern = df
      .withColumn("q", call_function("int8_quantize", col("embedding")))
      .select("id", "q").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[java.lang.Float](1)))
    assert(kern.length == hof.length)
    kern.zip(hof).foreach { case ((ik, qk), (ih, qh)) =>
      assert(ik == ih)
      assert(qk.length == qh.length, s"id=$ik")
      qk.zip(qh).foreach { case (a, b) =>
        val same = (a == null && b == null) || (a != null && b != null &&
          java.lang.Float.floatToIntBits(a) == java.lang.Float.floatToIntBits(b))
        assert(same, s"id=$ik: $a vs $b")
      }
    }
    // interpreted eval agrees with codegen (the DataFrame path above)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val lit4 = Literal.create(Array(-127.5f, 63.25f), ArrayType(FloatType, false))
    val ev = graft.functions.Int8Quantize(lit4).eval(null)
      .asInstanceOf[ArrayData].toFloatArray()
    assert(ev.toSeq == Seq(-127.0f, 63.0f))
    // codegen COMPILES (fallback=false makes a Janino error fatal instead
    // of a silent interpreted fallback), over the parquet scan shape
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.fallback", "false")
    graft.functions.Int8Quantize.register(s2)
    val p = s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "int8_quantize(embedding) AS q")
    assert(p.collect().nonEmpty)
    // the `*(1)` star is the WholeStageCodegen marker in this string form
    assert(p.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }

  test("d57 kernel (excludeSelf) == crossJoin+topK formulation (sf0.01)") {
    graft.functions.FloatDotProduct.register(spark)
    val v = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))
    val probes = v.filter(col("vec_id") < 200)
      .select(col("vec_id").as("p_id"), col("label").as("p_label"),
        col("embedding").as("pe"), col("nrm").as("pn"))
    val scored = v.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("p_id"))
      .withColumn("cosine",
        cosineWithNorms(dot(col("embedding"), col("pe")), col("nrm"), col("pn")))
      .select("p_id", "vec_id", "cosine")
    val join = VectorQueries.topKPerQuery(scored, 1, "p_id", "cosine", "vec_id")
      .select(col("p_id").as("probe_id"), col("vec_id").as("corpus_id"),
        col("cosine"))
      .orderBy("probe_id")
      .as[(Long, Long, Double)].collect().toSeq
    val ps = VectorKernels.collectProbes(VectorKernels.probeFrame(
      v.filter(col("vec_id") < 200), col("vec_id"), col("nrm"),
      col("embedding")))
    val kern = VectorKernels.bestRowPerProbe(spark,
        v.select(lit(0L).as("gkey"), col("vec_id").as("id"),
          col("nrm").as("nrm"), col("embedding").as("vec")),
        ps, excludeSelf = true)
      .orderBy("probe_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(kern.nonEmpty && kern == join)
  }

  test("d32 full query unchanged by the kernel rewiring (sf0.001 smoke)") {
    val df = SparkEntry.queries("d32_semantic_decontamination")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // exact path at this SF: audit columns are the constant exact-branch
    // values
    assert(rows.forall(r => !r.getBoolean(r.fieldIndex("recall_audited"))))
  }
}
