package graft.queries

import graft.SparkSpec

import org.apache.spark.sql.functions.col

/** `Q.spread` guards and repartitions on ONE width, [[Q.exchangeWidth]]:
  * a frame narrower than the session's exchange width is spread to exactly
  * that width, and a frame at least that wide is returned untouched.
  */
class SpreadSpec extends SparkSpec {

  test("spread widens to exchangeWidth when shuffle.partitions exceeds the cores") {
    // same local[4] context, session-local conf: exchangeWidth = max(4, 8)
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "8")
    assert(Q.exchangeWidth(wide) == 8)
    val five = wide.range(0L, 100L, 1L, 5).toDF()
    assert(five.rdd.getNumPartitions == 5)
    assert(Q.spread(five, col("id")).rdd.getNumPartitions == 8)
    val eight = wide.range(0L, 100L, 1L, 8).toDF()
    assert(Q.spread(eight, col("id")) eq eight)
    // the shared session sets shuffle.partitions = cores = 4: the same
    // 5-partition frame is already wide enough there
    val local = spark.range(0L, 100L, 1L, 5).toDF()
    assert(Q.spread(local, col("id")) eq local)
  }
}
