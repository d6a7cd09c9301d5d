package graft.perfbench

import graft.SparkEntry

/** Checks of the harness itself, run by `run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private def expect(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  def run(): Unit = {
    val shape = App.trickle.copy(batches = 12)
    expect("the same seed gives the same batches") {
      EventGen.batches(7L, shape) == EventGen.batches(7L, shape)
    }
    expect("another seed gives different batches of the same size") {
      val (a, b) = (EventGen.batches(7L, shape), EventGen.batches(8L, shape))
      a != b && a.map(_.size) == b.map(_.size)
    }
    expect("batches carry re-deliveries: fewer distinct ids than events") {
      val bs = EventGen.batches(7L, shape)
      EventGen.distinct(bs).size < bs.map(_.size).sum
    }
    expect("the fold counts a re-delivered event once") {
      val e = Event(1L, 5L, "click", 10L)
      val d = EventGen.distinct(Seq(Seq(e), Seq(e, Event(2L, 5L, "view", 3L))))
      EventGen.totals(d.values) == Map(5L -> ((2L, 13L)))
    }
    expect("the median of an even count is the mean of the middle two") {
      Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5
    }
    expect("the family map covers each selected entry exactly once") {
      val r = Battery.resolve(SparkEntry.queries.keySet)
      val n = Battery.families.size
      r.size == n && r.map(_._2).distinct.size == n && r.map(_._1).distinct.size == n &&
        Battery.families.map(_._2).toSet == Battery.familyNames.toSet
    }
    expect("a thrown op and a failed check both count as failed") {
      val fp = Fingerprint(3L, 99L)
      val warm = Map("x" -> fp)
      val samples = Seq(
        Battery.Sample(1, "x", 0.1, Some(fp), None),
        Battery.Sample(1, "x", 0.1, None, Some("boom")),
        Battery.Sample(2, "x", 0.1, Some(Fingerprint(3L, 98L)), None))
      val rounds = Seq(App.Round(Seq(0.1, 0.2), Map.empty, None),
        App.Round(Seq(0.1), Map.empty, Some("threw")),
        App.Round(Seq(0.1, 0.2, 0.3), Map.empty, Some("check failed")))
      Battery.failures(samples, warm).size == 2 && App.failedOps(rounds) == 4
    }
    expect("self time subtracts the union of child spans") {
      val p = Span(1, 0, "op", "o", 0.0, 1000.0)
      val kids = Seq(Span(2, 1, "a", "o", 100.0, 400.0), Span(3, 1, "b", "o", 300.0, 500.0))
      math.abs(Trace.selfSeconds(p, kids) - 0.6) < 1e-9
    }
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
