package graft

import java.time.LocalDateTime

import graft.api.GraftEngine
import graft.graph.{GraphLoader, GraphRunner}

/** The runner's one scheduling loop as its callers see it: `runDue`
  * sweeps on every tick, and forced runs (the triggered node, the
  * cron-due nodes) neither count toward `maxSteps` nor consume a pending
  * rerun request.
  */
class GraphSchedulingSpec extends SparkSpec {
  import spark.implicits._

  private val notDue = LocalDateTime.of(2026, 8, 14, 9, 6)
  private val due = LocalDateTime.of(2026, 8, 14, 9, 5)

  test("runDue sweeps on every tick: a pending rerun fires with no cron node due") {
    val yaml =
      """functions:
        |  - node_file: req
        |    id: rq000000
        |    outputs: {out: r_out}
        |  - node_file: cron
        |    id: cr000000
        |    trigger: "5 * * * *"
        |    outputs: {out: c_out}
        |""".stripMargin
    var reqRuns = 0
    var cronRuns = 0
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), freshRoot())
      .register("req", eng => {
        reqRuns += 1
        if (reqRuns == 1) eng.state.requestNewRun()
      })
      .register("cron", _ => cronRuns += 1)
    runner.runNode("rq000000")
    assert(reqRuns == 1, "runNode starts no sweep")
    assert(runner.runDue(notDue) == Seq.empty)
    assert(reqRuns == 2, "the tick's sweep runs the pending request once")
    assert(cronRuns == 0)
    assert(runner.runDue(notDue) == Seq.empty)
    assert(reqRuns == 2, "a satisfied request does not re-fire")
  }

  test("forced runs ignore maxSteps and leave a pending rerun request in place") {
    val yaml =
      """functions:
        |  - node_file: c1
        |    id: c1000000
        |    trigger: "5 * * * *"
        |    outputs: {out: o1}
        |  - node_file: c2
        |    id: c2000000
        |    trigger: "5 * * * *"
        |    outputs: {out: o2}
        |  - node_file: cons
        |    id: cs000000
        |    inputs: {in: o1}
        |    outputs: {}
        |  - node_file: req
        |    id: rq000000
        |    outputs: {}
        |""".stripMargin
    val root = freshRoot()
    var consRuns = 0
    var reqRuns = 0
    val runner = new GraphRunner(spark, GraphLoader.parse(yaml), root)
      .register("c1", eng => eng.table("out", "w").append(Seq((1L, "a")).toDF("id", "v")))
      .register("c2", eng => eng.table("out", "w").append(Seq((2L, "b")).toDF("id", "v")))
      .register("cons", _ => consRuns += 1)
      .register("req", eng => {
        reqRuns += 1
        if (reqRuns == 1) eng.state.requestNewRun()
      })
    // maxSteps = 0 bounds the sweep only: every due node still runs
    assert(runner.runDue(due, maxSteps = 0).toSet == Set("c1000000", "c2000000"))
    val probe = new GraftEngine(spark, root, "probe")
    assert(probe.table("o1").read.count() == 1 && probe.table("o2").read.count() == 1)
    assert(consRuns == 0, "maxSteps = 0 sweeps nothing")
    // the consumer's unconsumed event keeps it eligible for the next tick
    assert(runner.runDue(notDue) == Seq.empty)
    assert(consRuns == 1)

    runner.runNode("rq000000")
    assert(reqRuns == 1)
    // the forced run leaves the due request pending; the sweep then runs it
    runner.trigger("rq000000")
    assert(reqRuns == 3, "a trigger runs the node, then its pending request")
    runner.trigger("rq000000")
    assert(reqRuns == 4, "the request was satisfied once")
  }
}
