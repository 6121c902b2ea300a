package perfbench

import java.util.Properties

import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.RunStats

class HelpersSpec extends AnyFunSuite {

  // ---- the tail rule: the highest percentile with >= 10 samples beyond

  test("tail picks the highest ladder percentile with ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.tail(xs).contains(Stats.Tail(95.0, 190.0, 200)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_.pct).contains(90.0))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_.pct).contains(99.0))
    assert(Stats.tail((1 to 10000).map(_.toDouble)).map(_.pct).contains(99.9))
  }

  test("tail needs ten samples beyond even the median") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble))
      .contains(Stats.Tail(50.0, 10.0, 20)))
  }

  test("tail ignores sample order and median averages the middle pair") {
    val xs = scala.util.Random.shuffle((1 to 200).map(_.toDouble))
    assert(Stats.tail(xs).map(_.value).contains(190.0))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  // ---- generator lateness and freshness accounting

  private def pass(startMs: Long, endMs: Long) =
    PassRec(RunStats(0, 0, 0, 0, 0, 0, 0, 0, 0), startMs * 1000000L,
      endMs * 1000000L, Ledger.Empty, Vector.empty, 0L)
  private def ev(idx: Int, path: String, kind: Char, schedMs: Long,
      doneMs: Long, deferred: Boolean = false) =
    LiveEdits.Event(idx, LiveEdits.Op(schedMs.toDouble, kind, path, 1),
      schedMs * 1000000L, doneMs * 1000000L, deferred)

  test("freshness runs from a change's scheduled time to its flush's commit") {
    val log = Seq(
      ev(0, "a", 'e', 100, 101),
      ev(1, "b", 'e', 200, 230),
      // applied after flush 0's re-stat: flush 1 covers it
      ev(2, "a", 'e', 1100, 1100),
      // scheduled while its file was in flight, applied at the commit
      ev(3, "b", 'e', 1200, 2000, deferred = true))
    val flushes = Seq(
      LiveEdits.Flush(0, 2, Set("a", "b"), pass(1000, 2000)),
      LiveEdits.Flush(1, 4, Set("a", "b"), pass(2000, 3500)))
    val acc = LiveEdits.account(log, flushes)
    assert(acc.freshMs == Seq(1900.0, 1800.0, 2400.0, 2300.0))
    assert(acc.waitMs == Seq(900.0, 800.0, 900.0, 800.0))
    assert(acc.perFlush == Seq(2, 2))
    assert(acc.uncovered.isEmpty)
    // lateness counts only changes applied on schedule
    assert(acc.lateP99Ms == 30.0)
  }

  test("a change no flush's batch holds is reported uncovered") {
    val log = Seq(ev(0, "a", 'e', 100, 100), ev(1, "c", 'a', 150, 150))
    val flushes = Seq(LiveEdits.Flush(0, 2, Set("a"), pass(1000, 2000)))
    assert(LiveEdits.account(log, flushes).uncovered.map(_.idx) == Seq(1))
  }

  test("expected counts follow each key's changes since its previous re-stat") {
    val initial = Set("a", "b", "c")
    val log = Seq(
      ev(0, "a", 'e', 0, 0), ev(1, "b", 'd', 0, 0), ev(2, "n", 'a', 0, 0),
      // between flush 0's drain and its re-stat: seen by flush 0, queued
      // again for flush 1, where "a" is then unchanged
      ev(3, "a", 'e', 0, 0),
      ev(4, "c", 'e', 0, 0), ev(5, "n", 'd', 0, 0))
    val flushes = Seq(
      LiveEdits.Flush(0, 4, Set("a", "b", "n"), pass(0, 1)),
      LiveEdits.Flush(1, 6, Set("a", "c", "n"), pass(1, 2)))
    assert(LiveEdits.expectedCounts(initial, log, flushes) ==
      Seq((2L, 1L), (1L, 1L)))
  }

  // ---- job attribution

  test("call-site files map to layers") {
    assert(Attribution.layerOfFile("Flow.scala").contains("flow"))
    assert(Attribution.layerOfFile("StateStore.scala").contains("state"))
    assert(Attribution.layerOfFile("PgTarget.scala").contains("target"))
    assert(Attribution.layerOfFile("Source.scala").contains("source"))
    assert(Attribution.layerOfFile("Dedup.scala").contains("nightly"))
    assert(Attribution.layerOfFile("ThreadPoolExecutor.java").isEmpty)
    assert(Attribution.callSiteFiles("collect at Flow.scala:827",
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.engine.StateStore.read(StateStore.scala:92)") ==
      Seq("Flow.scala", "Dataset.scala", "StateStore.scala"))
  }

  private def props(kv: (String, String)*) = {
    val p = new Properties
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
  private def job(l: Ledger, id: Int, site: String, p: Properties): Unit = {
    val stage = new StageInfo(id, 0, site, 1, Nil, Nil, "", resourceProfileId = 0)
    l.onJobStart(SparkListenerJobStart(id, id * 10L, Seq(stage), p))
    l.onJobEnd(SparkListenerJobEnd(id, id * 10L + 5, JobSucceeded))
  }

  test("attribution rules apply in order and every job lands in one layer") {
    val l = new Ledger(() => ())
    // rule 3 resolves an adaptive stage job from its execution's later job
    job(l, 0, "run at ThreadPoolExecutor.java:1",
      props("spark.sql.execution.id" -> "7"))
    job(l, 1, "collect at Flow.scala:827", props("spark.sql.execution.id" -> "7"))
    // rule 1 beats rule 2
    job(l, 2, "collect at Flow.scala:1", props(Attribution.LayerProperty -> "target"))
    job(l, 3, "parquet at StateStore.scala:345", props())
    // rule 4, then rule 5
    job(l, 4, "run at Foo.java:1", props(Attribution.PhaseProperty -> "admit"))
    job(l, 5, "run at Foo.java:1", props())
    // rule 3 also reads the call site that started the execution
    l.onOtherEvent(org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart(
      8L, None, "parquet at StateStore.scala:345", "", "", null, 0L))
    job(l, 6, "run at ThreadPoolExecutor.java:1",
      props("spark.sql.execution.id" -> "8"))
    assert(l.records().map(_.layer) ==
      Seq("flow", "flow", "target", "state", "nightly", "other", "state"))
    val all = l.all()
    assert(all.jobs == 7 && all.attributed == all.jobs)
    assert(all.byPhase == Map("admit" -> (1, 5L)))
  }

  test("busy time is the union of job intervals") {
    assert(Ledger.busyMs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Ledger.busyMs(Nil) == 0L)
  }

  // ---- the oracle diff

  test("the oracle diff catches a planted mismatch of any kind") {
    val want = (Pipeline.expected("d1", "Alpha beta gamma. " * 300) ++
      Pipeline.expected("d2", "Delta epsilon. " * 200)).toMap
    assert(Pipeline.diffItems(want, want).isEmpty)
    val k = want.keys.filter(_.startsWith("d1#")).min
    val (t, v) = want(k)
    assert(Pipeline.diffItems(want, want.updated(k, (t + "x", v))) == Set("d1"))
    assert(Pipeline.diffItems(want,
      want.updated(k, (t, v.updated(0, v(0) + 0.01f)))) == Set("d1"))
    assert(Pipeline.diffItems(want, want - k) == Set("d1"))
    assert(Pipeline.diffItems(want, want + ("d2#99" -> (t, v))) == Set("d2"))
  }

  // ---- the catalogue and the result line

  test("the catalogue matches BENCHMARK.json") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.isFile, "BENCHMARK.json sits at the root of the checkout")
    val spec = parse(scala.io.Source.fromFile(f, "UTF-8").mkString)
    def metrics(key: String) = (spec \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    assert(metrics("end_to_end") == Catalogue.EndToEnd)
    assert(metrics("per_layer") == Catalogue.PerLayer)
    assert((spec \ "workloads").children.map(w => (w \ "name").values.toString)
      .toSet == Main.Workloads.keySet)
  }

  test("the result line fits the 2,000-character tail at any value") {
    for (names <- Seq(Catalogue.EndToEnd, Catalogue.PerLayer)) {
      val widest = names.map { case (k, u) => k -> Metric(-1.2345678901234567e-10, u) }
        .to(scala.collection.immutable.ListMap)
      val line = Json(Map("correct" -> false, "attempted" -> Long.MaxValue,
        "failed" -> Long.MaxValue, "metrics" -> widest))
      assert(line.length < 2000, s"${line.length} characters")
    }
  }
}
