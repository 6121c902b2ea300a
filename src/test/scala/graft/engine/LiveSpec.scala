package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** Live-surface contracts: the per-subpath operator protocol
  * (reference LiveComponentOperator, live_component.py:206-405), the
  * stats watch handle (update_stats.py), and the in-memory LiveMap
  * hand-off (live_map.py:218-280).
  */
class LiveSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def write(dir: Path, rel: String, text: String): Unit = {
    val f = dir.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))
  }

  private def upperStage = CocoFn("upper", 1, fn = df =>
    df.select(col("item_key"),
      concat(col("item_key"), lit("#0")).as("row_key"),
      upper(Source.textOf(col("content"))).as("text")))

  test("operator: update/delete are coalesced latest-wins and flush as one catch-up") {
    val (src, tgt, st) = (tmpDir("op-src"), tmpDir("op-tgt"), tmpDir("op-st"))
    write(src, "a.md", "alpha")
    write(src, "b.md", "bravo")
    val flow = new Flow("op", LocalFsSource(src.toString, Seq("**.md")),
      Seq(upperStage), ParquetTableTarget(tgt.toString, 2), st.toString)
    val op = flow.operator(spark)

    assert(op.updateFull().recomputed == 2)
    assert(!op.ready); op.markReady(); assert(op.ready)

    // update the same subpath three times with successive edits: the
    // flush runs ONCE against the LATEST state (queued/coalesced)
    write(src, "a.md", "v1"); op.update("a.md")
    write(src, "a.md", "v2"); op.update("a.md")
    write(src, "a.md", "v3-final"); op.update("a.md")
    assert(op.pendingSubpaths == Set("a.md"))
    val r = op.flush()
    assert(r.recomputed == 1 && r.unchanged == 1, s"$r")
    assert(flow.target.read(spark).filter(col("item_key") === "a.md")
      .select("text").first.getString(0) == "V3-FINAL")

    // delete shares the path: a flushed subpath whose item vanished is
    // GC'd; an empty flush does nothing at all
    Files.delete(src.resolve("b.md")); op.delete("b.md")
    val r2 = op.flush()
    assert(r2.deletedComponents == 1 && r2.rowsDeleted == 1, s"$r2")
    assert(op.flush().isNoop && op.pendingSubpaths.isEmpty)
  }

  test("a flush resolves level 2 on the driver: touch, edit, add, delete, vanish") {
    val (src, tgt, st) = (tmpDir("l2-src"), tmpDir("l2-tgt"), tmpDir("l2-st"))
    Seq("a", "b", "c", "d", "v").foreach(k => write(src, s"$k.md", s"$k content"))
    val fs = LocalFsSource(src.toString, Seq("**.md"))
    // v.md vanishes right after the delta re-stat has seen it, before
    // the content load — a churning directory's stat→read race
    val vanish = new java.util.concurrent.atomic.AtomicBoolean(false)
    val source = new Source {
      def list(spark: org.apache.spark.sql.SparkSession) = fs.list(spark)
      override def listKeys(spark: org.apache.spark.sql.SparkSession,
          keys: Seq[String]) = {
        val restat = fs.listKeys(spark, keys) // stats eagerly
        if (vanish.getAndSet(false)) Files.delete(src.resolve("v.md"))
        restat
      }
      def load(spark: org.apache.spark.sql.SparkSession,
          keys: org.apache.spark.sql.DataFrame) = fs.load(spark, keys)
      def contentFpOf = fs.contentFpOf
    }
    val flow = new Flow("l2", source, Seq(upperStage),
      ParquetTableTarget(tgt.toString, 2), st.toString,
      rowKeyOwnedByItem = true)
    val op = flow.operator(spark)
    assert(op.updateFull().recomputed == 5)
    def memoRow(k: String) = flow.componentMemo(spark)
      .filter(col("item_key") === k).collect().toSeq match {
        case Seq(r) => r
        case rs => fail(s"expected one memo row for $k, got $rs")
      }
    val storedFpA = memoRow("a.md").getAs[String]("content_fp")

    def bump(rel: String): Unit = {
      val f = src.resolve(rel).toFile
      assert(f.setLastModified(f.lastModified + 10000))
    }
    bump("a.md")                                   // touched only: refreshed
    write(src, "b.md", "b content, edited"); bump("b.md") // suspect → changed
    write(src, "e.md", "e content")                // added
    Files.delete(src.resolve("c.md"))              // deleted
    bump("v.md")                                   // suspect, then vanishes
    op.update("a.md", "b.md", "e.md", "v.md"); op.delete("c.md")
    vanish.set(true)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val r =
      try {
        val out = op.flush()
        Thread.sleep(300) // listener events drain asynchronously
        out
      } finally spark.sparkContext.removeSparkListener(counter)
    assert(r == RunStats(components = 5, unchanged = 1, refreshed = 1,
      recomputed = 3, deletedComponents = 1, rowsInserted = 1,
      rowsUpdated = 1, rowsDeleted = 2, rowsNoop = 0), s"$r")

    // target == Transform(files on disk)
    def transformOfFiles = Option(src.toFile.listFiles()).toSeq.flatten
      .map(f => (f.getName + "#0", new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).toUpperCase)).toSet
    def targetRows = flow.target.read(spark).select("row_key", "text")
      .collect().map(t => (t.getString(0), t.getString(1))).toSet
    assert(targetRows == transformOfFiles)

    // the refreshed memo row: the new memo state, the stored content fp
    val fa = src.resolve("a.md").toFile
    val a = memoRow("a.md")
    assert(a.getAs[String]("memo_state") == s"${fa.length}:${fa.lastModified}")
    assert(a.getAs[String]("content_fp") == storedFpA)
    // the vanished suspect recomputed from no content: no fp recorded
    assert(memoRow("v.md").getAs[String]("content_fp") == null)

    // the flush's cost is pinned structurally: with level 2 resolved on
    // the driver it measured 32 jobs (bound: +8 margin); the frame-based
    // level 2 (a join + count, a scope re-collect, the source's
    // bounded-key collect, per-semi-join broadcast builds) ran 50
    info(s"mixed flush launched ${jobs.get} Spark jobs")
    assert(jobs.get <= 40,
      s"mixed flush launched ${jobs.get} Spark jobs — the literal-scope " +
        "pass grew beyond its fixed structure")

    // the refreshed row settles: flushing it again is a pure no-op
    val store = new StateStore(spark, st.toString)
    val v0 = store.currentVersion
    op.update("a.md")
    assert(op.flush().isNoop)
    assert(store.currentVersion == v0, "a no-op flush must not commit")
    // the vanished item GCs on its next flush; then the corpus is quiet
    op.delete("v.md")
    val gc = op.flush()
    assert(gc.deletedComponents == 1 && gc.rowsDeleted == 0, s"$gc")
    assert(flow.run(spark).isNoop)
    assert(targetRows == transformOfFiles)
  }

  test("stats handle: cumulative counters, watch subscription, ready transition") {
    val (src, tgt, st) = (tmpDir("uh-src"), tmpDir("uh-tgt"), tmpDir("uh-st"))
    write(src, "a.md", "alpha")
    val flow = new Flow("uh", LocalFsSource(src.toString, Seq("**.md")),
      Seq(upperStage), ParquetTableTarget(tgt.toString, 2), st.toString)
    val ticks = new java.util.concurrent.LinkedBlockingQueue[UpdateStats]()
    val handle = flow.runLiveHandle(spark, "1 second")
    val unsubscribe = handle.watch((cum, _) => ticks.put(cum))
    try {
      assert(handle.awaitReady(60000), "initial catch-up must complete")
      assert(handle.status == "ready")
      val first = ticks.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(first != null && first.numReprocesses == 1 && first.numAdds == 1)

      // a new file raises the cumulative add/reprocess counters
      write(src, "b.md", "bravo")
      val deadline = System.currentTimeMillis() + 60000
      var caught: UpdateStats = null
      while (caught == null && System.currentTimeMillis() < deadline) {
        val s = ticks.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        if (s != null && s.numAdds == 2) caught = s
      }
      assert(caught != null, "the watch must observe the second add")
      assert(caught.numReprocesses == 2 && caught.numErrors == 0)
      assert(handle.stats().numAdds == 2)
      assert(handle.lastTick.isDefined)
      unsubscribe()
    } finally handle.stop()
    assert(!handle.isActive)
  }

  test("per-component stats stream: ComponentStats shape, errors, stats group") {
    // two flows under one StatsGroup — the reference's
    // `coco.stats_group` scope read through StatsGroupHandle
    // (update_stats.py:151-166), with UpdateStats.by_component keyed
    // by processor name and errors counted per component
    val (srcA, tgtA, stA) = (tmpDir("sg-srcA"), tmpDir("sg-tgtA"), tmpDir("sg-stA"))
    val (srcB, tgtB, stB) = (tmpDir("sg-srcB"), tmpDir("sg-tgtB"), tmpDir("sg-stB"))
    write(srcA, "a.md", "alpha")
    write(srcB, "x.md", "xray")
    write(srcB, "bad.md", "BAD content")

    // flow B rejects BAD content as an __error row (the engine routes
    // it to the errors table and counts it in rowsFailed)
    val failingStage = CocoFn("checked_upper", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit("#0")).as("row_key"),
        upper(Source.textOf(col("content"))).as("text"),
        when(Source.textOf(col("content")).contains("BAD"),
          lit("rejected: BAD content")).as("__error")))

    val flowA = new Flow("sg_a", LocalFsSource(srcA.toString, Seq("**.md")),
      Seq(upperStage), ParquetTableTarget(tgtA.toString, 2), stA.toString)
    val flowB = new Flow("sg_b", LocalFsSource(srcB.toString, Seq("**.md")),
      Seq(failingStage), ParquetTableTarget(tgtB.toString, 2), stB.toString)

    val group = new StatsGroup
    assert(group.status == "running", "an empty group is not ready")
    val ha = group.add(flowA.runLiveHandle(spark, "1 second"))
    val hb = group.add(flowB.runLiveHandle(spark, "1 second"))
    try {
      assert(ha.awaitReady(60000) && hb.awaitReady(60000))
      assert(group.status == "ready")

      // per-component breakdown: keyed by flow name, totals consistent
      val by = group.statsByComponent
      assert(by.keySet == Set("sg_a", "sg_b"), s"got ${by.keySet}")
      assert(by("sg_a").numAdds == 1 && by("sg_a").numErrors == 0,
        s"${by("sg_a")}")
      // flow B: both components processed; the BAD one's row went to
      // the errors table, not the target
      assert(by("sg_b").numReprocesses == 2 && by("sg_b").numErrors == 1,
        s"${by("sg_b")}")
      assert(by("sg_b").numAdds == 1, s"${by("sg_b")}")

      // the ComponentStats arithmetic of the reference
      // (update_stats.py:62-70): processed/finished compose from the
      // base counters, and the group total is the counter-wise sum
      val b = by("sg_b")
      assert(b.numProcessed ==
        b.numUnchanged + b.numAdds + b.numDeletes + b.numReprocesses)
      assert(b.numFinished == b.numProcessed + b.numErrors)
      val total = group.stats()
      assert(total.numAdds == by.values.map(_.numAdds).sum)
      assert(total.numErrors == 1)

      // a handle's own stats equal its component's slice of the group
      assert(ha.stats() == by("sg_a"))
      assert(ha.statsByComponent == Map("sg_a" -> ha.stats()))

      // per-tick deltas keep streaming per component: fixing the BAD
      // file clears the error path and upserts the corrected row
      write(srcB, "bad.md", "good now")
      val deadline = System.currentTimeMillis() + 60000
      var fixed = false
      while (!fixed && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        fixed = group.statsByComponent("sg_b").numAdds >= 2
      }
      assert(fixed, s"the fix tick must add the corrected row: " +
        s"${group.statsByComponent("sg_b")}")
      assert(group.statsByComponent("sg_b").numErrors == 1,
        "the historical error count is cumulative, not rewritten")
    } finally group.stopAll()
    assert(!ha.isActive && !hb.isActive)
  }

  test("LiveMap: producer flow hands off to a consumer flow with O(changed) sync") {
    val (src, tgtB, stA, stB) =
      (tmpDir("lm-src"), tmpDir("lm-tgtB"), tmpDir("lm-stA"), tmpDir("lm-stB"))
    write(src, "a.md", "alpha one")
    write(src, "b.md", "bravo two")

    val map = new LiveMap("sentences")
    val producer = new Flow("produce",
      LocalFsSource(src.toString, Seq("**.md")), Seq(upperStage),
      map, stA.toString)
    val consumer = new Flow("consume", map.source,
      Seq(CocoFn("len", 1, fn = df =>
        df.select(col("item_key"),
          concat(col("item_key"), lit("/len")).as("row_key"),
          length(col("text")).as("n")))),
      ParquetTableTarget(tgtB.toString, 2), stB.toString)
    val watcher = map.watch() // armed before the initial consumer scan

    producer.run(spark)
    assert(map.size == 2)
    watcher.drain() // initial snapshot consumed by the full run below
    assert(consumer.run(spark).recomputed == 2)
    assert(consumer.run(spark).isNoop)

    // one file edit: producer updates ONE map entry; the consumer
    // syncs from the watcher delta — O(changed), no full re-list
    write(src, "a.md", "alpha CHANGED")
    producer.run(spark)
    val (delta, _) = watcher.drain()
    assert(delta == Seq("a.md#0"), s"got $delta")
    val rc = consumer.runDelta(spark, delta)
    assert(rc.recomputed == 1 && rc.unchanged == 1, s"$rc")

    // entry disappears with its declaring component (reference: "an
    // entry exists as long as some live component declares it")
    Files.delete(src.resolve("b.md"))
    producer.run(spark)
    assert(map.size == 1)
    val (delta2, _) = watcher.drain()
    assert(delta2 == Seq("b.md#0"))
    val rd = consumer.runDelta(spark, delta2)
    assert(rd.deletedComponents == 1, s"$rd")
    assert(consumer.target.read(spark).count() == 1)

    // single active watcher, as in the reference
    intercept[IllegalArgumentException](map.watch())
    watcher.close()
    map.watch().close() // re-armable after close
  }
}
