package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.engine.{LocalFsSource, PgTableTarget, Source}

/** `live_edits`: the text_embedding pipeline in live mode. After the
  * cold build, one generator thread changes files open-loop at a fixed
  * rate (edits Zipf over existing files, adds, deletes) and enqueues
  * each path on the flow's live operator; the main thread loops
  * `flush()`. Small deltas make the per-pass fixed cost almost all of
  * the time, so this workload exercises the engine's pass overhead,
  * the delta re-stat and the wire target's per-apply round trips. */
object LiveEdits {
  val NumFiles = 1000
  val MinChars = 2048
  val MaxChars = 4096
  val Dirs = 50
  /** Changes per second: a flush then covers tens of changes while the
    * backlog stays bounded. */
  val RatePerS = 20.0
  val EditShare = 0.70
  val AddShare = 0.15
  /** Edits flushed before the window, so the measured flushes run the
    * delta path warm. */
  val WarmupChanges = 10
  val WarmPasses = 7
  val SetupReps = 3
  val ProbeSlice = 1000

  /** A scheduled source change; `version` -1 marks a delete. */
  final case class Op(schedMs: Double, kind: Char, path: String, version: Int)

  /** A change as applied: its log index and times (ns). */
  final case class Event(idx: Int, op: Op, schedNs: Long, doneNs: Long,
      deferred: Boolean)

  /** A flush that ran a pass: the log length and key batch its re-stat
    * saw, and the pass itself. */
  final case class Flush(k: Int, logAtStat: Int, keys: Set[String],
      pass: PassRec)

  def initialPaths: Vector[String] =
    Vector.tabulate(NumFiles)(i => s"d${i % Dirs}/f$i.txt")

  /** The seeded change schedule — the warm-up edits, then the window's
    * changes — and the final path → version map. */
  def schedule(seed: Long, seconds: Int)
      : (Vector[Op], Vector[Op], Map[String, Int]) = {
    val rng = new java.util.Random(seed * 7919L + 1)
    val live = mutable.ArrayBuffer.from(
      initialPaths.sortBy(p => Corpus.subSeed(seed, p, -1)))
    val version = mutable.HashMap.from(initialPaths.map(_ -> 0))
    val zipf = new Zipf(NumFiles * 2, 1.0)
    var added = 0
    val warmup = Vector.fill(WarmupChanges) {
      val p = live(zipf.drawBelow(rng, live.length))
      version(p) += 1
      Op(0.0, 'e', p, version(p))
    }
    val ops = Vector.tabulate((seconds * RatePerS).toInt) { i =>
      val t = i * 1000.0 / RatePerS
      val u = rng.nextDouble()
      if (u < EditShare) {
        val p = live(zipf.drawBelow(rng, live.length))
        version(p) += 1
        Op(t, 'e', p, version(p))
      } else if (u < EditShare + AddShare) {
        val p = s"d${added % Dirs}/n$added.txt"
        added += 1
        live += p
        version(p) = 0
        Op(t, 'a', p, 0)
      } else {
        val p = live.remove(rng.nextInt(live.length))
        version.remove(p)
        Op(t, 'd', p, -1)
      }
    }
    (warmup, ops, version.toMap)
  }

  def content(vocab: Vocab, seed: Long, path: String, version: Int): String =
    vocab.doc(new java.util.Random(Corpus.subSeed(seed, path, version)),
      s"doc $path v$version", MinChars, MaxChars)

  /** Replays the change log against the flushes' re-stat points and
    * returns, per flush, the (changed, gone) key counts it must report:
    * a key is changed when it exists at the re-stat and some change to
    * it came after its previous re-stat; gone when it is missing at
    * the re-stat but was present at its previous one. */
  def expectedCounts(initial: Set[String], log: Seq[Event],
      flushes: Seq[Flush]): Seq[(Long, Long)] = {
    val exists = mutable.HashMap.from(initial.iterator.map(_ -> true))
    val inMemo = exists.clone()
    val lastStat = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val lastEvent = mutable.HashMap.empty[String, Int]
    var replayed = 0
    flushes.map { f =>
      while (replayed < f.logAtStat) {
        val e = log(replayed)
        exists(e.op.path) = e.op.kind != 'd'
        lastEvent(e.op.path) = e.idx
        replayed += 1
      }
      val now = f.keys.map(p => p -> exists.getOrElse(p, false)).toMap
      val changed = f.keys.count(p =>
        now(p) && lastEvent.get(p).exists(_ >= lastStat(p)))
      val gone = f.keys.count(p => !now(p) && inMemo.getOrElse(p, false))
      f.keys.foreach { p => lastStat(p) = f.logAtStat; inMemo(p) = now(p) }
      (changed.toLong, gone.toLong)
    }
  }

  /** The flush covering a change: the first whose re-stat saw it (log
    * index below the re-stat point) and whose batch holds its path. */
  def coveringFlush(e: Event, flushes: Seq[Flush]): Option[Flush] =
    flushes.find(f => f.logAtStat > e.idx && f.keys.contains(e.op.path))

  /** Freshness accounting over a finished window. */
  final case class Accounting(freshMs: Seq[Double], waitMs: Seq[Double],
      perFlush: Seq[Int], uncovered: Seq[Event], lateP99Ms: Double)

  /** Per change: freshness (scheduled time → commit of the covering
    * flush) and queue wait (scheduled time → that flush's start); per
    * flush: the changes it covered; for the generator: the 99th
    * percentile of how late it applied changes it did not defer. */
  def account(log: Seq[Event], flushes: Seq[Flush]): Accounting = {
    val covered = log.map(e => e -> coveringFlush(e, flushes))
    val hits = covered.collect { case (e, Some(f)) => (e, f) }
    val late = log.filterNot(_.deferred).map(e => (e.doneNs - e.schedNs) / 1e6)
    Accounting(
      hits.map { case (e, f) => (f.pass.endNs - e.schedNs) / 1e6 },
      hits.map { case (e, f) => math.max(0L, f.pass.startNs - e.schedNs) / 1e6 },
      flushes.map(f => hits.count(_._2.k == f.k)),
      covered.collect { case (e, None) => e },
      if (late.isEmpty) 0.0 else Stats.percentile(late.sorted.toIndexedSeq, 99))
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val rep = new Report
    val vocab = new Vocab(ctx.seed)
    val tr = ctx.tracer
    val phase = new PhaseClock(rep)

    // ---- set-up: fixture + corpus, repeated; the last one is kept
    var pg: graft.fixtures.MiniPg = null
    var srcDir: Path = null
    val setupS = (1 to SetupReps).map { i =>
      if (pg != null) { pg.close(); Host.deleteTree(srcDir) }
      val t0 = System.nanoTime()
      pg = new graft.fixtures.MiniPg
      srcDir = ctx.work.resolve(s"src$i")
      initialPaths.foreach { p =>
        val f = srcDir.resolve(p)
        Files.createDirectories(f.getParent)
        Files.write(f, content(vocab, ctx.seed, p, 0).getBytes("UTF-8"))
      }
      (System.nanoTime() - t0) / 1e9
    }
    rep.end("setup_s", ctx.sessionS + Stats.median(setupS))
    phase("setup")

    try {
      val tmpDir = Files.createDirectories(ctx.work.resolve("tmp"))
      val stateDir = ctx.work.resolve("state")
      // the change log, the in-flight guard and the key capture
      val lock = new Object
      val log = mutable.ArrayBuffer.empty[Event]
      var inFlight = Set.empty[String]
      val deferred = mutable.ArrayBuffer.empty[(Op, Long)]
      @volatile var lastStat = (0, Set.empty[String])
      val inner = LocalFsSource(srcDir.toString)
      val source = new TracedSource(inner, tr, keys => body =>
        lock.synchronized {
          // the re-stat runs under the lock: the log length taken here
          // is exactly the set of changes the stat sees, and the files
          // of this batch stay untouched until the flush commits
          inFlight = keys.toSet
          lastStat = (log.length, inFlight)
          body
        })
      val target = new TracedTarget(
        PgTableTarget(pg.host, pg.port, "graft", "doc_chunks",
          vectorDims = Map("embedding" -> Pipeline.Dim), writePartitions = 4),
        tr, () => pg.observed.size.toLong)
      val stages = Pipeline.stages(Source.textOf(col("content")))
      val flow = Pipeline.flow("text_embedding", source, stages, target,
        stateDir.toString, tr)

      // ---- cold build
      val cold = Passes.measure(ctx, rep, "flow.build", stateDir)(flow.run(spark))
      rep.check(cold.stats.recomputed == NumFiles &&
        cold.stats.components == NumFiles, s"cold build: ${cold.stats}")
      rep.end("build_docs_per_s", NumFiles / cold.s)
      phase("cold")

      // ---- the live window: open-loop generator, flush loop
      val op = flow.operator(spark)
      val (warmup, ops, finalVersions) = schedule(ctx.seed, ctx.seconds)
      def apply(o: Op, schedNs: Long, wasDeferred: Boolean): Unit = {
        val f = srcDir.resolve(o.path)
        if (o.kind == 'd') Files.delete(f)
        else Corpus.writeAtomic(tmpDir, f,
          content(vocab, ctx.seed, o.path, o.version))
        log += Event(log.length, o, schedNs, System.nanoTime(), wasDeferred)
        if (o.kind == 'd') op.delete(o.path) else op.update(o.path)
      }
      val flushes = mutable.ArrayBuffer.empty[Flush]
      def flushOnce(): Unit = {
        val p = Passes.measure(ctx, rep, "flow.pass", stateDir)(op.flush())
        lock.synchronized {
          inFlight = Set.empty
          val todo = deferred.toVector
          deferred.clear()
          todo.foreach { case (o, due) => apply(o, due, wasDeferred = true) }
        }
        if (p.stats != Passes.Empty) {
          val (atStat, keys) = lastStat
          flushes += Flush(flushes.length, atStat, keys, p)
        } else Thread.sleep(5)
      }
      lock.synchronized(warmup.foreach(o => apply(o, System.nanoTime(), wasDeferred = false)))
      while (op.pendingSubpaths.nonEmpty) flushOnce()
      val nWarm = flushes.length
      phase("warmup")

      // the schedule starts now: every change is timed from its slot
      val t0 = System.nanoTime() + 20L * 1000 * 1000
      @volatile var genError: Option[Throwable] = None
      val gen = new Thread(() =>
        try ops.foreach { o =>
          val due = t0 + (o.schedMs * 1e6).toLong
          var now = System.nanoTime()
          while (now < due) {
            Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
            now = System.nanoTime()
          }
          lock.synchronized {
            // a change to a file of the batch in flight waits for that
            // flush to commit; the next flush covers it either way
            if (inFlight.contains(o.path) || deferred.exists(_._1.path == o.path))
              deferred += (o -> due)
            else apply(o, due, wasDeferred = false)
          }
        } catch { case t: Throwable => genError = Some(t) },
        "perfbench-loadgen")
      gen.setDaemon(true)
      gen.start()
      while (gen.isAlive) flushOnce()
      genError.foreach(t => throw t)
      val pendingAtEnd = op.pendingSubpaths.size + deferred.size
      while (op.pendingSubpaths.nonEmpty || deferred.nonEmpty) flushOnce()
      rep.notes("pending_at_end") = pendingAtEnd
      rep.notes("flushes") = flushes.length - nWarm
      phase("window")

      // ---- per-flush oracle: recomputed and deleted counts equal the
      // distinct changed keys the generator produced
      val expected = expectedCounts(initialPaths.toSet, log.toSeq, flushes.toSeq)
      flushes.zip(expected).foreach { case (f, (changed, gone)) =>
        val st = f.pass.stats
        rep.check(st.recomputed == changed && st.refreshed == 0 &&
          st.deletedComponents == gone,
          s"flush ${f.k}: expected recomputed=$changed deleted=$gone, got $st")
      }

      // ---- freshness: each change, from its scheduled time to the
      // commit of the flush that covered it
      val measured = flushes.drop(nWarm).toSeq
      val window = log.drop(WarmupChanges).toSeq
      val acc = account(window, measured)
      rep.checkMany(window.size, acc.uncovered.size,
        s"${acc.uncovered.size} changes never covered, e.g. ${acc.uncovered.take(3)}")
      val tail = Stats.tail(acc.freshMs).getOrElse(
        sys.error(s"too few changes (${acc.freshMs.size}) for a tail percentile"))
      rep.end("freshness_p50_ms", Stats.median(acc.freshMs))
      rep.end("freshness_tail_ms", tail.value)
      rep.notes("freshness_tail") = tail
      rep.end("pass_jobs", Passes.med(measured.map(_.pass.jobs.jobs.toDouble)))
      rep.notes("flush_ms") = measured.map(_.pass.ms)

      // ---- warm passes over the unchanged corpus
      val warm = (1 to WarmPasses).map { _ =>
        val p = Passes.measure(ctx, rep, "flow.warm", stateDir)(flow.run(spark))
        rep.check(p.stats.isNoop, s"warm pass not a no-op: ${p.stats}")
        p
      }
      rep.end("warm_pass_s", Stats.median(warm.map(_.s)))
      rep.notes("warm_pass_jobs") = Stats.median(warm.map(_.jobs.jobs.toDouble))
      phase("warm")

      // ---- final-state oracle: the target read back over the wire
      // equals Transform(final files), recomputed here
      val want = finalVersions.iterator.flatMap { case (p, v) =>
        Pipeline.expected(p, content(vocab, ctx.seed, p, v))
      }.toMap
      val got = Passes.inLayer(spark, "oracle")(
        Pipeline.actual(flow.target.read(spark)))
      val bad = Pipeline.diffItems(want, got)
      rep.checkMany(finalVersions.size, bad.size,
        s"${bad.size} files differ from Transform(source), e.g. ${bad.take(3)}")
      rep.notes("target_rows") = got.size
      phase("oracle")

      if (tr.on) {
        val passes = measured.map(_.pass)
        Passes.layers(rep, tr, passes, expected.drop(nWarm).map(_._1).sum,
          tr.named("target.apply"), stateDir)
        rep.per("live.batch_changes", Passes.med(acc.perFlush.map(_.toDouble)))
        rep.per("live.coalesce_ratio",
          measured.map(_.keys.size).sum.toDouble / window.size.max(1))
        rep.per("live.queue_wait_ms", Passes.med(acc.waitMs))
        rep.per("loadgen.late_ms", acc.lateP99Ms)
        rep.notes("deferred_changes") = log.count(_.deferred)
        rep.per("source.list_ms", Passes.probeMs(spark, 3)(
          inner.list(spark).write.format("noop").mode("overwrite").save()))
        rep.per("source.items", finalVersions.size.toDouble)
        Passes.transformProbe(rep, spark,
          inner.load(spark, finalVersions.keys.toSeq.sorted.take(ProbeSlice)),
          stages)
        phase("probes")
      }
      rep
    } finally pg.close()
  }
}
