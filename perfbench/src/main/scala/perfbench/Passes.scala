package perfbench

import java.nio.file.Path
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

import graft.engine.{CocoFn, RunStats}

/** One measured engine pass: its stats, wall interval, Spark jobs,
  * spans and (traced runs only) the state bytes it wrote. */
final case class PassRec(stats: RunStats, startNs: Long, endNs: Long,
    jobs: JobSum, spans: Vector[Span], stateWritten: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def s: Double = ms / 1e3
  def spanMs(name: String): Double =
    spans.filter(_.name == name).map(_.ms).sum
  def layerJobs(l: String): Double = jobs.byLayer.getOrElse(l, 0).toDouble
  def layerMs(l: String): Double = jobs.byLayerMs.getOrElse(l, 0L).toDouble
}

object Passes {
  val Empty = RunStats(0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Run one pass under a `name` span, with its jobs and spans
    * snapshotted around it. A pass that throws counts as a failed
    * operation and reports [[Empty]] stats; the oracles then count
    * whatever it left undone. */
  def measure(ctx: Ctx, rep: Report, name: String, stateDir: Path)(
      body: => RunStats): PassRec = {
    val tr = ctx.tracer
    val m = ctx.ledger.mark()
    val sp = tr.size
    val pre = if (tr.on) Host.inodes(stateDir) else Map.empty[Long, Long]
    val t0 = System.nanoTime()
    val st =
      try Traced.pass(tr, name)(body)
      catch { case NonFatal(e) => rep.check(ok = false, s"$name threw $e"); Empty }
    val t1 = System.nanoTime()
    val written =
      if (tr.on) Host.bytesWritten(pre, Host.inodes(stateDir)) else 0L
    PassRec(st, t0, t1, ctx.ledger.since(m), tr.all.drop(sp), written)
  }

  def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** The per-layer metrics every engine workload reports from its
    * measured incremental passes. */
  def layers(rep: Report, tr: Tracer, passes: Seq[PassRec],
      trulyChanged: Long, allApplies: Seq[Span], stateDir: Path): Unit = {
    val self = passes.flatMap(p => p.spans.filter(_.parent == 0)
      .map(tr.selfMs))
    rep.per("flow.pass_ms", med(passes.map(_.ms)))
    rep.per("flow.self_ms", med(self))
    rep.per("flow.jobs", med(passes.map(_.jobs.jobs.toDouble)))
    rep.per("flow.stages", med(passes.map(_.jobs.stages.toDouble)))
    rep.per("flow.tasks", med(passes.map(_.jobs.tasks.toDouble)))
    rep.per("flow.job_ms_sum", med(passes.map(_.jobs.jobMs.toDouble)))
    rep.per("flow.driver_gap_ms", med(passes.map(p => p.ms - p.jobs.busyMs)))
    val stats = passes.map(_.stats)
    rep.per("memo.hit_ratio",
      stats.map(_.unchanged).sum.toDouble / stats.map(_.components).sum.max(1))
    rep.per("memo.recompute_ratio",
      stats.map(_.recomputed).sum.toDouble / trulyChanged.max(1))
    val ins = stats.map(_.rowsInserted).sum
    val upd = stats.map(_.rowsUpdated).sum
    val del = stats.map(_.rowsDeleted).sum
    val noop = stats.map(_.rowsNoop).sum
    rep.per("reconcile.rows_ins", ins.toDouble)
    rep.per("reconcile.rows_upd", upd.toDouble)
    rep.per("reconcile.rows_del", del.toDouble)
    rep.per("reconcile.rows_noop", noop.toDouble)
    rep.per("reconcile.useful_ratio",
      (ins + upd + del).toDouble / (ins + upd + del + noop).max(1))
    rep.per("source.listkeys_ms", med(passes.map(_.spanMs("source.listkeys"))))
    rep.per("source.load_ms", med(passes.map(_.spanMs("source.load"))))
    rep.per("target.apply_ms", med(passes.map(_.spanMs("target.apply"))))
    rep.per("target.apply_jobs", med(passes.map(_.layerJobs("target"))))
    rep.per("target.statements", med(passes.map(p =>
      p.spans.filter(_.name == "target.apply").map(_.attrs("statements")).sum)))
    rep.per("target.rows_per_s", allApplies.map(_.attrs("rows")).sum /
      (allApplies.map(_.ms).sum / 1e3).max(1e-9))
    rep.per("state.commit_ms", med(passes.map(_.layerMs("state"))))
    rep.per("state.commit_jobs", med(passes.map(_.layerJobs("state"))))
    rep.per("state.bytes_written", med(passes.map(_.stateWritten.toDouble)))
    val files = Host.inodes(stateDir)
    rep.per("state.bytes_total", files.values.sum.toDouble)
    rep.per("state.files", files.size.toDouble)
    rep.notes("pass_detail") = passes.map(p => Map(
      "ms" -> p.ms, "jobs" -> p.jobs.jobs, "recomputed" -> p.stats.recomputed,
      "by_layer" -> p.jobs.byLayer))
  }

  /** Runs `body` with its Spark jobs attributed to `layer`. */
  def inLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Attribution.LayerProperty)
    sc.setLocalProperty(Attribution.LayerProperty, layer)
    try body finally sc.setLocalProperty(Attribution.LayerProperty, prev)
  }

  /** Median ms of `reps` timed runs of `body` (a standalone probe). */
  def probeMs(spark: SparkSession, reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime()
      inLayer(spark, "probe")(body)
      (System.nanoTime() - t) / 1e6
    })

  /** The stages over already-loaded payload rows, into the noop sink:
    * the transform's standalone probe. Fills the transform metrics. */
  def transformProbe(rep: Report, spark: SparkSession,
      loaded: org.apache.spark.sql.DataFrame, stages: Seq[CocoFn]): Unit = {
    val cached = loaded.cache()
    inLayer(spark, "probe")(cached.count())
    val obs = org.apache.spark.sql.Observation("transform_probe")
    val out = stages.foldLeft(cached)((df, s) => s.fn(df))
      .observe(obs, count(lit(1)).as("n"))
    val ms = probeMs(spark, 1)(out.write.format("noop").mode("overwrite").save())
    val rows = obs.get("n").asInstanceOf[Long]
    cached.unpersist()
    rep.per("transform.ms", ms)
    rep.per("transform.rows_out", rows.toDouble)
    rep.per("transform.rows_per_s", rows / (ms / 1e3))
  }
}
