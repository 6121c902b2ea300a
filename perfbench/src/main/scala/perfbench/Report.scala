package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, ledger: Ledger, tracer: Tracer,
    seed: Long, seconds: Int, work: java.nio.file.Path, sessionS: Double)

final case class Metric(value: Double, unit: String)

/** The metric catalogue: every end-to-end metric is printed by every
  * workload's untraced run, every per-layer metric by every traced
  * run (0 where a layer does no work on that workload). Must match
  * BENCHMARK.json (checked by the benchmark's tests). */
object Catalogue {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_docs_per_s" -> "docs/s",
    "freshness_p50_ms" -> "ms",
    "freshness_tail_ms" -> "ms",
    "pass_jobs" -> "jobs",
    "warm_pass_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics on the result line: the ones an optimisation
    * of the engine is most likely to move. Every time here is measured
    * on every workload (a layer a workload never enters would read a
    * constant 0); the workload-specific times are in the trace file.
    * Kept few enough that the line stays under 2,000 characters. */
  val PerLayer: Seq[(String, String)] = Seq(
    "flow.pass_ms" -> "ms", "flow.self_ms" -> "ms", "flow.jobs" -> "jobs",
    "flow.job_ms_sum" -> "ms", "flow.driver_gap_ms" -> "ms",
    "memo.recompute_ratio" -> "ratio", "reconcile.useful_ratio" -> "ratio",
    "source.list_ms" -> "ms", "transform.rows_per_s" -> "rows/s",
    "target.apply_jobs" -> "jobs", "target.statements" -> "count",
    "state.commit_ms" -> "ms", "state.commit_jobs" -> "jobs",
    "state.bytes_written" -> "bytes",
    "live.batch_changes" -> "count", "live.coalesce_ratio" -> "ratio",
    "nightly.diff.jobs" -> "jobs", "nightly.retire.jobs" -> "jobs",
    "nightly.screens.jobs" -> "jobs", "nightly.admit.jobs" -> "jobs",
    "nightly.shuffle_mb" -> "MB",
    "io.shuffle_mb" -> "MB", "jvm.gc_ms" -> "ms", "jobs.total" -> "jobs")

  /** Per-layer metrics kept in the trace file only. */
  val TraceOnly: Seq[(String, String)] = Seq(
    "flow.stages" -> "count", "flow.tasks" -> "count",
    "memo.hit_ratio" -> "ratio", "reconcile.rows_ins" -> "rows",
    "reconcile.rows_upd" -> "rows", "reconcile.rows_del" -> "rows",
    "reconcile.rows_noop" -> "rows",
    "source.listkeys_ms" -> "ms", "source.load_ms" -> "ms",
    "source.items" -> "count",
    "transform.ms" -> "ms", "transform.rows_out" -> "rows",
    "target.apply_ms" -> "ms", "target.rows_per_s" -> "rows/s",
    "state.bytes_total" -> "bytes", "state.files" -> "count",
    "live.queue_wait_ms" -> "ms", "loadgen.late_ms" -> "ms",
    "nightly.diff.ms" -> "ms", "nightly.retire.ms" -> "ms",
    "nightly.screens.ms" -> "ms", "nightly.admit.ms" -> "ms",
    "nightly.read_mb" -> "MB", "nightly.write_mb" -> "MB", "night_s" -> "s",
    "io.input_mb" -> "MB", "io.output_mb" -> "MB",
    "jvm.heap_peak_mb" -> "MB", "jobs.attributed" -> "jobs") ++
    Attribution.Layers.map(l => s"jobs.$l" -> "jobs") ++
    Seq("oracle.failed_frac" -> "ratio") ++
    EndToEnd.map { case (n, u) => s"traced.$n" -> u }

  val AllLayer: Seq[(String, String)] = PerLayer ++ TraceOnly
}

/** A workload's outcome: operations checked, metrics, and notes that
  * go only to the trace file. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  /** One checked operation; a false `ok` counts it failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }

  /** `n` checked operations of which `bad` failed. */
  def checkMany(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && failures.size < 50) failures += what
  }

  private val units = (Catalogue.EndToEnd ++ Catalogue.AllLayer).toMap

  def end(name: String, v: Double): Unit = e2e(name) = Metric(v, units(name))
  def per(name: String, v: Double): Unit = layer(name) = Metric(v, units(name))
}

/** Wall time per workload phase, kept in the trace file's notes. */
final class PhaseClock(rep: Report) {
  private var last = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  rep.notes("phase_s") = phases
  def apply(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = (now - last) / 1e9
    last = now
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case Metric(value, unit) =>
      s"""{"value":${num(value)},"unit":${str(unit)}}"""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => s"${str(k)}:${apply(x)}" }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
