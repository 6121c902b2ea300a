package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The engine benchmark's JVM entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  * Prints one compact JSON result line last on stdout and writes the
  * full trace (spans, per-pass job ledger, notes) to the output dir. */
object Main {
  val Cores = 4

  val Workloads: Map[String, Ctx => Report] = Map(
    "live_edits" -> LiveEdits.run,
    "nightly" -> Nightly.run)

  def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toSeq)
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out"))
    val work = out.resolve(s"work-$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val hostStart = Host.stamp()

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$Cores]").appName("perfbench"),
      Cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ledger = Ledger.attach(spark.sparkContext)
      val tracer = new Tracer(trace, spark)
      val gc0 = Host.gcMs()
      Host.resetHeapPeak()
      val rep = run(Ctx(spark, ledger, tracer, seed, seconds, work, sessionS))
      rep.end("peak_rss_mb", Host.peakRssMb())

      val total = ledger.all()
      rep.notes("jobs_by_layer") = total.byLayer
      if (trace) {
        rep.per("io.input_mb", total.inBytes / 1048576.0)
        rep.per("io.shuffle_mb", total.shuffleBytes / 1048576.0)
        rep.per("io.output_mb", total.outBytes / 1048576.0)
        rep.per("jvm.gc_ms", (Host.gcMs() - gc0).toDouble)
        rep.per("jvm.heap_peak_mb", Host.heapPeakMb())
        rep.per("jobs.total", total.jobs.toDouble)
        rep.per("jobs.attributed", total.attributed.toDouble)
        Attribution.Layers.foreach(l =>
          rep.per(s"jobs.$l", total.byLayer.getOrElse(l, 0).toDouble))
        rep.check(total.attributed == total.jobs,
          s"attributed jobs ${total.attributed} != listener total ${total.jobs}")
        rep.per("oracle.failed_frac", rep.failed.toDouble / rep.attempted.max(1))
        rep.e2e.foreach { case (k, m) => rep.layer(s"traced.$k") = m }
        Catalogue.AllLayer.foreach { case (k, u) =>
          if (!rep.layer.contains(k)) rep.layer(k) = Metric(0.0, u)
        }
      }
      val (names, produced) =
        if (trace) (Catalogue.PerLayer, rep.layer) else (Catalogue.EndToEnd, rep.e2e)
      val metrics = names.map { case (k, _) =>
        k -> produced.getOrElse(k, sys.error(s"metric $k not produced"))
      }.to(scala.collection.immutable.ListMap)
      val tracePath = out.resolve(s"trace-$workload-seed$seed-t${if (trace) 1 else 0}.json")
      val traceDoc = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "correct" -> (rep.failed == 0),
        "attempted" -> rep.attempted, "failed" -> rep.failed,
        "failures" -> rep.failures.toSeq,
        "end_to_end" -> rep.e2e, "per_layer" -> rep.layer,
        "notes" -> rep.notes, "host_start" -> hostStart,
        "host_end" -> Host.stamp(),
        "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "ms" -> s.ms, "attrs" -> s.attrs)),
        "jobs" -> (if (trace) ledger.records().map(j => Map("id" -> j.id,
          "layer" -> j.layer, "exec" -> j.exec, "phase" -> j.phase, "ms" -> j.ms,
          "stages" -> j.stages, "tasks" -> j.tasks, "site" -> j.callSite))
          else Nil))
      Files.write(tracePath, Json(traceDoc).getBytes(UTF_8))
      rep.failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
      println(Json(Map("correct" -> (rep.failed == 0),
        "attempted" -> rep.attempted, "failed" -> rep.failed,
        "metrics" -> metrics)))
    } finally {
      spark.stop()
      Host.deleteTree(work)
    }
  }
}
