package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Which layer a Spark job belongs to. The rules, in order:
  *   1. the `perfbench.layer` local property a benchmark decorator
  *      sets around its span;
  *   2. the program file named in the job's call site;
  *   3. the job's SQL execution: the program file in the call site
  *      that started it, else another of its jobs that rule 1 or 2
  *      attributed (adaptive query stages and broadcasts run as jobs
  *      of their own on pool threads whose call sites name no program
  *      file);
  *   4. the nightly's own `graft.nightly.phase` tag;
  *   5. otherwise `other`.
  * Every job lands in exactly one layer, so per-layer counts sum to
  * the listener's total. */
object Attribution {
  val LayerProperty = "perfbench.layer"
  val PhaseProperty = "graft.nightly.phase"

  val Layers: Seq[String] =
    Seq("flow", "source", "transform", "target", "state", "nightly",
      "input", "probe", "oracle", "other")

  /** Program file (as it appears in a call site) → layer. */
  def layerOfFile(file: String): Option[String] = file match {
    case "Flow.scala" | "Kernel.scala" | "Live.scala" => Some("flow")
    case "StateStore.scala" | "StateDiff.scala" | "FnMemo.scala" |
         "KeyedFetch.scala" | "FsUtil.scala" => Some("state")
    case "Source.scala" | "ObjectStoreSource.scala" => Some("source")
    case "Target.scala" | "PgTarget.scala" | "PgWire.scala" =>
      Some("target")
    case "Chunker.scala" | "HashEmbedder.scala" => Some("transform")
    case "CrawlRefresh.scala" | "Dedup.scala" | "Curation.scala" |
         "Similarity.scala" => Some("nightly")
    case _ => None
  }

  private val ShortForm = """.* at ([A-Za-z0-9_$]+\.scala):\d+""".r
  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** The call site's file: the short form's file, else the first
    * program frame of the long form. */
  def callSiteFiles(shortForm: String, longForm: String): Seq[String] = {
    val short = shortForm match {
      case ShortForm(f) => Seq(f)
      case _ => Nil
    }
    short ++ Option(longForm).toSeq.flatMap(l =>
      Frame.findAllMatchIn(l).map(_.group(1)))
  }

  /** Rules 1 and 2; None leaves the job to rules 3 to 5. */
  def direct(props: Properties, files: Seq[String]): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(LayerProperty)))
      .orElse(files.iterator.flatMap(layerOfFile).nextOption())

  /** Rules 4 and 5, for a job no sibling resolved. */
  def fallback(phase: Option[String]): String =
    if (phase.isDefined) "nightly" else "other"
}

/** One Spark job as the ledger saw it. */
final class JobRec(val id: Int, val start: Long, val direct: Option[String],
    val exec: Seq[String], val phase: Option[String], val callSite: String) {
  /** Set at the first snapshot that sees the job (rule 3 needs the
    * whole execution). */
  var layer: String = null
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var inBytes = 0L
  var shuffleBytes = 0L
  var outBytes = 0L
  def ms: Long = if (end < 0) 0L else end - start
}

/** Totals over a set of jobs. */
final case class JobSum(jobs: Int, stages: Int, tasks: Int, jobMs: Long,
    busyMs: Long, inBytes: Long, shuffleBytes: Long, outBytes: Long,
    byLayer: Map[String, Int], byLayerMs: Map[String, Long],
    byPhase: Map[String, (Int, Long)]) {
  def attributed: Int = byLayer.values.sum
}

/** The benchmark's own Spark listener: every job, with its stages,
  * tasks, times and bytes, attributed to a layer by [[Attribution]].
  * Snapshots are taken with [[mark]] / [[since]] around a pass. */
final class Ledger(drainBus: () => Unit) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** SQL execution id → layer, from the execution's call site or its
    * first directly attributed job. */
  private val execLayer = mutable.HashMap.empty[String, String]
  private var resolved = 0

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val result = js.stageInfos.sortBy(-_.stageId).headOption
    val shortForm = result.map(_.name).getOrElse("")
    val files = Attribution.callSiteFiles(shortForm,
      result.map(_.details).orNull)
    def prop(k: String) =
      Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = Seq(prop("spark.sql.execution.id"),
      prop("spark.sql.execution.root.id")).flatten
    val direct = Attribution.direct(js.properties, files)
    for (e <- exec; l <- direct) execLayer.getOrElseUpdate(e, l)
    val rec = new JobRec(js.jobId, js.time, direct, exec,
      prop(Attribution.PhaseProperty), shortForm)
    jobs += rec
    byId(js.jobId) = rec
    js.stageIds.foreach(s => stageJob.getOrElseUpdate(s, rec))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      Attribution.callSiteFiles(x.description, x.details).iterator
        .flatMap(Attribution.layerOfFile).nextOption()
        .foreach(execLayer.getOrElseUpdate(x.executionId.toString, _))
    }
    case _ =>
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    byId.get(je.jobId).foreach(_.end = je.time)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(sc.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      val m = te.taskMetrics
      if (m != null) {
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit = drainBus()

  def mark(): Int = records(0).length

  def since(from: Int): JobSum = sum(records(from))

  def all(): JobSum = since(0)

  /** Jobs from index `from` on, every one attributed. */
  def records(from: Int = 0): Vector[JobRec] = {
    drain()
    synchronized {
      while (resolved < jobs.length) {
        val j = jobs(resolved)
        j.layer = j.direct.orElse(j.exec.iterator.flatMap(execLayer.get).nextOption())
          .getOrElse(Attribution.fallback(j.phase))
        resolved += 1
      }
      jobs.slice(from, jobs.length).toVector
    }
  }

  def sum(js: Seq[JobRec]): JobSum = {
    val byPhase = js.filter(_.phase.isDefined).groupBy(_.phase.get).map {
      case (p, g) => p -> (g.size, g.map(_.end).max - g.map(_.start).min)
    }
    JobSum(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      js.map(_.ms).sum, Ledger.busyMs(js.map(j => (j.start, j.end))),
      js.map(_.inBytes).sum, js.map(_.shuffleBytes).sum,
      js.map(_.outBytes).sum,
      js.groupBy(_.layer).map { case (k, g) => k -> g.size },
      js.groupBy(_.layer).map { case (k, g) => k -> g.map(_.ms).sum },
      byPhase)
  }
}

object Ledger {
  val Empty = JobSum(0, 0, 0, 0L, 0L, 0L, 0L, 0L, Map.empty, Map.empty, Map.empty)

  def attach(sc: SparkContext): Ledger = {
    val l = new Ledger(() => org.apache.spark.PerfbenchBus.drain(sc))
    sc.addSparkListener(l)
    l
  }

  /** Length of the union of [start, end) intervals: the time at least
    * one job was running. */
  def busyMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
