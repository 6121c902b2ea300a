package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{CocoFn, RunStats, Source, Target, TargetAttachment,
  TargetStats}

/** One timed call at a layer boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off, it times nothing and sets no
  * property, so an untraced run executes exactly the program's calls;
  * on, each span also tags the Spark jobs launched inside it with
  * its layer (the `perfbench.layer` local property). */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String, layer: Option[String] = None)(body: => T): T =
    spanWith(name, layer)(body)((_: T) => Map.empty)

  /** A span whose attributes are derived from the call's result. */
  def spanWith[T](name: String, layer: Option[String])(body: => T)(
      attrs: T => Map[String, Double]): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      val prevLayer = sc.getLocalProperty(Attribution.LayerProperty)
      layer.foreach(sc.setLocalProperty(Attribution.LayerProperty, _))
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try {
        val out = body
        record(Span(id, parents.headOption.getOrElse(0), name, t0,
          System.nanoTime(), attrs(out)))
        out
      } finally {
        stack.set(parents)
        if (layer.isDefined)
          sc.setLocalProperty(Attribution.LayerProperty, prevLayer)
      }
    }

  private def record(s: Span): Unit = synchronized(spans += s)

  def all: Vector[Span] = synchronized(spans.toVector)

  def named(name: String): Vector[Span] =
    synchronized(spans.filter(_.name == name).toVector)

  def size: Int = synchronized(spans.length)

  /** A span's duration minus the union of its direct children. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.ms - Ledger.busyMs(kids) / 1e6
  }
}

/** A [[Source]] that delegates every member and records a span around
  * each call. `aroundKeys` sees the exact key batch a delta pass
  * re-stats (the live workload's coverage accounting uses it). */
final class TracedSource(inner: Source, tr: Tracer,
    aroundKeys: Seq[String] => (=> DataFrame) => DataFrame =
      _ => body => body) extends Source {
  private val L = Some("source")
  def list(spark: SparkSession): DataFrame =
    tr.span("source.list", L)(inner.list(spark))
  def load(spark: SparkSession, keys: DataFrame): DataFrame =
    tr.span("source.load", L)(inner.load(spark, keys))
  def contentFpOf: Option[Column] = inner.contentFpOf
  override def listKeys(spark: SparkSession, keys: Seq[String]): DataFrame =
    aroundKeys(keys)(tr.spanWith("source.listkeys", L)(
      inner.listKeys(spark, keys))(_ => Map("keys" -> keys.size.toDouble)))
  override def listUnder(spark: SparkSession, prefixes: Seq[String])
      : DataFrame =
    tr.span("source.listunder", L)(inner.listUnder(spark, prefixes))
}

/** A [[Target]] that delegates every member and records a span around
  * each call; `statements` reads the store's statement counter, if it
  * has one, so an apply's span carries the statements it sent. */
final class TracedTarget(inner: Target, tr: Tracer,
    statements: () => Long = () => 0L) extends Target {
  private val L = Some("target")
  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val s0 = statements()
    tr.spanWith("target.apply", L)(inner.apply(spark, upserts, deleteKeys)) {
      st => Map("rows" -> (st.upserted + st.deleted).toDouble,
        "statements" -> (statements() - s0).toDouble)
    }
  }
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def containerSignature: String = inner.containerSignature
  override def truncate(spark: SparkSession): Unit =
    tr.span("target.truncate", L)(inner.truncate(spark))
  override def attachments: Seq[TargetAttachment] = inner.attachments
  override def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean): Unit =
    tr.span("target.attachment", L)(
      inner.execAttachmentSql(spark, sql, tolerateMissing))
}

object Traced {
  /** A stage with the same name, version and dependencies (so the
    * same logic fingerprint) whose planning call is spanned. */
  def stage(fn: CocoFn, tr: Tracer): CocoFn =
    fn.copy(fn = df => tr.span("transform.plan")(fn.fn(df)))

  /** Span one engine pass, recording its RunStats as attributes. */
  def pass(tr: Tracer, name: String)(body: => RunStats): RunStats =
    tr.spanWith(name, None)(body) { r =>
      Map("components" -> r.components.toDouble,
        "unchanged" -> r.unchanged.toDouble,
        "refreshed" -> r.refreshed.toDouble,
        "recomputed" -> r.recomputed.toDouble,
        "deleted" -> r.deletedComponents.toDouble,
        "ins" -> r.rowsInserted.toDouble, "upd" -> r.rowsUpdated.toDouble,
        "del" -> r.rowsDeleted.toDouble, "noop" -> r.rowsNoop.toDouble)
    }
}
