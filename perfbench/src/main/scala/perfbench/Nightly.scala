package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SourceWatcher
import graft.operators.CrawlRefresh

/** `nightly`: the crawl refresh (`CrawlRefresh.nightly`) with the
  * delta-log export. A bootstrap over a seeded snapshot, then fixed-
  * size nights fed through a change feed, each with removals, edits,
  * fresh adds and planted exact and near duplicates. The dedup
  * screens, the key index and the export segment log do the work —
  * the program's most job-heavy path, which no other workload runs. */
object Nightly {
  val NumDocs = 5000
  val Removed = 100
  val Edited = 100
  val Fresh = 100
  val ExactDups = 50
  val NearDups = 50
  val SetupReps = 3
  val EmptyNights = 5

  /** The ids each night touches, disjoint across nights: removals and
    * edits come from the upper half of the corpus, duplicate sources
    * from the lower half (never touched, so always in the corpus). */
  final case class Night(k: Int, removed: Seq[Long], edited: Seq[Long],
      fresh: Seq[Long], exactSrc: Seq[Long], nearSrc: Seq[Long],
      dupIds: Seq[Long]) {
    def added: Seq[Long] = fresh ++ dupIds
    def keys: Seq[String] = (removed ++ edited ++ added).map(_.toString)
  }

  def night(seed: Long, k: Int): Night = {
    val half = NumDocs / 2
    val per = Removed + Edited
    require((k + 1) * per <= half, s"night $k exceeds the corpus's edit range")
    val touched = Corpus.sample(Corpus.subSeed(seed, "upper", 0), half, half)
      .slice(k * per, (k + 1) * per).map(i => (half + i).toLong)
    val dupSrc = Corpus.sample(Corpus.subSeed(seed, "night", k), half,
      ExactDups + NearDups).map(_.toLong)
    val base = NumDocs.toLong + k * 1000L
    Night(k, touched.take(Removed), touched.drop(Removed),
      (0 until Fresh).map(base + _), dupSrc.take(ExactDups),
      dupSrc.drop(ExactDups), (0 until ExactDups + NearDups).map(base + Fresh + _))
  }

  /** 40 seeded 8-hex-char tokens per (prefix, id). */
  def tokens(seed: Long, prefix: String, id: Column): Column =
    concat_ws(" ", (0 until 40).map(j =>
      substring(md5(concat(lit(s"$seed:$prefix:"), id, lit(s":$j"))), 1, 8)): _*)

  def snapshot0(spark: SparkSession, seed: Long): DataFrame =
    spark.range(NumDocs).toDF("id")
      .select(col("id").as("doc_id"), tokens(seed, "w", col("id")).as("text"))

  /** Night k's snapshot from the previous one. */
  def next(spark: SparkSession, prev: DataFrame, seed: Long, n: Night)
      : DataFrame = {
    import spark.implicits._
    val kept = prev.filter(!col("doc_id").isin(n.removed: _*))
      .select(col("doc_id"),
        when(col("doc_id").isin(n.edited: _*),
          concat(lit(s"rev${n.k}: "), col("text"))).otherwise(col("text"))
          .as("text"))
    val src = (n.exactSrc ++ n.nearSrc).zip(n.dupIds).zipWithIndex.map {
      case ((s, id), i) => (s, id, i < ExactDups)
    }.toDF("src", "doc_id", "exact")
    val dups = src.join(prev.withColumnRenamed("doc_id", "src"), "src")
      .select(col("doc_id"), when(col("exact"), col("text"))
        .otherwise(concat(lit("UPDATE: "), col("text"))).as("text"))
    val fresh = n.fresh.toDF("doc_id")
      .select(col("doc_id"), tokens(seed, s"f${n.k}", col("doc_id")).as("text"))
    kept.unionByName(dups).unionByName(fresh)
  }

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val rep = new Report
    val tr = ctx.tracer
    val phase = new PhaseClock(rep)
    def snapPath(i: Int) = ctx.work.resolve(s"snap$i").toString

    // ---- set-up: write the seeded snapshot, repeated
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Passes.inLayer(spark, "input")(
        snapshot0(spark, ctx.seed).write.mode("overwrite").parquet(snapPath(0)))
      (System.nanoTime() - t0) / 1e9
    }
    rep.end("setup_s", ctx.sessionS + Stats.median(setupS))
    phase("setup")

    val wd = ctx.work.resolve("nightly").toString
    val stateDir = ctx.work.resolve("nightly").resolve("mhstate")
    val expectedKeys = NumDocs + 100000L
    def feedOf(keys: Seq[String]) = () => new SourceWatcher {
      private var drained = false
      def drain(): (Seq[String], Boolean) =
        if (drained) (Nil, false) else { drained = true; (keys, false) }
      def close(): Unit = ()
    }
    // the snapshot a night reads is its source
    def read(snap: String) = Passes.inLayer(spark, "source")(spark.read.parquet(snap))
    /** One night; None when it threw (counted failed by measure). */
    def runNight(snap: String, feed: Option[Seq[String]], name: String) = {
      var out: Option[CrawlRefresh.NightlyStats] = None
      val p = Passes.measure(ctx, rep, name, stateDir) {
        out = Some(CrawlRefresh.nightly(spark, wd, read(snap),
          expectedKeys = expectedKeys, hexDigits = 2, exportDeltaLog = true,
          changeFeed = feed.map(feedOf)))
        Passes.Empty
      }
      (out, p)
    }

    // ---- bootstrap
    val (boot, b) = runNight(snapPath(0), None, "flow.build")
    rep.check(boot.exists(s => s.bootstrap && s.keptSize == NumDocs),
      s"bootstrap: $boot")
    rep.end("build_docs_per_s", NumDocs / b.s)
    var kept = NumDocs.toLong
    phase("bootstrap")

    // ---- nights for the window
    val nights = mutable.ArrayBuffer.empty[PassRec]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val windowEnd = System.nanoTime() + ctx.seconds * 1000000000L
    while (nights.isEmpty || System.nanoTime() < windowEnd) {
      val n = night(ctx.seed, nights.length)
      val path = snapPath(nights.length + 1)
      Passes.inLayer(spark, "input")(
        next(spark, spark.read.parquet(snapPath(nights.length)), ctx.seed, n)
          .write.mode("overwrite").parquet(path))
      val (st, p) = runNight(path, Some(n.keys), "flow.pass")
      val want = (Edited + n.added.size, Removed, ExactDups + NearDups,
        kept - Removed + Fresh)
      val got = st.map(s => (s.sliceSize, s.removedSize, s.screenedOut, s.keptSize))
      rep.check(st.exists(!_.bootstrap) && got.contains(want),
        s"night ${n.k}: expected (slice, removed, screened, kept) = $want, got $got")
      kept = want._4
      fresh ++= Iterator.fill(n.keys.size)(p.ms)
      nights += p
    }
    val tail = Stats.tail(fresh.toSeq).get
    rep.end("freshness_p50_ms", Stats.median(fresh.toSeq))
    rep.end("freshness_tail_ms", tail.value)
    rep.notes("freshness_tail") = tail
    rep.notes("nights") = nights.length
    rep.end("pass_jobs", Passes.med(nights.map(_.jobs.jobs.toDouble)))
    phase("nights")

    // ---- nights with an empty change feed: nothing moves
    val warm = (1 to EmptyNights).map { _ =>
      val (st, p) = runNight(snapPath(nights.length), Some(Nil), "flow.warm")
      rep.check(st.exists(s => s.sliceSize == 0 && s.removedSize == 0 &&
        s.keptSize == kept), s"empty night changed something: $st")
      p.s
    }
    rep.end("warm_pass_s", Stats.median(warm))
    phase("warm")

    if (tr.on) {
      Passes.layers(rep, tr, nights.toSeq, 0L, Nil, stateDir)
      rep.per("night_s", Passes.med(nights.map(_.s)))
      for (ph <- Seq("diff", "retire", "screens", "admit")) {
        rep.per(s"nightly.$ph.ms", Passes.med(nights.map(
          _.jobs.byPhase.get(ph).fold(0.0)(_._2.toDouble))))
        rep.per(s"nightly.$ph.jobs", Passes.med(nights.map(
          _.jobs.byPhase.get(ph).fold(0.0)(_._1.toDouble))))
      }
      rep.per("nightly.read_mb", Passes.med(nights.map(_.jobs.inBytes / 1048576.0)))
      rep.per("nightly.shuffle_mb",
        Passes.med(nights.map(_.jobs.shuffleBytes / 1048576.0)))
      rep.per("nightly.write_mb", Passes.med(nights.map(_.jobs.outBytes / 1048576.0)))
      // the night's source is the snapshot it reads: the full scan probe
      rep.per("source.list_ms", Passes.probeMs(spark, 3)(
        spark.read.parquet(snapPath(nights.length)).write.format("noop")
          .mode("overwrite").save()))
      rep.per("source.items", kept.toDouble)
      rep.notes("night_phases") = nights.map(_.jobs.byPhase)
    }
    rep
  }
}
