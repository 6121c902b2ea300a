package graft

import graft.operators.{CrawlRefresh, Curation}
import org.apache.spark.sql.functions._

/** The composed nightly crawl-refresh pipeline (r14 verdict task #4;
  * re-orchestrated O(slice) in r16): the production index-served pass
  * must (a) agree with the pure rescan composition, (b) re-screen
  * ONLY the diff slice, (c) rewrite ONLY the shards the night
  * touched, and (d) — the r15 verdict #1 contract — read nothing
  * corpus-sized beyond the thin index probes and the screens'
  * candidate fetches (scan-metric asserted below).
  */
class CrawlRefreshSpec extends SparkSpec {

  private def doc(i: Int, text: String) = (i.toLong, text)
  private def words(i: Int) =
    s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"

  test("nightly: 1-doc-deep delta screens 4 docs, rewrites only their shards") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString

    val snapA = (1 to 40).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val night1 = CrawlRefresh.nightly(spark, wd, snapA)
    assert(night1.bootstrap && night1.keptSize === 40)

    // snapshot B: one changed, one removed, three added (one fresh,
    // one verbatim re-crawl of doc 3, one near re-crawl of doc 4)
    val snapB = ((1 to 40).filterNot(_ == 11).map { i =>
      if (i == 7) doc(i, "rev2: " + words(i)) else doc(i, words(i))
    } ++ Seq(
      doc(100, words(900)),              // fresh — survives
      doc(101, words(3)),                // verbatim re-crawl — exact screen drops
      doc(102, "UPDATE: " + words(4))))  // near re-crawl (J=6/7) — fuzzy screen drops
      .toDF("doc_id", "text")

    // file snapshot to prove the write set is bounded
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$wd/export"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified, f.length)).toMap
    }
    val before = files()
    def shardOf(id: Long): Long = spark.range(1)
      .select(conv(substring(md5(concat(lit("shuf:"), lit(id))), 1, 1),
        16, 10).cast("long")).head.getLong(0)
    // the shards the night may legitimately touch: the changed doc,
    // the removed doc, and the one admitted survivor
    val touchable = Set(7L, 11L, 100L).map(shardOf)
    Thread.sleep(1100) // mtime granularity

    val night2 = CrawlRefresh.nightly(spark, wd, snapB)
    assert(!night2.bootstrap)
    assert(night2.sliceSize === 4, night2)    // changed 7 + added 100/101/102
    assert(night2.removedSize === 1, night2)  // doc 11
    assert(night2.screenedOut === 2, night2)  // 101 exact, 102 fuzzy
    assert(night2.keptSize === 40, night2)    // 38 unchanged + 7' + 100
    assert(night2.unchangedSize === 38, night2)

    // bounded write set: every file outside the touchable shards is
    // byte-identical (same path, mtime, size)
    val after = files()
    def untouched(m: Map[String, (Long, Long)]) = m.filterNot { case (p, _) =>
      touchable.exists(s => p.contains(s"shard=$s"))
    }
    assert(untouched(after) === untouched(before))

    // value parity: the export equals the pure rescan composition,
    // and the returned manifest matches a from-scratch recompute
    val got = spark.read.parquet(s"$wd/export")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val pure = CrawlRefresh.refreshRescan(snapA, snapB).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === pure)
    def rows(m: org.apache.spark.sql.DataFrame) = m.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rows(night2.manifest) === rows(Curation.shardManifest(
      spark.read.parquet(s"$wd/export").select("doc_id", "text"))))

    // third night, same snapshot: the two REJECTED docs are not in
    // the kept corpus, so the snapshot re-delivers them as "added"
    // and exactly they re-screen (O(rejected slice), not O(corpus));
    // both drop again and the export is byte-untouched on disk
    val before3 = files()
    val night3 = CrawlRefresh.nightly(spark, wd, snapB)
    assert(night3.sliceSize === 2 && night3.screenedOut === 2 &&
      night3.keptSize === 40, night3)
    assert(files() === before3)
  }

  test("nightly survives a zero-unchanged night and an empty snapshot") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl0")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 5).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA).keptSize === 5)

    // EVERY doc changed: phase 1 retires the whole corpus (no
    // unchanged shards) — previously this wedged the workDir (all
    // shard dirs deleted, parquet schema inference threw forever);
    // now the empty export reads as the empty relation and the
    // changed docs screen against nothing fuzzy (their old versions
    // are retired)
    val snapB = (1 to 5).map(i => doc(i, "v2: " + words(i)))
      .toDF("doc_id", "text")
    val nightB = CrawlRefresh.nightly(spark, wd, snapB)
    assert(nightB.unchangedSize === 0 && nightB.keptSize === 5, nightB)

    // an EMPTY snapshot removes everything and must not wedge either
    val empty = snapB.filter(col("doc_id") < 0)
    val nightC = CrawlRefresh.nightly(spark, wd, empty)
    assert(nightC.keptSize === 0 && nightC.removedSize === 5, nightC)

    // re-delivering previously-KEPT content after a full removal:
    // the KEY-SEMANTICS DIVERGENCE, pinned explicitly (r15 verdict
    // task #6). nightly's exact screen is EVER-SEEN — the key index
    // accumulates, so once-kept-then-removed content drops on
    // re-arrival...
    val nightD = CrawlRefresh.nightly(spark, wd, snapB)
    assert(nightD.sliceSize === 5 && nightD.keptSize === 0, nightD)
    // ...while refreshRescan screens against the CURRENT corpus only
    // (here: empty), so the SAME re-arrival is kept there. Both
    // behaviors are deliberate; see the CrawlRefresh object doc.
    val rescan = CrawlRefresh.refreshRescan(empty, snapB)
    assert(rescan.count() === 5)
  }

  test("a crashed night re-enters through the catch-up preamble: no silent dup admission") {
    // r18: the night mutates export → band index → key index in
    // sequence; a crash right after the admit export leaves kept docs
    // durable in the export with NONE of their index commits run.
    // Without the night-intent marker, the re-run reads those docs as
    // "unchanged" (export == snapshot), never indexes them, and every
    // later duplicate of exactly those docs admits SILENTLY — the
    // keyIndexAppend crash-window class one level up.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-crash")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val marker = new java.io.File(s"$wd/_graft_night_pending")
    val snapA = (1 to 40).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA).bootstrap)
    assert(!marker.exists(), "a completed night clears its marker")

    // night B admits two fresh docs, crashing after the admit export
    val snapB = ((1 to 40).map(i => doc(i, words(i))) ++
      Seq(doc(100, words(900)), doc(101, words(901))))
      .toDF("doc_id", "text")
    CrawlRefresh.nightlyCrashAfterAdmitExport = true
    try intercept[RuntimeException] {
      CrawlRefresh.nightly(spark, wd, snapB)
    } finally CrawlRefresh.nightlyCrashAfterAdmitExport = false
    assert(marker.exists(), "a crashed night leaves its marker")
    // the crash is real: the admitted docs ARE in the export
    assert(spark.read.parquet(s"$wd/export").count() === 42)

    // operator retries the same snapshot: the preamble catches the
    // index family up to the export, then the delta night is a noop
    val nightB = CrawlRefresh.nightly(spark, wd, snapB)
    assert(!nightB.bootstrap && nightB.keptSize === 42, nightB)
    assert(!marker.exists(), "the recovered night clears the marker")

    // night C carries a verbatim duplicate of one crashed-night doc
    // (new id → exact screen must drop it: proves the key index
    // caught up) and a near duplicate of the other (one-word prefix
    // edit, J = 6/7 → fuzzy screen must drop it: proves the band
    // index caught up)
    val snapC = ((1 to 40).map(i => doc(i, words(i))) ++ Seq(
      doc(100, words(900)), doc(101, words(901)),
      doc(200, words(900)), doc(201, "UPDATE: " + words(901))))
      .toDF("doc_id", "text")
    val nightC = CrawlRefresh.nightly(spark, wd, snapC)
    assert(nightC.sliceSize === 2 && nightC.screenedOut === 2, nightC)
    assert(nightC.keptSize === 42, nightC)
  }

  test("a crash inside the key-index append composes: both markers, one recovery") {
    // deeper crash point: phase 2's keyIndexAppend dies between its
    // keys write and its bloom merge — the night marker AND the
    // append-intent marker are both up. The preamble must reconcile
    // the key index via the rebuild FIRST (a plain re-append refuses
    // on the marker), then blind-append the export.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-crash2")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 30).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA).bootstrap)

    val snapB = ((1 to 30).map(i => doc(i, words(i))) ++
      Seq(doc(100, words(900)))).toDF("doc_id", "text")
    graft.operators.Dedup.keyIndexCrashAfterKeysWrite = true
    try intercept[RuntimeException] {
      CrawlRefresh.nightly(spark, wd, snapB)
    } finally graft.operators.Dedup.keyIndexCrashAfterKeysWrite = false
    assert(new java.io.File(s"$wd/_graft_night_pending").exists())
    assert(graft.operators.Dedup.keyIndexAppendPending(s"$wd/keyidx"),
      "the in-append crash leaves the append-intent marker too")

    val nightB = CrawlRefresh.nightly(spark, wd, snapB)
    assert(nightB.keptSize === 31, nightB)
    assert(!graft.operators.Dedup.keyIndexAppendPending(s"$wd/keyidx"))

    // a verbatim duplicate of the doc whose append crashed is dropped
    val snapC = ((1 to 30).map(i => doc(i, words(i))) ++
      Seq(doc(100, words(900)), doc(200, words(900))))
      .toDF("doc_id", "text")
    val nightC = CrawlRefresh.nightly(spark, wd, snapC)
    assert(nightC.sliceSize === 1 && nightC.screenedOut === 1, nightC)
    assert(nightC.keptSize === 31, nightC)
  }

  test("a crashed bootstrap re-enters the bootstrap branch and converges") {
    // the marker's kind matters: after a crashed bootstrap the export
    // DIRECTORY exists (possibly partial), so a kind-blind re-run
    // would take the refresh path against a half-provisioned workDir
    // (no key-index meta → loud wedge at best). Kind "bootstrap"
    // forces re-entry into the bootstrap branch, where every step
    // converges: exportShardsIncremental rewrites only manifest-diff
    // shards, keyIndexInit re-provisions destructively (clearing a
    // leftover append-intent marker), the flows full-run.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-crash3")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 20).map(i => doc(i, words(i))).toDF("doc_id", "text")
    graft.operators.Dedup.keyIndexCrashAfterKeysWrite = true
    try intercept[RuntimeException] {
      CrawlRefresh.nightly(spark, wd, snapA)
    } finally graft.operators.Dedup.keyIndexCrashAfterKeysWrite = false
    // the crash is real: export written, marker kind = bootstrap,
    // key index mid-append
    assert(new java.io.File(s"$wd/export").isDirectory)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$wd/_graft_night_pending")), "UTF-8")
      .startsWith("bootstrap"))

    val redo = CrawlRefresh.nightly(spark, wd, snapA)
    assert(redo.bootstrap && redo.keptSize === 20, redo)
    assert(!new java.io.File(s"$wd/_graft_night_pending").exists())
    // the re-provisioned index screens: a verbatim re-crawl drops
    val snapB = ((1 to 20).map(i => doc(i, words(i))) ++
      Seq(doc(100, words(3)))).toDF("doc_id", "text")
    val nightB = CrawlRefresh.nightly(spark, wd, snapB)
    assert(nightB.sliceSize === 1 && nightB.screenedOut === 1, nightB)
  }

  test("refreshRescan composes diff + both screens (pure form)") {
    import spark.implicits._
    val snapA = (1 to 20).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val snapB = ((1 to 20).filterNot(_ == 5).map(i => doc(i, words(i))) ++
      Seq(doc(50, words(800)), doc(51, words(2)),
        doc(52, "UPDATE: " + words(3))))
      .toDF("doc_id", "text")
    val out = CrawlRefresh.refreshRescan(snapA, snapB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 5 removed; 51 exact-dups doc 2; 52 near-dups doc 3; 50 fresh
    assert(out === ((1 to 20).filterNot(_ == 5).map(_.toLong).toSet + 50L))
  }

  // ---- the embedding screen (r15 verdict task #3) --------------------------

  private def bowScreen = CrawlRefresh.EmbedScreen(
    embed = df => df.withColumn("embedding",
      graft.functions.HashEmbedder.embedBow(col("text"), 8)),
    threshold = 0.99)

  private def reversed(text: String): String =
    text.split(" ").reverse.mkString(" ")

  test("embedding screen catches word-reordered re-crawls both forms, in parity") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-emb")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString

    val snapA = (1 to 30).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val night1 = CrawlRefresh.nightly(spark, wd, snapA,
      embedScreen = Some(bowScreen))
    assert(night1.bootstrap && night1.keptSize === 30)

    // slice: a fresh doc (survives all three screens), a verbatim
    // re-crawl (exact screen), a prefix-edited re-crawl (fuzzy
    // screen), and a word-REVERSED re-crawl — identical bag of
    // words ⇒ identical BOW embedding (cosine 1.0), but its 3-gram
    // shingles share NOTHING with the original (J = 0): the exact
    // and fuzzy screens are blind to it, ONLY the embedding screen
    // drops it
    val snapB = ((1 to 30).map(i => doc(i, words(i))) ++ Seq(
      doc(200, words(901)),
      doc(201, words(6)),
      doc(202, "UPDATE: " + words(8)),
      doc(203, reversed(words(9)))))
      .toDF("doc_id", "text")

    // sanity: the reversal really is invisible to Jaccard at 3-grams
    val jail = CrawlRefresh.refreshRescan(snapA, snapB) // NO embed screen
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(jail.contains(203L),
      "the reversed doc must SURVIVE the exact+fuzzy screens — " +
        "otherwise this test proves nothing about the embedding screen")

    val night2 = CrawlRefresh.nightly(spark, wd, snapB,
      embedScreen = Some(bowScreen))
    assert(night2.sliceSize === 4, night2)
    assert(night2.screenedOut === 3, night2) // 201 exact, 202 fuzzy, 203 embed
    assert(night2.keptSize === 31, night2)   // 30 unchanged + 200

    // parity with the pure rescan form carrying the same screen
    val got = spark.read.parquet(s"$wd/export")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val pure = CrawlRefresh.refreshRescan(snapA, snapB,
      embedScreen = Some(bowScreen)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === pure)

    // a 1-doc edit next: only that component re-embeds/re-codes
    // through the SRP flow (O(batch) reconcile), and the screen still
    // agrees with the rescan twin run from the night-2 corpus
    val snapC = snapB.withColumn("text",
      when(col("doc_id") === 5, lit("rewritten " + words(500)))
        .otherwise(col("text")))
    val night3 = CrawlRefresh.nightly(spark, wd, snapC,
      embedScreen = Some(bowScreen))
    // slice: changed 5 + re-delivered rejects 201/202/203
    assert(night3.sliceSize === 4, night3)
    assert(night3.screenedOut === 3, night3)
    assert(night3.keptSize === 31, night3) // 30 unchanged + 5'
    val pureC = CrawlRefresh.refreshRescan(
      got.toSeq.toDF("doc_id", "text"), snapC,
      embedScreen = Some(bowScreen)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val gotC = spark.read.parquet(s"$wd/export")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotC === pureC)
  }

  // ---- scan-metric contract (r15 verdict task #1) ---------------------------

  /** Tallies parquet-scan volume via task input metrics. */
  private final class ScanTally
      extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.inputMetrics.bytesRead)
        records.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    def snapshot(): (Long, Long) = { Thread.sleep(300); (bytes.get, records.get) }
  }

  test("a 1-doc CDC night reads no corpus-sized input beyond the probes") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-scan")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val n = 3000
    // FAT, incompressible rows (~5.4 KB of md5 text each, ~16 MB of
    // corpus parquet) so full-text corpus passes dominate bytesRead
    // over the engine's thin fixed-size table traffic — the r15
    // regression this test exists to catch is measured in corpus-text
    // passes, not in thin metadata rows
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    def fat(i: Int): String =
      (0 until 320).map(j => h(s"$i:$j")).mkString(" ")
    val snapA = (1 to n).map(i => doc(i, fat(i))).toDF("doc_id", "text")
    CrawlRefresh.nightly(spark, wd, snapA, hexDigits = 2)

    val corpusBytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length
        else 0L
      walk(new java.io.File(s"$wd/export"))
    }

    // night 2: ONE changed doc, delivered through the CDC feed — no
    // snapshot diff, export reads pruned to the key's shard
    val snapB = snapA.withColumn("text",
      when(col("doc_id") === 77, lit("rev2: " + fat(77)))
        .otherwise(col("text")))
    val feed = () => new graft.engine.SourceWatcher {
      private var drained = false
      def drain(): (Seq[String], Boolean) =
        if (drained) (Nil, false)
        else { drained = true; (Seq("77"), false) }
      def close(): Unit = ()
    }
    val tally = new ScanTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val night2 = CrawlRefresh.nightly(spark, wd, snapB, hexDigits = 2,
        changeFeed = Some(feed))
      assert(night2.sliceSize === 1 && night2.keptSize === n, night2)
    } finally ()
    val (bytesRead, recordsRead) = tally.snapshot()
    spark.sparkContext.removeSparkListener(tally)

    info(f"1-doc night: bytesRead=$bytesRead%,d corpusBytes=$corpusBytes%,d " +
      f"recordsRead=$recordsRead%,d")
    // Budget decomposition for the night's parquet reads:
    //   - flow delta re-stats: pushed-down key filters over the
    //     export (parquet row-group pruning; worst case a shard),
    //     plus the flow state's THIN memo/tracking tables (O(n)
    //     short rows per reconcile);
    //   - the exact screen: bloom load (no scan) + ONE pruned keys
    //     partition;
    //   - the fuzzy screen: the thin band-index probe (16 rows/doc,
    //     ~40 B each) and the candidate verify's corpus fetch —
    //     with the r17 typed-key KeyedFetch an EMPTY/bounded
    //     candidate set never scans the corpus text column at all
    //     (this night's 1 changed doc has disjoint md5 tokens →
    //     zero band candidates → zero-fetch);
    //   - exportApplyDelta: the touched shard (~1/256 of the corpus
    //     at hexDigits=2), twice.
    // The r15 orchestration materialized the corpus-sized unchanged
    // set and re-aggregated the full manifest twice; the r16 tree's
    // string-cast fetch tolerated a further FULL text pass per batch
    // — the old 2.5-pass budget existed for exactly that scan (r16
    // verdict task #2). With the typed-key fetch the whole night fits
    // a 0.3-pass fraction + thin-row headroom. The headroom is sized
    // to DISCRIMINATE, not just to pass: measured thin traffic is
    // ~14.9 MB (flow memo/tracking + band-index reads, O(n) short
    // rows), the bound ~21 MB leaves ~40% slack, and ONE re-grown
    // full text pass (+corpusBytes ≈ +16.5 MB) overshoots it by ~50%
    // — at the old 30 MB headroom that single-pass regression would
    // have still PASSED at this corpus size.
    assert(bytesRead < (0.3 * corpusBytes).toLong + (16L << 20),
      s"1-doc night read $bytesRead parquet bytes against a " +
        s"$corpusBytes-byte corpus — a corpus-sized orchestration " +
        "or unpruned-fetch pass is back")
    // record-shape guard: thin passes are O(n) rows each — the
    // measured night is ~142 rows/doc (dominated by the flow's
    // target-row tracking table, 16 band rows/doc × a few engine
    // passes per reconcile); a quadratic or repeated-full-scan
    // regression lands far above 2× that
    assert(recordsRead < 300L * n + 20000,
      s"1-doc night read $recordsRead parquet records (n=$n)")
  }

  // ---- delta-log export layout (r18: the write-amplification fix) ---------

  private def deltaExportRead(wd: String, buckets: Int = 64) =
    graft.engine.ParquetTableTarget(s"$wd/export", numBuckets = buckets,
      deltaLog = true).read(spark).select("doc_id", "text")

  test("delta-log export: a night appends O(delta) segments, never the base") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dl")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 40).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val night1 = CrawlRefresh.nightly(spark, wd, snapA,
      exportDeltaLog = true)
    assert(night1.bootstrap && night1.keptSize === 40)
    assert(new java.io.File(s"$wd/export/base/g=0/_graft_committed")
      .exists(), "bootstrap lands as a committed base generation")

    val snapB = ((1 to 40).filterNot(_ == 11).map { i =>
      if (i == 7) doc(i, "rev2: " + words(i)) else doc(i, words(i))
    } ++ Seq(
      doc(100, words(900)),              // fresh — survives
      doc(101, words(3)),                // verbatim re-crawl — exact drops
      doc(102, "UPDATE: " + words(4))))  // near re-crawl — fuzzy drops
      .toDF("doc_id", "text")

    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$wd/export"))
        // _schema.json is a sidecar the target re-saves per apply
        // (schema evolution), not data
        .filterNot(_.getName == "_schema.json")
        .map(f => f.getPath -> (f.lastModified, f.length)).toMap
    }
    val before = files()
    Thread.sleep(1100) // mtime granularity

    val night2 = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true)
    assert(night2.sliceSize === 4 && night2.removedSize === 1 &&
      night2.screenedOut === 2 && night2.keptSize === 40 &&
      night2.unchangedSize === 38, night2)

    // the write set is the night's segments and NOTHING else: every
    // pre-existing file (the whole base generation included) is
    // byte-identical — the shard layout's "only touched shards"
    // bound tightened to "no current data at all"
    val after = files()
    assert(after.view.filterKeys(before.contains).toMap === before,
      "a delta-log night must not touch existing export files")
    val newFiles = after.view.filterKeys(!before.contains(_)).toMap
    assert(newFiles.keys.forall(_.contains("/delta/seg=")),
      s"night writes land only in delta segments: ${newFiles.keys}")
    val newBytes = newFiles.values.map(_._2).sum
    assert(newBytes < (64 << 10),
      s"a 4-doc night appended $newBytes bytes — not O(delta)")

    // value parity with the pure rescan composition
    val got = deltaExportRead(wd).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val pure = CrawlRefresh.refreshRescan(snapA, snapB).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === pure)

    // re-delivered rejects re-screen and drop; the export is
    // byte-untouched (no empty segments are appended)
    val before3 = files()
    val night3 = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true)
    assert(night3.sliceSize === 2 && night3.screenedOut === 2 &&
      night3.keptSize === 40, night3)
    assert(files() === before3)

    // handoff: fold + manifest — hash-identical to the shard
    // layout's nightly manifest semantics (the q144 oracle contract)
    val manifest = CrawlRefresh.nightlyExportHandoff(spark, wd)
    def rows(m: org.apache.spark.sql.DataFrame) = m.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rows(manifest) === rows(Curation.shardManifest(
      deltaExportRead(wd))))
    assert(!new java.io.File(s"$wd/export/delta").isDirectory ||
      Option(new java.io.File(s"$wd/export/delta").listFiles())
        .getOrElse(Array.empty).isEmpty,
      "handoff folds every segment into the new base generation")
    assert(deltaExportRead(wd).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === pure,
      "the folded base serves the same corpus")
  }

  test("delta-log export: a crashed night recovers through the preamble") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dlc")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val marker = new java.io.File(s"$wd/_graft_night_pending")
    val snapA = (1 to 40).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA,
      exportDeltaLog = true).bootstrap)

    val snapB = ((1 to 40).map(i => doc(i, words(i))) ++
      Seq(doc(100, words(900)), doc(101, words(901))))
      .toDF("doc_id", "text")
    CrawlRefresh.nightlyCrashAfterAdmitExport = true
    try intercept[RuntimeException] {
      CrawlRefresh.nightly(spark, wd, snapB, exportDeltaLog = true)
    } finally CrawlRefresh.nightlyCrashAfterAdmitExport = false
    assert(marker.exists(), "a crashed night leaves its marker")
    // the crash is real: the admit segment committed atomically
    assert(deltaExportRead(wd).count() === 42)

    val nightB = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true)
    assert(!nightB.bootstrap && nightB.keptSize === 42, nightB)
    assert(!marker.exists())

    // verbatim + near duplicates of the crashed-night docs drop —
    // the catch-up preamble reconciled both index families over the
    // delta-log store's merged read
    val snapC = ((1 to 40).map(i => doc(i, words(i))) ++ Seq(
      doc(100, words(900)), doc(101, words(901)),
      doc(200, words(900)), doc(201, "UPDATE: " + words(901))))
      .toDF("doc_id", "text")
    val nightC = CrawlRefresh.nightly(spark, wd, snapC,
      exportDeltaLog = true)
    assert(nightC.sliceSize === 2 && nightC.screenedOut === 2 &&
      nightC.keptSize === 42, nightC)
  }

  test("delta-log export: zero-unchanged and empty-snapshot nights survive") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dl0")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 5).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA,
      exportDeltaLog = true).keptSize === 5)
    val snapB = (1 to 5).map(i => doc(i, "v2: " + words(i)))
      .toDF("doc_id", "text")
    val nightB = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true)
    assert(nightB.unchangedSize === 0 && nightB.keptSize === 5, nightB)
    val empty = snapB.filter(col("doc_id") < 0)
    val nightC = CrawlRefresh.nightly(spark, wd, empty,
      exportDeltaLog = true)
    assert(nightC.keptSize === 0 && nightC.removedSize === 5, nightC)
    assert(deltaExportRead(wd).isEmpty,
      "an all-tombstone export serves the empty relation")
    // re-adding after total retirement converges (ever-kept key
    // semantics: the VERBATIM old docs stay blocked; v3 content lands)
    val snapD = (1 to 5).map(i => doc(i, "v3: " + words(i)))
      .toDF("doc_id", "text")
    val nightD = CrawlRefresh.nightly(spark, wd, snapD,
      exportDeltaLog = true)
    assert(nightD.keptSize === 5, nightD)
  }

  test("delta-log export: handoff compacts under the PROVISIONED bucket count") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dlh")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 40).map(i => doc(i, words(i))).toDF("doc_id", "text")
    // non-default bucket count: a handoff that trusted a caller
    // default (64) instead of the meta sidecar would compact the base
    // into a placement the next night's 32-bucket writer and
    // bucket-pruned CDC slice do not share — changed docs' old
    // versions would be missed and survive as duplicate ids
    assert(CrawlRefresh.nightly(spark, wd, snapA, exportDeltaLog = true,
      exportBuckets = 32).bootstrap)
    val snapB = ((1 to 40).map { i =>
      if (i <= 8) doc(i, "rev2: " + words(i)) else doc(i, words(i))
    }).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapB, exportDeltaLog = true,
      exportBuckets = 32).removedSize === 0)
    val manifest = CrawlRefresh.nightlyExportHandoff(spark, wd)
    assert(manifest.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head.getLong(0) === 40)
    // post-handoff night over the folded base: a CDC change must
    // still find (and retire) its old version through the pruned slice
    val feed = () => new graft.engine.SourceWatcher {
      private var drained = false
      def drain(): (Seq[String], Boolean) =
        if (drained) (Nil, false) else { drained = true; (Seq("3"), false) }
      def close(): Unit = ()
    }
    val snapC = ((1 to 40).map { i =>
      if (i == 3) doc(i, "rev3: " + words(i))
      else if (i <= 8) doc(i, "rev2: " + words(i)) else doc(i, words(i))
    }).toDF("doc_id", "text")
    val nightC = CrawlRefresh.nightly(spark, wd, snapC,
      exportDeltaLog = true, exportBuckets = 32, changeFeed = Some(feed))
    assert(nightC.sliceSize === 1 && nightC.keptSize === 40, nightC)
    val texts = deltaExportRead(wd, buckets = 32)
      .filter(col("doc_id") === 3)
      .collect().map(_.getString(1)).toSeq
    assert(texts === Seq("rev3: " + words(3)),
      s"doc 3 must hold exactly its newest version, got $texts")
  }

  test("delta-log export: default bucket count derives at bootstrap, adopts after") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dlb")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 30).map(i => doc(i, words(i))).toDF("doc_id", "text")
    // sentinel default: the bootstrap derives the count from the
    // snapshot's estimated bytes — a toy snapshot clamps to the floor
    assert(CrawlRefresh.nightly(spark, wd, snapA,
      exportDeltaLog = true).bootstrap)
    val meta = graft.engine.Sidecar.read(
      new java.io.File(wd, "_graft_export_meta.json")).get
    assert(meta("buckets").toInt === 8,
      s"toy snapshot must clamp to the 8-bucket floor, got $meta")
    // a later default night ADOPTS the provisioned value (no refusal,
    // no re-derivation from tonight's differently-sized snapshot)...
    val snapB = (1 to 31).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val nightB = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true)
    assert(nightB.keptSize === 31, nightB)
    // ...an explicit MATCHING value passes, and a mismatch still
    // refuses (covered again in the mismatch test below)
    val nightC = CrawlRefresh.nightly(spark, wd, snapB,
      exportDeltaLog = true, exportBuckets = 8)
    assert(nightC.keptSize === 31, nightC)
  }

  test("delta-log export: layout and bucket-count mismatches refuse loudly") {
    import spark.implicits._
    val snapA = (1 to 5).map(i => doc(i, words(i))).toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-dlm")
    work.toFile.deleteOnExit()

    val wdShard = work.resolve("shard").toString
    CrawlRefresh.nightly(spark, wdShard, snapA)
    val e1 = intercept[IllegalStateException] {
      CrawlRefresh.nightly(spark, wdShard, snapA, exportDeltaLog = true)
    }
    assert(e1.getMessage.contains("shard="), e1.getMessage)

    val wdDelta = work.resolve("delta").toString
    CrawlRefresh.nightly(spark, wdDelta, snapA, exportDeltaLog = true)
    val e2 = intercept[IllegalStateException] {
      CrawlRefresh.nightly(spark, wdDelta, snapA)
    }
    assert(e2.getMessage.contains("delta-log"), e2.getMessage)
    val e3 = intercept[IllegalStateException] {
      CrawlRefresh.nightly(spark, wdDelta, snapA, exportDeltaLog = true,
        exportBuckets = 32)
    }
    assert(e3.getMessage.contains("container identity"), e3.getMessage)
  }

  test("a null snapshot id fails as null ids, not as a duplicate") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-crawl-nullid")
    work.toFile.deleteOnExit()
    val wd = work.resolve("state").toString
    val snapA = (1 to 5).map(i => doc(i, words(i))).toDF("doc_id", "text")
    assert(CrawlRefresh.nightly(spark, wd, snapA).keptSize === 5)

    // one row without an id: the diff classifies it "added" with a
    // null id, which countDistinct alone would misreport as a duplicate
    val nullRow = spark.range(1).select(lit(null).cast("long").as("doc_id"),
      lit(words(99)).as("text"))
    val e1 = intercept[IllegalArgumentException] {
      CrawlRefresh.nightly(spark, wd, snapA.unionByName(nullRow))
    }
    assert(e1.getMessage.contains("null ids") &&
      !e1.getMessage.contains("duplicate"), e1.getMessage)

    // a real duplicate still reports as one
    val dup = Seq(doc(100, words(100)), doc(100, words(101)))
      .toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      CrawlRefresh.nightly(spark, wd, snapA.unionByName(dup))
    }
    assert(e2.getMessage.contains("duplicate ids"), e2.getMessage)

    // both checks fail before the night's first mutation: a clean
    // snapshot still runs as an ordinary night afterwards
    val night = CrawlRefresh.nightly(spark, wd, snapA)
    assert(!night.bootstrap && night.sliceSize === 0 &&
      night.keptSize === 5, night)
  }
}
