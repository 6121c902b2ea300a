package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** Provider-generation semantics of the table-transition planner —
  * the engine-level counterpart of [[StateDiffSpec]], mirroring the
  * reference's golden suite
  * (python/tests/core/test_provider_generation.py:138-215):
  * destructive transitions truncate + re-insert everything and the
  * NEXT run restores memo hits; lossy ones force-upsert matching
  * fingerprints once; additive schema changes backfill in place; a
  * crash between truncate and state commit converges on rerun.
  */
class ProviderGenerationSpec extends SparkSpec {

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

  private def seed(src: Path): Unit = {
    write(src, "a.md", "alpha content")
    write(src, "b.md", "bravo content")
    write(src, "c.md", "charlie content")
  }

  /** One row per file; `value` cast to `castTo` so a retype between
    * runs keeps the JSON rendering (and thus value_fp) identical —
    * isolating the LOSSY force-upsert from an ordinary value change. */
  private def stage(castTo: String = "int") = CocoFn(
    "len", 1, deps = Seq.empty,
    fn = df => df.select(col("item_key"),
      concat(col("item_key"), lit("#0")).as("row_key"),
      length(graft.engine.Source.textOf(col("content")))
        .cast(castTo).as("value")))

  private def mkFlow(src: Path, tgt: Path, st: Path, buckets: Int = 4,
      castTo: String = "int", target: Target = null,
      managedBy: StateDiff.ManagedBy = StateDiff.SystemManaged): Flow = {
    val t = Option(target).getOrElse(
      ParquetTableTarget(tgt.toString, numBuckets = buckets))
    new Flow("gen", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage(castTo)), t, st.toString, managedBy = managedBy)
  }

  private def targetState(st: Path): (String, Long, Long) = {
    val rows = new StateStore(spark, st.toString)
      .read("target_state", StateStore.TargetStateSchema).collect()
    assert(rows.length == 1, s"expected one target_state row, got ${rows.length}")
    (rows.head.getString(0), rows.head.getLong(3), rows.head.getLong(4))
  }

  test("destructive bucket change: truncate + all-insert, then memo hits restore") {
    val (src, tgt, st) = (tmpDir("d-src"), tmpDir("d-tgt"), tmpDir("d-st"))
    seed(src)
    val flow4 = mkFlow(src, tgt, st, buckets = 4)
    val r1 = flow4.run(spark)
    assert(r1.rowsInserted == 3)
    val (_, pid0, _) = targetState(st)

    // bucket-layout change = container identity change ⇒ destructive:
    // memoized components re-run despite identical logic+content, the
    // tracking baseline is void so every row INSERTS (no updates, no
    // per-row deletes), and the provider id bumps
    val flow8 = mkFlow(src, tgt, st, buckets = 8)
    val r2 = flow8.run(spark)
    assert(r2.recomputed == 3 && r2.unchanged == 0,
      s"destructive must invalidate the memo: $r2")
    assert(r2.rowsInserted == 3 && r2.rowsUpdated == 0 && r2.rowsDeleted == 0,
      s"destructive voids the baseline — all rows insert: $r2")
    val (sig, pid1, _) = targetState(st)
    assert(sig.contains("buckets=8"))
    assert(pid1 == pid0 + 1, "destructive bumps provider_id")

    // converged: no duplicate rows, and the new layout is in place
    val rows = flow8.target.read(spark)
    assert(rows.count() == 3)
    assert(rows.groupBy("row_key").count().filter(col("count") > 1).count() == 0)

    // next run: generation stable ⇒ optimization restored
    // (test_destructive_then_normal_restores_optimization)
    val r3 = flow8.run(spark)
    assert(r3.isNoop && r3.unchanged == 3, s"memo hits must restore: $r3")
    assert(targetState(st)._2 == pid1, "provider_id stable once committed")

    // a bucket-KEY change (same count, different placement expression —
    // the FTS term-bucketing knob) is equally a layout identity change:
    // destructive reindex, provider bump, then stability
    val flowK = mkFlow(src, tgt, st, target = ParquetTableTarget(
      tgt.toString, numBuckets = 8,
      bucketKeySql = "substring(row_key, 1, 1)"))
    val rK = flowK.run(spark)
    assert(rK.recomputed == 3 && rK.rowsInserted == 3, s"$rK")
    val (sigK, pidK, _) = targetState(st)
    assert(sigK.contains("bkey=substring(row_key, 1, 1)"))
    assert(pidK == pid1 + 1)
    assert(flowK.run(spark).isNoop)
  }

  test("target dir change is a container swap: ALL rows materialize at the new location") {
    val (src, tgtA, tgtB, st) =
      (tmpDir("mv-src"), tmpDir("mv-tgtA"), tmpDir("mv-tgtB"), tmpDir("mv-st"))
    seed(src)
    mkFlow(src, tgtA, st).run(spark)

    // same flow, relocated target dir: nothing changed item-wise, but
    // the container signature differs ⇒ destructive full backfill —
    // unchanged items' rows must NOT silently stay only in the old dir
    val moved = mkFlow(src, tgtB, st)
    val r = moved.run(spark)
    assert(r.rowsInserted == 3, s"relocation must backfill everything: $r")
    assert(moved.target.read(spark).count() == 3,
      "every tracked row materializes at the new location")
    assert(moved.run(spark).isNoop)
  }

  test("lossy column retype: matching fingerprints force-upsert once, then restore") {
    val (src, tgt, st) = (tmpDir("l-src"), tmpDir("l-tgt"), tmpDir("l-st"))
    seed(src)
    mkFlow(src, tgt, st, castTo = "int").run(spark)
    val (_, pid0, sv0) = targetState(st)

    // int → bigint: JSON rendering identical ⇒ value_fp identical ⇒
    // without the lossy plan these rows would be pure noops. The lossy
    // transition must re-upsert them defensively (the container may
    // have dropped column data the fingerprints can't see) and bump
    // schema_version, NOT provider_id — and never truncate
    val retyped = mkFlow(src, tgt, st, castTo = "bigint")
    val r = retyped.run(spark)
    assert(r.recomputed == 3, s"schema change recomputes: $r")
    assert(r.rowsUpdated == 3 && r.rowsNoop == 0,
      s"lossy must force updates on fingerprint-matching rows: $r")
    assert(r.rowsInserted == 0 && r.rowsDeleted == 0,
      s"lossy is in-place — an insert would mean the baseline was voided: $r")
    val (_, pid1, sv1) = targetState(st)
    assert(pid1 == pid0 && sv1 == sv0 + 1,
      s"lossy bumps schema_version only: pid $pid0→$pid1, sv $sv0→$sv1")

    // next run: optimization restored
    // (test_lossy_then_normal_restores_optimization)
    assert(retyped.run(spark).isNoop)
    assert(targetState(st)._3 == sv1)
  }

  test("nullable column add backfills in place with no generation bump") {
    val (src, tgt, st) = (tmpDir("add-src"), tmpDir("add-tgt"), tmpDir("add-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    flow.run(spark)
    val (_, pid0, sv0) = targetState(st)

    val extra = CocoFn("extra", 1, fn = df =>
      df.withColumn("doubled", col("value") * 2))
    val evolved = new Flow("gen", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage(), extra), ParquetTableTarget(tgt.toString, 4), st.toString)
    val r = evolved.run(spark)
    assert(r.recomputed == 3 && r.rowsUpdated == 3 && r.rowsInserted == 0,
      s"column add rewrites rows in place: $r")
    val (_, pid1, sv1) = targetState(st)
    assert(pid1 == pid0 && sv1 == sv0,
      "adding a column loses nothing — no generation bump")
    assert(evolved.run(spark).isNoop)
  }

  test("crash between truncate and state commit: destructive re-plans and converges") {
    val (src, tgt, st) = (tmpDir("cr-src"), tmpDir("cr-tgt"), tmpDir("cr-st"))
    seed(src)
    mkFlow(src, tgt, st, buckets = 4).run(spark)

    // the new-layout target really truncates and really applies, then
    // dies before the engine can commit state — the window where the
    // container is rebuilt but the stored record still says buckets=4
    val real8 = ParquetTableTarget(tgt.toString, numBuckets = 8)
    val crashing = new Target {
      override def containerSignature: String = real8.containerSignature
      override def truncate(s: SparkSession): Unit = real8.truncate(s)
      def apply(s: SparkSession, up: DataFrame, del: DataFrame): TargetStats = {
        val st = real8.apply(s, up, del)
        throw new RuntimeException("simulated crash after truncate+apply")
      }
      def read(s: SparkSession): DataFrame = real8.read(s)
    }
    intercept[RuntimeException](
      mkFlow(src, tgt, st, target = crashing).run(spark))

    // stored record still carries the old generation ⇒ the rerun
    // re-plans the same destructive transition, re-truncates
    // idempotently and re-inserts — converging with no duplicates
    val healthy = mkFlow(src, tgt, st, buckets = 8)
    val r = healthy.run(spark)
    assert(r.recomputed == 3 && r.rowsInserted == 3, s"roll-forward: $r")
    val rows = healthy.target.read(spark)
    assert(rows.count() == 3)
    assert(rows.groupBy("row_key").count().filter(col("count") > 1).count() == 0)
    assert(targetState(st)._1.contains("buckets=8"))
    assert(healthy.run(spark).isNoop)
  }

  test("pending transition with zero item changes still executes and commits") {
    val (src, tgt, st) = (tmpDir("e-src"), tmpDir("e-tgt"), tmpDir("e-st"))
    // empty corpus: every run classifies zero changed items, so the
    // transition can only happen through the no-op early path
    val flow4 = mkFlow(src, tgt, st, buckets = 4)
    val r1 = flow4.run(spark)
    assert(r1.components == 0)
    val (sig0, _, _) = targetState(st) // first-run record committed
    assert(sig0.contains("buckets=4"))

    // bucket-layout change before any items exist: must still plan,
    // truncate and COMMIT — not be re-planned forever
    val flow8 = mkFlow(src, tgt, st, buckets = 8)
    flow8.run(spark)
    val (sig1, pid1, _) = targetState(st)
    assert(sig1.contains("buckets=8"),
      "the pending transition must commit even with no item changes")

    // and once committed it is stable: no further snapshot churn
    val store = new StateStore(spark, st.toString)
    val vBefore = store.currentVersion
    flow8.run(spark)
    assert(store.currentVersion == vBefore,
      "a truly no-op run must not rewrite state")
    assert(targetState(st)._2 == pid1)
  }

  test("column names with tabs/newlines round-trip through the table record") {
    // the old hand-rolled tab/newline encoding corrupted exactly this
    // and bricked the flow on every later run — the JSON sub_json must
    // make it a non-event
    val (src, tgt, st) = (tmpDir("wc-src"), tmpDir("wc-tgt"), tmpDir("wc-st"))
    seed(src)
    val weird = CocoFn("weird", 1, fn = df => df.select(col("item_key"),
      concat(col("item_key"), lit("#0")).as("row_key"),
      length(graft.engine.Source.textOf(col("content")))
        .as("tab\tand\nnewline")))
    // topic target: payload columns become JSON fields, which (unlike
    // parquet column names) may contain any character
    def flow = new Flow("weirdcols", LocalFsSource(src.toString, Seq("**.md")),
      Seq(weird), TopicTarget(tgt.resolve("t").toString), st.toString)
    assert(flow.run(spark).rowsInserted == 3)
    assert(flow.run(spark).isNoop,
      "the weird-named column's signature must round-trip to a no-op")
  }

  test("a pre-JSON tab-encoded target_state row decodes; the run stays a no-op") {
    val (src, tgt, st) = (tmpDir("lg-src"), tmpDir("lg-tgt"), tmpDir("lg-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    assert(flow.run(spark).rowsInserted == 3)

    // rewrite the stored record with the LEGACY tab/newline column
    // encoding (what snapshots held before sub_json became JSON) —
    // tablePlan must decode it instead of throwing on every run
    val store = new StateStore(spark, st.toString)
    val cur = store.read("target_state", StateStore.TargetStateSchema)
      .collect().head
    val legacySub = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val JArray(items) = JsonMethods.parse(cur.getString(1))
      items.map { it =>
        val JString(n) = it \ "name"
        val JString(t) = it \ "type"
        val JBool(nu) = it \ "nullable"
        s"$n\t$t\t$nu"
      }.mkString("\n")
    }
    assert(legacySub.contains("\t"), "fixture must exercise the old format")
    val legacyRow = org.apache.spark.sql.Row(
      cur.getString(0), legacySub, cur.getString(2),
      cur.getLong(3), cur.getLong(4),
      null) // legacy snapshots predate att_json
    store.commit(Map("target_state" -> spark.createDataFrame(
      java.util.Collections.singletonList(legacyRow),
      StateStore.TargetStateSchema)))

    val r2 = flow.run(spark)
    assert(r2.isNoop,
      s"a legacy-encoded record must decode to the same plan: $r2")
  }

  test("a managedBy flip on an identical schema persists, then runs as a no-op") {
    val (src, tgt, st) = (tmpDir("mb-src"), tmpDir("mb-tgt"), tmpDir("mb-st"))
    seed(src)
    assert(mkFlow(src, tgt, st).run(spark).rowsInserted == 3)
    def stored() = {
      val rows = new StateStore(spark, st.toString)
        .read("target_state", StateStore.TargetStateSchema).collect()
      assert(rows.length == 1, s"expected one target_state row, got ${rows.length}")
      rows.head
    }
    val before = stored()
    assert(before.getString(2) == StateDiff.SystemManaged.name)

    // same stages, same schema record: only the ownership tag differs,
    // and that alone must make the transition pending and persist it
    val userFlow = mkFlow(src, tgt, st, managedBy = StateDiff.UserManaged)
    val r1 = userFlow.run(spark)
    assert(r1.isNoop && r1.unchanged == 3, s"$r1")
    val flipped = stored()
    assert(flipped.getString(2) == StateDiff.UserManaged.name,
      "the flipped managedBy must be persisted")
    assert((0 to 5).filter(_ != 2).forall(i => flipped.get(i) == before.get(i)),
      s"only managed_by may change: $before -> $flipped")

    // once persisted the plan is settled: the next run commits nothing,
    // so target_state is not rewritten
    val store = new StateStore(spark, st.toString)
    val vBefore = store.currentVersion
    val r2 = userFlow.run(spark)
    assert(r2.isNoop && r2.unchanged == 3, s"$r2")
    assert(store.currentVersion == vBefore,
      "a settled managedBy must not rewrite target_state")
  }
}
