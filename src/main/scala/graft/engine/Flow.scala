package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import StateStore._

/** Per-run execution report — the engine's observable contract for
  * the golden state-transition tests (the reference asserts exactly
  * these counters: cache hits/misses, inserts/updates/deletes —
  * python/tests/core/test_component_memo.py shape).
  */
final case class RunStats(
    components: Long, unchanged: Long, refreshed: Long, recomputed: Long,
    deletedComponents: Long,
    rowsInserted: Long, rowsUpdated: Long, rowsDeleted: Long, rowsNoop: Long,
    rowsFailed: Long = 0) {
  def isNoop: Boolean =
    recomputed == 0 && deletedComponents == 0 && refreshed == 0 &&
      rowsInserted == 0 && rowsUpdated == 0 && rowsDeleted == 0
}

/** The incremental dataflow engine: TargetState = Transform(SourceState)
  * as one Spark job graph (reference core concept,
  * docs core_concepts.mdx:47-56; execution protocol
  * rust/core/src/engine/execution.rs — probe :83, pre_commit :757,
  * commit :400-665, orphan GC :1838).
  *
  * One `run` executes the physical sketch of SURVEY.md §4.3:
  *
  * {{{
  *  S  = source listing                       (item_key, memo_state)
  *  W  = S ⟗ component_memo                   memo probe (level 1)
  *  C  = load(changed ∪ suspect)              content read, level-2 fp
  *  X  = stages(C changed)                    the expensive transform
  *  Δ  = X ⟗ tracking[changed ∪ gone scope]   ΔI / ΔU / ΔD / noop
  *  apply Δ to target                         idempotent keyed merge
  *  commit state snapshot                     memo + tracking, atomic
  * }}}
  *
  * Unchanged components are *never* loaded, transformed, or written:
  * their tracked rows stay physically in place in the target. A
  * memo-state-only change (file touched, content identical) refreshes
  * the memo row without recompute (reference 2-level validation,
  * execution.rs:172-234).
  *
  * Stage contract: each [[CocoFn]] maps a DataFrame containing
  * `item_key` + payload to a DataFrame containing `item_key`,
  * `row_key` (globally unique; by convention prefixed with the
  * item_key) + value columns. `value_fp` is derived by the engine.
  *
  * Ownership transfer: a `row_key` declared by one component while
  * tracked under another is preempted — the new declarer's tracking
  * row evicts the stale owner's (reference execution.rs:771-833);
  * the single-writer batch commit makes the reference's token-based
  * race handling unnecessary here.
  */
final class Flow(
    val name: String,
    source: Source,
    stages: Seq[CocoFn],
    val target: Target,
    stateDir: String,
    /** Optional per-component user state (reference `coco.use_state`,
      * api.py:747-885): called with (changed-component payloads,
      * their previous state rows) and must declare the new state rows
      * `(item_key, state_key, value)`. Undeclared keys of changed
      * components are pruned, exactly like the reference's
      * prune-on-not-redeclared; unchanged components keep their state
      * untouched. Read access outside runs: [[userState]]. */
    userStateFn: Option[(DataFrame, DataFrame) => DataFrame] = None,
    /** Who owns the target container's lifecycle: the engine only
      * plans DDL (truncate-recreate) for SystemManaged targets
      * (reference ManagedBy, connectorkits/target.py:10). */
    managedBy: StateDiff.ManagedBy = StateDiff.SystemManaged,
    /** Invoked after every successful state commit (including a
      * pending-transition commit on an otherwise-empty run). The slot
      * for operator metadata that must only ever describe a COMMITTED
      * index — e.g. [[Sidecar]] writes: a declared-but-failed run
      * must not relabel what is actually on disk. */
    afterCommit: Option[() => Unit] = None,
    /** Declares that every `row_key` this flow's stages emit is owned
      * by exactly ONE `item_key` for the flow's whole lifetime (true
      * whenever row keys are item-namespaced, e.g. `"$item"` or
      * `"$item:$suffix"` — every maintained-index flow here). Under
      * the declaration, the reconcile's tracking scope is read with
      * an item filter pushed BELOW the latest-wins merge
      * ([[StateStore.readWhere]]): the clustered tracking base prunes
      * to O(scope keys) row groups instead of materializing and
      * window-shuffling the WHOLE table per run — the difference
      * between an O(delta) and an O(corpus) engine pass at 100 TB.
      * Leave false if a row_key can ever be re-declared by a
      * DIFFERENT item (ownership preemption across components): the
      * below-merge filter would then see only the stale owner's
      * version of a preempted row and mis-classify it. */
    val rowKeyOwnedByItem: Boolean = false)
    extends Serializable {

  def processorFingerprint: String =
    Fingerprint.of(("flow" +: name +: stages.map(_.logicFingerprint)): _*)

  /** Declared output schema: the stages applied to an empty load.
    * None when a stage cannot run on empty input — then schema-change
    * planning degrades to stage-version tracking alone. */
  private def declaredSchema(spark: SparkSession)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      Some(stages.foldLeft(source.load(spark, Nil))((df, s) => s.fn(df)).schema)
    } catch {
      case _: Exception => None
    }

  /** The desired table-level tracking record: container signature as
    * the main record, per-value-column (type, nullable) signatures as
    * sub records (the reference table-connector shape,
    * postgres/_target.py:930-947). */
  private def desiredTableRecord(
      sch: org.apache.spark.sql.types.StructType): StateDiff.TableRecord = {
    val cols = sch.fields
      .filterNot(f => f.name == "item_key" || f.name == "row_key" ||
        f.name == "__error")
      .map(f => f.name -> StateDiff.ColumnSig(f.dataType.sql, f.nullable))
      .toMap
    StateDiff.tableRecord(target.containerSignature, cols)
  }

  /** The per-column signatures persist as JSON (`sub_json`), so a
    * column name can contain any character — a hand-rolled delimiter
    * encoding would corrupt the round-trip on tab/newline names and
    * permanently brick `tablePlan` on every subsequent run. */
  private def encodeColumns(cols: Map[String, StateDiff.ColumnSig]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      cols.toSeq.sortBy(_._1).map { case (n, s) =>
        ("name" -> n) ~ ("type" -> s.dataType) ~ ("nullable" -> s.nullable)
      }))
  }

  private def decodeColumns(s: String): Map[String, StateDiff.ColumnSig] =
    if (s.isEmpty) Map.empty
    else if (!s.startsWith("[")) decodeColumnsLegacy(s)
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(s) match {
        case JArray(items) => items.map { it =>
          val JString(n) = it \ "name"
          val JString(t) = it \ "type"
          val JBool(nul) = it \ "nullable"
          n -> StateDiff.ColumnSig(t, nul)
        }.toMap
        case other => throw new IllegalStateException(
          s"corrupt sub_json in target_state: $other")
      }
    }

  /** A `target_state` row written before the JSON encoding used
    * tab/newline delimiters — decode it rather than throwing on every
    * subsequent run (the next commit re-encodes as JSON). */
  private def decodeColumnsLegacy(s: String): Map[String, StateDiff.ColumnSig] =
    s.split("\n").map { line =>
      val Array(n, t, nul) = line.split("\t", 3)
      n -> StateDiff.ColumnSig(t, nul.toBoolean)
    }.toMap

  /** Table-level statediff: desired record vs the stored one →
    * transition plan + the provider generation it implies (reference
    * reconcile → child_invalidation → generation bump,
    * postgres/_target.py:1210-1252 + execution.rs:1063-1085).
    * Destructive ⇒ new provider id (children treated as never
    * written); lossy ⇒ schema-version bump (children re-upsert even
    * on matching fingerprints). Both feed the effective processor
    * fingerprint, so memoized components re-run — and once the new
    * record is committed the generation is stable again, restoring
    * memo hits (reference test_provider_generation.py:138-181).
    */
  private final case class PlannedRun(
      plan: StateDiff.TablePlan,
      providerId: Long, schemaVersion: Long,
      desired: Option[StateDiff.TableRecord],
      /** The stored record differs from desired (or none is stored):
        * the run must execute and COMMIT the transition even when no
        * items changed, else it is re-planned forever. */
      pendingTransition: Boolean,
      /** Effective processor fingerprint: stage logic + declared
        * schema (a schema change must recompute every component's
        * values) + provider generation (a destructive/lossy
        * transition must invalidate memoized components even when
        * logic and schema are untouched — e.g. a bucket-layout
        * change; stable again once committed, restoring memo hits). */
      effectiveFp: String,
      /** SQL-command attachment lifecycle for this run (reference
        * declare_sql_command_attachment + attachment target states):
        * teardowns run first (removed + changed old versions), then
        * setups (created + changed new versions). Executed AFTER the
        * row apply, so the container exists; a failing statement
        * aborts before the state commit and replans next run. */
      attSetups: Seq[TargetAttachment] = Nil,
      attTeardowns: Seq[String] = Nil,
      /** The record as currently stored (main, sub_json) — carried
        * forward verbatim when the desired schema is unknowable. */
      storedRecord: Option[(String, String)] = None,
      /** An attachment change/removal declared child invalidation:
        * components re-run (generation bump) AND rows re-upsert
        * defensively — the container itself is NOT recreated (only a
        * TABLE-record change truncates). */
      attForcesReupsert: Boolean = false) {
    def destructive: Boolean =
      plan.childInvalidation.contains(StateDiff.Destructive)
    def lossy: Boolean =
      plan.childInvalidation.contains(StateDiff.Lossy) || attForcesReupsert
  }

  /** Stored attachment record (the att_json entries). */
  private final case class AttRecord(name: String, fp: String,
      teardown: Option[String], inval: Option[String])

  private def encodeAtts(atts: Seq[TargetAttachment]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(atts.map { a =>
      ("name" -> a.name) ~ ("fp" -> a.fingerprint) ~
        ("teardown" -> a.teardownSql) ~
        ("inval" -> a.invalidation.map(_.name))
    }))
  }

  private def decodeAtts(s: String): Seq[AttRecord] =
    if (s == null || s.isEmpty) Nil
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(s) match {
        case JArray(items) => items.map { it =>
          val JString(n) = it \ "name"
          val JString(fp) = it \ "fp"
          val td = it \ "teardown" match {
            case JString(t) => Some(t); case _ => None
          }
          val iv = it \ "inval" match {
            case JString(v) => Some(v); case _ => None
          }
          AttRecord(n, fp, td, iv)
        }
        case other => throw new IllegalStateException(
          s"corrupt att_json in target_state: $other")
      }
    }

  private def tablePlan(spark: SparkSession, st: StateStore): PlannedRun = {
    val declared = declaredSchema(spark)
    val schemaFp = declared
      .map(s => Fingerprint.of("schema", s.json)).getOrElse("")
    val prevRows = st.read("target_state", TargetStateSchema).collect()
    val prev = prevRows.headOption.map { r =>
      (StateDiff.Mutual(
        StateDiff.tableRecord(r.getString(0), decodeColumns(r.getString(1))),
        StateDiff.ManagedBy.parse(r.getString(2))),
        r.getLong(3), r.getLong(4))
    }
    val (pid, sv) = prev.map(p => (p._2, p._3)).getOrElse((0L, 0L))

    // ---- attachment lifecycle (declare_sql_command_attachment) ------
    val prevAtts = prevRows.headOption
      .map(r => decodeAtts(r.getString(5))).getOrElse(Nil)
    val desiredAtts = target.attachments
    require(desiredAtts.map(_.name).distinct.size == desiredAtts.size,
      "duplicate attachment names: " + desiredAtts.map(_.name).mkString(","))
    val prevByName = prevAtts.map(a => a.name -> a).toMap
    val desNames = desiredAtts.map(_.name).toSet
    val attCreated = desiredAtts.filter(a => !prevByName.contains(a.name))
    val attChanged = desiredAtts.filter(a =>
      prevByName.get(a.name).exists(_.fp != a.fingerprint))
    val attRemoved = prevAtts.filterNot(a => desNames(a.name))
    // change/removal may invalidate children per the attachment's own
    // declared severity (test_attachment_target_states.py:243,295);
    // creation never does (nothing depended on it yet)
    val attInval: Option[StateDiff.ChildInvalidation] = {
      val names = attChanged.flatMap(_.invalidation.map(_.name)) ++
        attRemoved.flatMap(_.inval)
      if (names.contains(StateDiff.Destructive.name))
        Some(StateDiff.Destructive)
      else if (names.contains(StateDiff.Lossy.name)) Some(StateDiff.Lossy)
      else None
    }
    val attPending =
      attCreated.nonEmpty || attChanged.nonEmpty || attRemoved.nonEmpty

    def bump(base: (Long, Long),
        inv: Option[StateDiff.ChildInvalidation]): (Long, Long) = inv match {
      case Some(StateDiff.Destructive) => (base._1 + 1, 0L)
      case Some(StateDiff.Lossy)       => (base._1, base._2 + 1)
      case None                        => base
    }
    val (plan, newPid, newSv, desired, pending) = declared match {
      case None => // schema unknowable on empty input: no DDL planning
        val gen = bump((pid, sv), attInval)
        (StateDiff.TablePlan(None, Map.empty, None), gen._1, gen._2,
          Option.empty[StateDiff.TableRecord], false)
      case Some(sch) =>
        val d = desiredTableRecord(sch)
        val p = StateDiff.planTable(StateDiff.Transition(
          Some(StateDiff.Mutual(d, managedBy)),
          prev.map(_._1).toSeq,
          prevMayBeMissing = prev.isEmpty))
        val gen = bump(bump((pid, sv), p.childInvalidation), attInval)
        // the OWNERSHIP tag participates in the pending test: now that
        // target_state commits only when pending, a managedBy flip
        // under an identical schema record must still persist — else
        // the stored tag stays stale forever and every later plan
        // filters prev observations by the wrong ownership (ADVICE
        // r18; providerId/schemaVersion need no term here — they only
        // move via bump(), i.e. when the record/attachments changed,
        // which already sets pending)
        (p, gen._1, gen._2, Some(d),
          !prev.map(_._1.record).contains(d) ||
            !prev.map(_._1.managedBy.name).contains(managedBy.name))
    }
    // a destructive table transition recreates the container: every
    // declared attachment re-runs setup (its objects died with the
    // table); teardowns are moot
    val destructive = plan.childInvalidation.contains(StateDiff.Destructive)
    val (setups, teardowns) =
      if (destructive) (desiredAtts, Nil)
      else (attCreated ++ attChanged,
        (attRemoved.flatMap(_.teardown) ++
          attChanged.flatMap(a => prevByName(a.name).teardown)))
    PlannedRun(plan, newPid, newSv, desired, pending || attPending,
      Fingerprint.of(processorFingerprint, schemaFp, s"gen:$newPid:$newSv"),
      attSetups = setups, attTeardowns = teardowns,
      storedRecord = prevRows.headOption.map(r =>
        (r.getString(0), r.getString(1))),
      attForcesReupsert = attInval.isDefined)
  }

  /** Run the planned attachment transition (teardowns, then setups)
    * — after the row apply, so the container exists. */
  private def applyAttachments(spark: SparkSession,
      planned: PlannedRun): Unit = {
    planned.attTeardowns.foreach(
      target.execAttachmentSql(spark, _, tolerateMissing = true))
    planned.attSetups.foreach(a =>
      target.execAttachmentSql(spark, a.setupSql))
  }

  /** The table-level tracking record + generation, committed with the
    * snapshot: once stored, an unchanged schema diffs to no-op and
    * the generation is stable — memo hits are restored (reference
    * test_provider_generation.py:138-181). */
  private def targetStateTable(spark: SparkSession, planned: PlannedRun)
      : Option[(String, DataFrame)] = {
    // with an unknowable schema (a transiently failing or empty
    // declaredSchema) the STORED record carries forward verbatim —
    // overwriting it with a columnless placeholder would erase real
    // column signatures and lose a later type-change's Lossy bump.
    // The placeholder exists only for the never-stored case, so
    // declared ATTACHMENTS still persist (else every run replays
    // their teardown+setup forever).
    val record: Option[(String, String)] = planned.desired
      .map(d => (d.main, encodeColumns(d.sub)))
      .orElse(planned.storedRecord)
      .orElse(if (target.attachments.nonEmpty)
        Some((target.containerSignature, "[]")) else None)
    record.map { case (main, subJson) =>
      "target_state" -> spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(
          main, subJson, managedBy.name,
          planned.providerId, planned.schemaVersion,
          encodeAtts(target.attachments))),
        TargetStateSchema)
    }
  }

  private def state(spark: SparkSession) = new StateStore(spark, stateDir)

  /** One catch-up run (reference `App.update`, app.py:275). */
  def run(spark: SparkSession, fullReprocess: Boolean = false): RunStats =
    runImpl(spark, fullReprocess, None)

  /** Incremental catch-up over a KNOWN changed-path delta (from a
    * [[SourceWatcher]]): the listing is reconstructed as the committed
    * memo's keys (survivors — their stored memo_state compares equal
    * by construction, so they classify unchanged without any stat)
    * plus an O(delta) re-stat of exactly the changed paths. No full
    * directory walk happens anywhere in the run — the cost the
    * reference's push architecture exists to avoid at 10⁷ files
    * (_LiveDirItems, localfs/_source.py:198). */
  private[graft] def runDelta(spark: SparkSession, deltaKeys: Seq[String])
      : RunStats = {
    val st = state(spark)
    val restat = source.listKeys(spark, deltaKeys)
      .select(col("item_key"), col("memo_state"))
    st.rowCount("component_memo") match {
      case Some(total) if deltaKeys.size <= KeyedFetch.MaxKeyPushdown =>
        // delta-scoped pass: the probe runs over ONLY the changed
        // keys' memo slice (readWhere prunes the clustered base);
        // survivors never materialize — their count derives from the
        // snapshot's exact row-count sidecar
        runImpl(spark, fullReprocess = false,
          listingOverride = Some(restat),
          deltaScope = Some(DeltaScope(
            col("item_key").isin(deltaKeys: _*), total)))
      case _ =>
        // legacy snapshots carry no counts (one compaction away from
        // gaining them) and oversized key sets exceed the IN-pushdown
        // contract — both fall back to the full survivors listing
        val memo = st.read("component_memo", ComponentMemoSchema)
        val keysDf = Source.keysDf(spark, deltaKeys)
        val survivors = memo.select(col("item_key"), col("memo_state"))
          .join(keysDf, Seq("item_key"), "left_anti")
        runImpl(spark, fullReprocess = false,
          listingOverride = Some(survivors.unionByName(restat)))
    }
  }

  /** Subtree-scoped catch-up: re-stat and reclassify ONLY the
    * components under the given [[StablePath]] prefixes; everything
    * outside the subtrees is a survivor (its stored memo state
    * compares equal by construction — zero stat calls). Memoized
    * children under a prefix that the source no longer lists classify
    * gone and GC their target states — the reference's prefix-scoped
    * subtree GC (stable_path.rs:273 + execution.rs:1838), at
    * O(subtree) instead of O(corpus). */
  private[graft] def runDeltaPrefix(spark: SparkSession,
      prefixes: Seq[String]): RunStats = {
    val st = state(spark)
    val under =
      if (prefixes.isEmpty) lit(false)
      else prefixes.map(p => StablePath.underCol(col("item_key"), p))
        .reduce(_ || _)
    val restat = source.listUnder(spark, prefixes)
      .select(col("item_key"), col("memo_state"))
    st.rowCount("component_memo") match {
      case Some(total) if prefixes.nonEmpty =>
        // prefix predicates are merge-key predicates → sound below
        // the merge, and they push to parquet as StartsWith
        runImpl(spark, fullReprocess = false,
          listingOverride = Some(restat),
          deltaScope = Some(DeltaScope(under, total)))
      case _ =>
        val memo = st.read("component_memo", ComponentMemoSchema)
        val survivors = memo.select(col("item_key"), col("memo_state"))
          .filter(!under)
        runImpl(spark, fullReprocess = false,
          listingOverride = Some(survivors.unionByName(restat)))
    }
  }

  /** A delta-scoped engine pass: `pred` (a memo merge-key-stable
    * predicate — key IN-list or key prefix) bounds the probe to the
    * changed scope, and `memoTotal` (the snapshot's exact row-count
    * sidecar) supplies the unexamined survivors' tally. Survivors are
    * unchanged BY CONSTRUCTION (their stored memo state compares
    * equal), so a scoped pass reads O(scope) state instead of
    * materializing and shuffling corpus-sized memo rows per run. */
  private case class DeltaScope(pred: org.apache.spark.sql.Column,
      memoTotal: Long)

  /** A pass's scope once level 2 has resolved every suspect, in one of
    * two forms: driver lists and LOCAL relations (a scope within
    * [[Flow.MaxScopeLiterals]]) or executor-side frames (past it).
    *
    * @param changedOnly restricts an item-keyed frame to the changed
    *                    (recomputing) items
    * @param scopeKeys   changed ∪ gone item keys
    * @param scopeList   the same keys as a driver list (literal form)
    * @param memoUpserts the memo rows to commit: refreshed + recomputed
    * @param cached      frames this form cached, unpersisted at exit */
  private case class PassScope(nRefreshed: Long, nChanged: Long,
      changedOnly: DataFrame => DataFrame, goneKeys: DataFrame,
      scopeKeys: DataFrame, scopeList: Option[Seq[String]],
      memoUpserts: DataFrame, cached: Seq[DataFrame])

  private def runImpl(spark: SparkSession, fullReprocess: Boolean,
      listingOverride: Option[DataFrame],
      deltaScope: Option[DeltaScope] = None): RunStats = {
    val st = state(spark)
    val planned = tablePlan(spark, st)
    val pFp = planned.effectiveFp

    // ---- memo probe (level 1: listing state vs stored memo) -----------
    // listing and probe are METADATA-scale (one short row per source
    // item) but their lineage is the source's full listing plan — and
    // they fan out into nearly every downstream action (classify,
    // load keys, memo rebuild, commit writes). localCheckpoint (not
    // cache) truncates that lineage to a leaf: Catalyst stops
    // re-analyzing the whole source plan on each of the ~10 actions
    // per run, which at small deltas is the dominant fixed cost of an
    // engine pass. (Payload-scale frames below stay cache(): they are
    // recomputable and never held beyond the run.)
    val listing = listingOverride.getOrElse(source.list(spark))
      .select(col("item_key"), col("memo_state")).localCheckpoint()
    // bootstrap shortcut (r18): with NO committed memo rows, the
    // full-outer probe join would shuffle the whole (corpus-sized)
    // listing against an empty side — sort-merge, since full_outer
    // cannot broadcast — to conclude "every item is new". Classify
    // directly instead: zero exchanges on the bootstrap probe. The
    // emptiness test is exact (absent table, or the snapshot's exact
    // row-count sidecar at 0); an unknown count keeps the join.
    val memoEmpty = deltaScope.isEmpty &&
      (!st.tableExists("component_memo") ||
        st.rowCount("component_memo").contains(0L))
    val memo =
      if (memoEmpty)
        st.read("component_memo", ComponentMemoSchema)
      else deltaScope match {
        case Some(s) =>
          // scoped pass: only the changed keys' memo slice joins the
          // probe — readWhere pushes the predicate below the merge
          // window and into the clustered base's parquet scans
          st.readWhere("component_memo", ComponentMemoSchema, s.pred)
        case None => st.read("component_memo", ComponentMemoSchema)
      }
    val probe =
      if (memoEmpty)
        // derived narrowly from the checkpointed listing — no second
        // checkpoint job, no join
        listing.select(col("item_key"), col("memo_state"))
          .withColumn("processor_fp", lit(null).cast("string"))
          .withColumn("stored_state", lit(null).cast("string"))
          .withColumn("content_fp", lit(null).cast("string"))
          .withColumn("cls", lit("changed"))
      else listing.select(col("item_key"), col("memo_state"))
      .join(memo.select(col("item_key"), col("processor_fp"),
        col("memo_state").as("stored_state"), col("content_fp")),
        Seq("item_key"), "full_outer")
      .withColumn("cls",
        when(col("memo_state").isNull, lit("gone"))
          .when(col("processor_fp").isNull, lit("changed"))        // new item
          .when(col("processor_fp") =!= pFp ||
            lit(fullReprocess), lit("changed"))                    // logic change
          .when(col("stored_state") === col("memo_state"), lit("unchanged"))
          // level 2 exists only for sources WITH a content
          // fingerprint: without one there is no refresh outcome —
          // classifying straight to changed skips the whole level-2
          // join/count chain (several Spark jobs per run) that would
          // conclude "changed" anyway
          .otherwise(lit(
            if (source.contentFpOf.isDefined) "suspect" else "changed")))
      .localCheckpoint()

    // classification counts: a ≤4-row aggregate — the per-item probe
    // rows never leave the executors (at 10⁷–10⁸ source items a
    // driver-side listing collect is a heap bomb; only the histogram
    // belongs on the driver)
    // ONE aggregate answers classification counts, the new-item count
    // (memo count delta) and the scoped-memo tally (survivor math) —
    // splitting these into separate count() jobs taxed every engine
    // pass with pure scheduling overhead
    val clsRows = probe
      .groupBy(col("cls"), col("processor_fp").isNotNull.as("in_memo"))
      .count().collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val byCls = clsRows.groupMapReduce(_._1._1)(_._2)(_ + _)
      .withDefaultValue(0L)
    val nNewItems = clsRows.getOrElse(("changed", false), 0L)
    // scoped pass: memo rows OUTSIDE the scope never materialized —
    // they are unchanged by construction, and their tally derives
    // from the snapshot's exact count sidecar minus the scoped slice
    val survivors = deltaScope.fold(0L) { s =>
      val scopedMemoRows = clsRows.collect {
        case ((_, true), n) => n }.sum
      math.max(0L, s.memoTotal - scopedMemoRows)
    }
    val nTotal = byCls.values.sum + survivors

    // pure no-op fast path for passes with NO level-2 work pending:
    // nothing changed, appeared or vanished — return BEFORE the
    // content load (the load's bounded-key probe is a Spark job a
    // no-op tick must not pay). Suspect-bearing passes fall through:
    // their no-op test needs the level-2 refresh count below.
    if (byCls("suspect") == 0 && byCls("changed") == 0 && byCls("gone") == 0) {
      if (planned.pendingTransition) {
        if (planned.destructive) target.truncate(spark)
        applyAttachments(spark, planned)
        st.commit(targetStateTable(spark, planned).toMap)
        afterCommit.foreach(_.apply())
      }
      Seq(listing, probe).foreach(_.unpersist())
      return RunStats(nTotal, byCls("unchanged") + survivors,
        0, 0, 0, 0, 0, 0, 0)
    }

    // Bounded-scope literalization: when the pass's changed + suspect
    // + gone scope fits the literal cap, ONE collect over the
    // checkpointed probe brings the scope rows — with the stored memo
    // columns level 2 and the memo commit need — to the driver. Every
    // keyed restriction downstream (content load, transform input,
    // tracking read, state commit) then rides plan literals or LOCAL
    // relations: a LocalRelation's broadcast build is driver-side,
    // where a frame pays one whole Spark job per small-side broadcast
    // build, several times per engine pass. The rule is decided once,
    // here, from the pre-level-2 scope; past the cap the scope stays a
    // frame end to end. The rows split into (gone, to load).
    val scopeRows: Option[(Array[Row], Array[Row])] =
      if (byCls("changed") + byCls("suspect") + byCls("gone") >
          Flow.MaxScopeLiterals) None
      else Some(probe.filter(col("cls") =!= "unchanged")
        .select("item_key", "cls", "memo_state", "processor_fp",
          "content_fp")
        .collect().partition(_.getString(1) == "gone"))

    // ---- level 2: content fingerprint for suspects --------------------
    // (suspects exist only for sources with a content fp; content is
    // loaded once and reused by the transform)
    val loadKeysDf = scopeRows match {
      // a LOCAL key relation: the source's bounded-pushdown probe
      // evaluates driver-side (no job)
      case Some((_, toLoad)) =>
        Source.keysDf(spark, toLoad.map(_.getString(0)).toSeq)
      // the key set stays a DataFrame end-to-end — Source.load decides
      // how to exploit it
      case None => probe
        .filter(col("cls").isin("changed", "suspect")).select("item_key")
    }
    val loaded = source.load(spark, loadKeysDf)
      .withColumn("__content_fp",
        source.contentFpOf.getOrElse(lit(null).cast("string")))
      .cache()

    // per-ITEM content fingerprint: a component may load MANY payload
    // rows (e.g. AggView's bucketed table source), so the per-row fp
    // column must collapse to one row per item before joining any
    // item-level state — otherwise memo rows fan out per payload row.
    // Single-row items keep their row fp bit-exactly; multi-row items
    // combine order-insensitively.
    val loadedFps =
      if (source.contentFpOf.isEmpty)
        loaded.select(col("item_key")).dropDuplicates("item_key")
          .withColumn("__content_fp", lit(null).cast("string"))
      else loaded.select(col("item_key"), col("__content_fp"))
        .groupBy("item_key")
        .agg(when(count(lit(1)) === 1, first(col("__content_fp")))
          // null row fps map to a non-hex sentinel BEFORE the list
          // collect (collect_list silently drops nulls — [a, null]
          // must not combine identically to [a])
          .otherwise(md5(concat_ws(",",
            sort_array(collect_list(
              coalesce(col("__content_fp"), lit("<null>")))))))
          .as("__content_fp"))

    // A suspect is refreshed iff its new fingerprint is non-null and
    // equals the stored one; otherwise — content differs, or the item
    // vanished between the re-stat and the load — it is changed.
    val scope = scopeRows match {
      case Some((gone, toLoad)) =>
        // level 2 on the driver: ONE collect of the loaded items'
        // fingerprints (bounded by the literal cap) decides every
        // suspect and supplies the recomputed memo rows' content fps
        val fps: Map[String, String] =
          if (source.contentFpOf.isEmpty || toLoad.isEmpty) Map.empty
          else loadedFps.collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
        val (refreshed, changed) = toLoad
          .partition(r => r.getString(1) == "suspect" &&
            Option(fps.getOrElse(r.getString(0), null))
              .contains(r.getString(4)))
        val changedL = changed.map(_.getString(0)).toSeq
        val goneL = gone.map(_.getString(0)).toSeq
        val scopeL = changedL ++ goneL
        // memo upserts straight from the collected rows: a refreshed
        // row keeps its stored fps under the new memo state, a
        // recomputed one takes this pass's
        val memoRows = refreshed.map(r => Row(r.getString(0),
            r.getString(3), r.getString(2), r.getString(4))) ++
          changed.map(r => Row(r.getString(0), pFp, r.getString(2),
            fps.getOrElse(r.getString(0), null)))
        PassScope(refreshed.length.toLong, changedL.size.toLong,
          changedOnly = _.filter(col("item_key").isin(changedL: _*)),
          goneKeys = Source.keysDf(spark, goneL),
          scopeKeys = Source.keysDf(spark, scopeL),
          scopeList = Some(scopeL),
          memoUpserts = spark.createDataFrame(
            java.util.Arrays.asList(memoRows: _*), ComponentMemoSchema),
          cached = Nil)
      case None =>
        val level2 =
          if (byCls("suspect") == 0L) None
          else Some(probe.filter(col("cls") === "suspect")
            .join(loadedFps.select(col("item_key"),
              col("__content_fp").as("new_content_fp")), Seq("item_key"),
              "left")
            .withColumn("cls2",
              when(col("new_content_fp").isNotNull &&
                col("new_content_fp") === col("content_fp"),
                lit("refreshed"))
                .otherwise(lit("changed")))
            .select(col("item_key"), col("cls2"))
            .cache())
        val nRefreshed =
          level2.fold(0L)(_.filter(col("cls2") === "refreshed").count())
        val changedKeys = level2.foldLeft(
            probe.filter(col("cls") === "changed").select("item_key"))(
            (ks, l2) => ks.union(
              l2.filter(col("cls2") === "changed").select("item_key")))
          .cache()
        val goneKeys = probe.filter(col("cls") === "gone").select("item_key")
        // an empty refresh set commits an empty LOCAL frame instead of
        // a two-join plan that provably yields zero rows
        val refreshedMemo =
          if (nRefreshed == 0)
            spark.createDataFrame(
              new java.util.ArrayList[Row](), ComponentMemoSchema)
          else memo.drop("memo_state")
            .join(level2.get.filter(col("cls2") === "refreshed")
              .select("item_key"), Seq("item_key"), "left_semi")
            .join(listing.select(col("item_key"), col("memo_state")),
              Seq("item_key"))
            .select("item_key", "processor_fp", "memo_state", "content_fp")
        val recomputedBase = listing.select(col("item_key"), col("memo_state"))
          .join(changedKeys, Seq("item_key"), "left_semi")
        // a source WITHOUT a content fingerprint stores null content_fp
        // for every row — the loadedFps join would broadcast-build and
        // join only to attach that constant
        val recomputedMemo =
          if (source.contentFpOf.isEmpty)
            recomputedBase.select(col("item_key"),
              lit(pFp).as("processor_fp"), col("memo_state"),
              lit(null).cast("string").as("content_fp"))
          else recomputedBase
            .join(loadedFps, Seq("item_key"), "left")
            .select(col("item_key"), lit(pFp).as("processor_fp"),
              col("memo_state"), col("__content_fp").as("content_fp"))
        PassScope(nRefreshed,
          byCls("changed") + byCls("suspect") - nRefreshed,
          changedOnly = _.join(changedKeys, Seq("item_key"), "left_semi"),
          goneKeys = goneKeys,
          scopeKeys = changedKeys.union(goneKeys),
          scopeList = None,
          memoUpserts = refreshedMemo.unionByName(recomputedMemo),
          cached = level2.toSeq :+ changedKeys)
    }
    val nChanged = scope.nChanged
    val nRefreshed = scope.nRefreshed

    // pure no-op run: nothing changed, appeared, vanished or needs a
    // memo refresh — skip the transform, reconcile AND the snapshot
    // commit entirely (a live loop over an unchanged corpus must not
    // rewrite metadata every tick). A PENDING table transition must
    // still execute and commit even with zero item changes (e.g. a
    // bucket-layout change before any items exist, or after all items
    // were removed) — otherwise it is re-planned forever.
    if (nChanged == 0 && byCls("gone") == 0 && nRefreshed == 0) {
      if (planned.pendingTransition) {
        if (planned.destructive) target.truncate(spark)
        applyAttachments(spark, planned)
        st.commit(targetStateTable(spark, planned).toMap)
        afterCommit.foreach(_.apply())
      }
      (Seq(listing, probe, loaded) ++ scope.cached).foreach(_.unpersist())
      return RunStats(nTotal, byCls("unchanged") + survivors,
        0, 0, 0, 0, 0, 0, 0)
    }

    // ---- the expensive transform, on changed components only ----------
    // When NOTHING changed (a deletion-only or memo-refresh-only run)
    // the stages are skipped entirely: desired-in-scope is empty by
    // definition, and a stage that cannot run on empty input — a
    // class declaredSchema explicitly tolerates — must not crash the
    // GC/refresh path. The load also holds the refreshed suspects'
    // payloads: the changed-only restriction drops them.
    val input = scope.changedOnly(loaded).drop("__content_fp")
    val desiredAll =
      if (nChanged == 0)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("item_key",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("row_key",
              org.apache.spark.sql.types.StringType))))
      else stages.foldLeft(input)((df, stage) => stage.fn(df))
    require(desiredAll.columns.contains("item_key") &&
      desiredAll.columns.contains("row_key"),
      s"stage output must carry item_key and row_key; got " +
        desiredAll.columns.mkString(","))
    // failure isolation (reference exception handlers,
    // component_ctx.py:471): rows a stage marked with a non-null
    // __error never reach the target — they are routed to the errors
    // state table, inspectable via [[errors]], and counted in stats
    val hasErrors = desiredAll.columns.contains("__error")
    val failed =
      if (hasErrors) desiredAll.filter(col("__error").isNotNull)
        .select(col("item_key"), col("row_key"),
          col("__error").cast("string").as("error")).cache()
      else spark.emptyDataFrame
    val nFailed = if (hasErrors) failed.count() else 0L
    val desiredRaw =
      if (hasErrors) desiredAll.filter(col("__error").isNull).drop("__error")
      else desiredAll
    val valueCols = desiredRaw.columns
      .filterNot(c => c == "item_key" || c == "row_key").sorted
    // payload-less rows (incl. the skipped-transform empty frame)
    // fingerprint as a constant — to_json(struct()) has no columns to
    // serialize
    val valueFp =
      if (valueCols.isEmpty) md5(lit("{}"))
      else md5(to_json(struct(valueCols.map(col).toSeq: _*),
        FnMemo.JsonOptions))
    val desired = desiredRaw.withColumn("value_fp", valueFp)

    // ---- reconcile: classify against the tracking baseline ------------
    // (reference pre_commit reconcile, execution.rs:757; row handler
    // semantics postgres/_target.py:850-881). Under a *destructive*
    // table transition the container is about to be recreated: the
    // tracking baseline is void — every desired row inserts, and stale
    // rows need no per-row deletes (the recreation cleans them up,
    // reference test_provider_generation.py:199-215). Under a *lossy*
    // one the container may have dropped column data the fingerprints
    // can't see — matching rows re-upsert defensively
    // (prev_may_be_missing semantics, statediff.py:160-166).
    // bootstrap shortcut (r18), the tracking twin of the memo probe's:
    // with no committed tracking rows (or a destructive transition —
    // the baseline is void either way) the reconcile's full-outer join
    // would shuffle the whole desired set against an empty side to
    // conclude "every row inserts". Skip the tracking read and the
    // join outright — zero exchanges on the bootstrap reconcile.
    val trackingEmpty = planned.destructive ||
      !st.tableExists("tracking") || st.rowCount("tracking").contains(0L)
    lazy val trackedInScope = scope.scopeList match {
      case Some(ks) if rowKeyOwnedByItem =>
        // each row_key's item is immutable by declaration, so an item
        // filter below the latest-wins window keeps exactly the scope
        // groups' full histories — O(scope) read against the clustered
        // base instead of materializing + shuffling the whole table
        if (ks.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              TrackingSchema)
            .select(col("row_key"), col("value_fp").as("__prev_fp"))
        else st.readWhere("tracking", TrackingSchema,
            col("item_key").isin(ks: _*))
          .select(col("row_key"), col("value_fp").as("__prev_fp"))
      case _ =>
        st.read("tracking", TrackingSchema)
          .join(scope.scopeKeys, Seq("item_key"), "left_semi")
          .select(col("row_key"), col("value_fp").as("__prev_fp"))
    }
    // ONE cache for the whole reconcile: `actions` carries the desired
    // rows' value columns, so the target upserts and the tracking
    // upserts below are narrow filters of it — neither needs a join
    // (whose broadcast build would be a job) or a cache of its own.
    val actions = (
      if (trackingEmpty)
        // no baseline ⇒ every desired row inserts, nothing deletes —
        // identical to the full_outer against an empty side, minus
        // its two sort-merge exchanges over the desired set
        desired.withColumn("__action", lit("insert"))
      else desired
        .join(trackedInScope, Seq("row_key"), "full_outer")
        .withColumn("__action",
          when(col("value_fp").isNull, lit("delete"))     // tracked, not redeclared
            .when(col("__prev_fp").isNull, lit("insert"))
            .when(lit(planned.lossy) ||
              col("__prev_fp") =!= col("value_fp"), lit("update"))
            .otherwise(lit("noop")))
      ).cache()
    // the ≤4-row action histogram is collected BEFORE the apply ON
    // PURPOSE, and not only for RunStats: this collect is the cache
    // MATERIALIZATION point for `actions`. An r19 experiment moved it
    // after target.apply (guide §1.2 "don't pay a standalone job") and
    // the nightly gates' sum-of-jobs DOUBLED: on shuffle-free reconcile
    // plans (the bootstrap shortcut path — a narrow pipeline through
    // the transform UDFs) the apply's probes scan SUBSETS of
    // partitions, InMemoryRelation materializes per partition, and
    // with no shuffle files to reuse every partial scan re-executed
    // the expensive transform. One full pass here pins the whole
    // cache; every apply/commit scan after it is a memory read.
    val byAction = actions.groupBy("__action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)

    // ---- apply the delta to the target (idempotent; BEFORE the state
    // pointer flips — crash here ⇒ roll-forward on rerun) ---------------
    // A destructive plan drops the container first (reference
    // _drop_table before recreate, postgres/_target.py:1002-1010);
    // crash between truncate and apply still converges: the stored
    // record keeps the old generation, so the rerun re-plans the same
    // destructive transition and re-truncates idempotently.
    if (planned.destructive) target.truncate(spark)
    val upserts = actions.filter(col("__action").isin("insert", "update"))
      .select(("row_key" +: desiredRaw.columns.filterNot(_ == "row_key"))
        .map(col).toSeq: _*)
    val deleteKeys =
      actions.filter(col("__action") === "delete").select("row_key")
    target.apply(spark, upserts, deleteKeys)
    // attachment transition after the row apply (the container exists
    // by now); a throwing statement aborts before the state commit,
    // so the transition replans and re-runs next time (convergent)
    applyAttachments(spark, planned)

    // ---- commit the new state snapshot --------------------------------
    // (reference commit_in_txn, execution.rs:400-665; child GC :1838 is
    // the tombstone set that drops gone components' memo + tracking
    // rows). Every table commits as a DELTA segment — upserts for the
    // run's changed/refreshed rows plus tombstones for the gone ones —
    // so a 1-component change writes O(changed) state; the unchanged
    // bulk of every family carries forward as hard links
    // (StateStore.commitTables). Unchanged components never appear in
    // any segment: their memo/tracking/state rows stay physically in
    // place in the base.
    val memoCommit = StateStore.Delta(scope.memoUpserts, scope.goneKeys)

    // tracking: every desired row upserts — latest-wins on row_key IS
    // the ownership preemption (reference execution.rs:771-833): a
    // row_key declared this run shadows any stale tracking row held by
    // another component. Delete-action rows tombstone. Destructive:
    // the container was recreated — no pre-existing row survived, so
    // tracking is rewritten as exactly the desired set.
    val desiredTracking = actions.filter(col("value_fp").isNotNull)
      .select("item_key", "row_key", "value_fp")
    val trackingCommit: StateStore.TableCommit =
      if (planned.destructive) StateStore.Full(desiredTracking)
      else StateStore.Delta(desiredTracking, deleteKeys)

    // errors reconcile unconditionally: a stage that STOPPED emitting
    // __error must still clear the stale failure records of the
    // components that recomputed cleanly (and of deleted components) —
    // tombstone every scope component's previous failures, upsert the
    // new ones (upserts shadow their own tombstones in-segment)
    val errorTables: Map[String, StateStore.TableCommit] =
      if (!hasErrors && !st.tableExists("errors")) Map.empty
      else {
        val prevErrors = st.read("errors", ErrorsSchema)
        val tombstones = prevErrors
          .join(scope.scopeKeys, Seq("item_key"), "left_semi")
          .select("item_key", "row_key")
        // no new failures AND no stale scope failures to clear ⇒ skip
        // the family entirely — a zero-row Delta segment per run is
        // pure segment churn (and periodic no-op compactions). The
        // probe is a head(1) over the tiny errors table.
        if (!hasErrors && tombstones.isEmpty) Map.empty
        else {
          val newFailed =
            if (hasErrors) failed
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], ErrorsSchema)
          Map("errors" -> StateStore.Delta(newFailed, tombstones))
        }
      }
    // target_state is rewritten ONLY when the transition is pending
    // (record/attachment/generation changed, or never stored) — a
    // steady-state run's record is byte-identical to the stored one,
    // which carries forward as a hard link; rewriting it anyway cost
    // every engine pass one whole Spark job for a 1-row parquet (r18
    // batch 2, guide §1.2 step 1: per-pass fixed overhead).
    val stateTables: Map[String, StateStore.TableCommit] = errorTables ++
      Map("component_memo" -> memoCommit, "tracking" -> trackingCommit) ++
      (if (planned.pendingTransition) targetStateTable(spark, planned)
       else None)
        .map { case (n, df) => n -> StateStore.Full(df) } ++
      userStateFn.map { fn =>
      val prev = st.read("user_state", UserStateSchema)
      val declared = fn(input, scope.changedOnly(prev))
        .select(col("item_key"), col("state_key"), col("value").cast("string"))
      // unchanged components keep state; changed components' state is
      // exactly what they redeclared; gone components' state is pruned
      "user_state" -> (StateStore.Delta(declared,
        prev.join(scope.scopeKeys, Seq("item_key"), "left_semi")
          .select("item_key", "state_key")): StateStore.TableCommit)
    }
    // the memo row count advances by exactly (new items − gone items):
    // changed-existing and refreshed rows replace in place. Kept exact
    // so later delta-scoped passes can derive survivor tallies from
    // the sidecar instead of counting the corpus.
    st.commitTables(stateTables,
      countDeltas = Map("component_memo" -> (nNewItems - byCls("gone"))))
    afterCommit.foreach(_.apply())

    val stats = RunStats(
      components = nTotal - byCls("gone"),
      unchanged = byCls("unchanged") + survivors,
      refreshed = nRefreshed,
      recomputed = nChanged,
      deletedComponents = byCls("gone"),
      rowsInserted = byAction("insert"),
      rowsUpdated = byAction("update"),
      rowsDeleted = byAction("delete"),
      rowsNoop = byAction("noop"),
      rowsFailed = nFailed)
    (Seq(listing, probe, loaded, actions, failed) ++ scope.cached)
      .foreach(_.unpersist())
    stats
  }

  /** One-shot O(delta) catch-up from the source's change feed — the
    * batch twin of [[runLiveWatched]] for DURABLE feeds (e.g.
    * [[TopicTarget.feed]] with a consumer group): arm the watcher,
    * bootstrap with one full run iff this flow has never committed a
    * memo (the reference's committed-state-gated `update_all()`,
    * live_component.py:546-564), then drain-and-[[runDelta]] until a
    * drain comes back empty — that final empty drain is also what
    * commits the last processed tick's offset (the one-drain-late
    * protocol). Every subsequent refresh over an N-component base
    * with a k-key delta costs O(k) stat work, not an O(N) re-listing.
    *
    * A watcher overflow falls back to exactly one full rescan; a
    * source without a feed degrades to a plain [[run]]. Stats are the
    * summed deltas of every tick this call processed (component
    * totals are the final tick's). */
  def runFeed(spark: SparkSession, maxTicks: Int = 1000): RunStats =
    source match {
      case w: WatchableSource =>
        val watcher = w.watch() // armed/resumed BEFORE any scan
        try {
          val bootstrap =
            state(spark).read("component_memo", ComponentMemoSchema).isEmpty
          var acc: Option[RunStats] = if (bootstrap) Some(run(spark)) else None
          var done = false
          var ticks = 0
          while (!done && ticks < maxTicks) {
            ticks += 1
            val (delta, overflow) = watcher.drain()
            if (overflow) acc = Some(mergeStats(acc, run(spark)))
            else if (delta.isEmpty) done = true
            else acc = Some(mergeStats(acc, runDelta(spark, delta)))
          }
          acc.getOrElse(RunStats(0, 0, 0, 0, 0, 0, 0, 0, 0))
        } finally watcher.close()
      case _ => run(spark)
    }

  /** Tick-summed stats: deltas add; component totals (components /
    * unchanged) describe the corpus as of the LAST tick. */
  private def mergeStats(acc: Option[RunStats], next: RunStats): RunStats =
    acc match {
      case None => next
      case Some(a) => RunStats(
        components = next.components,
        unchanged = next.unchanged,
        refreshed = a.refreshed + next.refreshed,
        recomputed = a.recomputed + next.recomputed,
        deletedComponents = a.deletedComponents + next.deletedComponents,
        rowsInserted = a.rowsInserted + next.rowsInserted,
        rowsUpdated = a.rowsUpdated + next.rowsUpdated,
        rowsDeleted = a.rowsDeleted + next.rowsDeleted,
        rowsNoop = a.rowsNoop + next.rowsNoop,
        rowsFailed = a.rowsFailed + next.rowsFailed)
    }

  /** Run continuously: re-execute on a fixed delay as a streaming
    * query; each tick costs only the changed delta (reference live
    * mode / auto_refresh — the engine's memoization IS the catch-up
    * loop). Stop via the returned query. */
  def runLive(spark: SparkSession, interval: String,
      onStats: RunStats => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.AutoRefresh.start(spark, interval) {
      onStats(run(spark))
    }

  /** Live mode with a push-based change feed: the source's watcher is
    * armed BEFORE the initial full scan (so nothing is missed), then
    * each tick drains the pending delta — an empty drain does zero
    * work, a non-empty one costs O(changed) via [[runDelta]], and a
    * watcher overflow falls back to exactly one full rescan (the
    * reference's rescan safety net, localfs/_source.py:263-280).
    * Sources without a watcher degrade to the polling [[runLive]]. */
  def runLiveWatched(spark: SparkSession, interval: String,
      onStats: RunStats => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = source match {
    case w: WatchableSource =>
      val watcher = w.watch() // armed before the first (full) run
      @volatile var first = true
      @volatile var lastComponents = 0L
      val query = graft.streaming.AutoRefresh.start(spark, interval) {
        val (delta, overflow) = watcher.drain()
        val stats =
          if (first || overflow) { first = false; run(spark) }
          else if (delta.isEmpty)
            RunStats(lastComponents, lastComponents, 0, 0, 0, 0, 0, 0, 0)
          else runDelta(spark, delta)
        lastComponents = stats.components
        onStats(stats)
      }
      // release the inotify watch when the query terminates
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
            if (e.id == query.id) {
              watcher.close()
              spark.streams.removeListener(this)
            }
        })
      query
    case _ => runLive(spark, interval, onStats)
  }

  /** Live mode with an observable handle: cumulative stats, per-tick
    * watch subscriptions and a readiness signal (the reference's
    * `UpdateHandle.stats()/watch()` + RUNNING→READY status,
    * update_stats.py). Built on the push-based [[runLiveWatched]]. */
  def runLiveHandle(spark: SparkSession, interval: String): UpdateHandle = {
    val handle = new UpdateHandle
    // the flow name is the processor label in the per-component
    // breakdown (reference: Rust groups ProcessingStatsGroup per
    // processor name)
    handle.attach(runLiveWatched(spark, interval, handle.record(name, _)))
    handle
  }

  /** Per-subpath incremental control (the reference's
    * `LiveComponentOperator` protocol): enqueue update/delete of
    * single components, flush as one O(queue) catch-up. */
  def operator(spark: SparkSession): LiveFlowOperator =
    new LiveFlowOperator(this, spark)

  /** Current user-state rows (inspection / next-run reads). */
  def userState(spark: SparkSession): DataFrame =
    state(spark).read("user_state", UserStateSchema)

  /** Per-row failures recorded by the last run of each component
    * (rows a stage marked with `__error`). */
  def errors(spark: SparkSession): DataFrame =
    state(spark).read("errors", ErrorsSchema)

  /** Inspection API (reference inspect_api.py:10-158 / CLI `ls`,
    * `show`): the engine's state is plain queryable relations. */
  def componentMemo(spark: SparkSession): DataFrame =
    state(spark).read("component_memo", ComponentMemoSchema)
  def trackedRows(spark: SparkSession): DataFrame =
    state(spark).read("tracking", TrackingSchema)

  /** Dry-run: the classified delta, nothing applied (reference
    * preview mode, execution.rs:1363-1435; CLI `show`). */
  def preview(spark: SparkSession): DataFrame = {
    val st = state(spark)
    val pFp = tablePlan(spark, st).effectiveFp
    val listing = source.list(spark)
    val memo = st.read("component_memo", ComponentMemoSchema)
    val probe = listing.select(col("item_key"), col("memo_state"))
      .join(memo.select(col("item_key"), col("processor_fp"),
        col("memo_state").as("stored_state")), Seq("item_key"), "full_outer")
      .withColumn("cls",
        when(col("memo_state").isNull, lit("delete"))
          .when(col("processor_fp").isNull, lit("compute"))
          .when(col("processor_fp") =!= pFp, lit("recompute"))
          .when(col("stored_state") === col("memo_state"), lit("unchanged"))
          .otherwise(lit("revalidate")))
    probe.select(col("item_key"), col("cls").as("pending_action"))
  }

  /** Revert everything this flow owns: delete all tracked target rows
    * and clear the state store (reference `App.drop`, app.py:376 —
    * target states reverted, state cleared). */
  def drop(spark: SparkSession): TargetStats = {
    val st = state(spark)
    val tracking = st.read("tracking", TrackingSchema)
    val empty = tracking.select("row_key").limit(0)
    val stats = target.apply(spark, upserts = empty.limit(0),
      deleteKeys = tracking.select("row_key"))
    // attachments are target states too: drop reverts them by running
    // the STORED teardowns (the declared set may have drifted since
    // the last commit — the stored records describe what exists)
    st.read("target_state", TargetStateSchema).collect().headOption
      .toSeq.flatMap(r => decodeAtts(r.getString(5)))
      .flatMap(_.teardown)
      .foreach(target.execAttachmentSql(spark, _, tolerateMissing = true))
    st.clear()
    stats
  }
}

object Flow {
  /** Scope-size bound for bounded-scope literalization (see runImpl):
    * a pass whose changed + suspect + gone items fit it collects its
    * scope once and runs level 2, the keyed restrictions and the memo
    * commit from driver lists — scope keys become IN plans the parquet
    * scans prune by. Past it the scope stays a frame (semi-joins):
    * these literals become per-pass IN plans, and past a few thousand
    * the optimizer pass costs more than the pruning saves. */
  val MaxScopeLiterals = 4096
}
