package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._

/** Row counts actually written/removed by one target apply. */
final case class TargetStats(upserted: Long, deleted: Long)

object TargetStats {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{count, lit}

  /** (|up|, |del|) in ONE Spark action instead of two standalone
    * `count()`s (r19, guide §1.2 step 1 — per-apply fixed overhead):
    * every wire target's apply pays this pair before writing, several
    * times per gate. One action is not one job: under adaptive query
    * execution each side's aggregate runs as its own query stages, and
    * a traced `live_edits` benchmark flush (PgTableTarget, ~50 edited
    * files) shows this action as 5–6 Spark jobs. Both frames are
    * cached by the callers, so the action materializes both caches for
    * the writes that follow. */
  def countPair(up: DataFrame, del: DataFrame): (Long, Long) = {
    val m = up.agg(count(lit(1)).as("n"))
      .select(lit("u").as("side"), org.apache.spark.sql.functions.col("n"))
      .unionAll(del.agg(count(lit(1)).as("n"))
        .select(lit("d").as("side"), org.apache.spark.sql.functions.col("n")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (m("u"), m("d"))
  }
}

/** A named SQL command attached to a table target — the reference's
  * `declare_sql_command_attachment`
  * (python/cocoindex/connectors/postgres/_target.py:1362-1386):
  * `setupSql` executes when the attachment is created or changed
  * (after the OLD version's teardown on change); `teardownSql` (if
  * any) executes when the attachment is removed. `invalidation`
  * optionally makes a CHANGE or REMOVAL bump the provider generation
  * — Destructive treats every component as never written, Lossy
  * re-upserts matching rows (the attachment child-invalidation
  * semantics, python/tests/core/test_attachment_target_states.py:
  * 243-330). */
final case class TargetAttachment(name: String, setupSql: String,
    teardownSql: Option[String] = None,
    invalidation: Option[StateDiff.ChildInvalidation] = None) {
  /** Identity of this version of the attachment: any change to the
    * SQL re-runs setup (after teardown). */
  def fingerprint: String =
    Fingerprint.of("att", name, setupSql, teardownSql.getOrElse(""),
      invalidation.map(_.name).getOrElse(""))
}

/** A managed external container the engine reconciles desired rows
  * into — the reference's target contract (TargetHandler.reconcile →
  * batched convergent sinks,
  * python/cocoindex/_internal/target_state.py:188-205). The engine
  * hands a target only the *classified delta*: rows to upsert and
  * keys to delete. Appliers MUST be idempotent keyed merges —
  * re-applying the same delta after a crash must converge (reference
  * "no rollback, convergent roll-forward").
  */
trait Target {
  /** Apply the delta. `upserts` carries `row_key` + payload columns;
    * `deleteKeys` carries `row_key` only. */
  def apply(spark: SparkSession, upserts: DataFrame, deleteKeys: DataFrame): TargetStats
  /** Read the target's current contents back (for queries/tests). */
  def read(spark: SparkSession): DataFrame

  /** Container identity — the part of the target's physical shape
    * that cannot change in place (the statediff *main* record: key
    * signature, bucket layout, …). When this differs from the stored
    * record the engine plans a destructive drop-recreate instead of
    * an in-place reconcile (reference PK-signature main record,
    * postgres/_target.py:930-947). */
  def containerSignature: String = ""

  /** Drop and recreate the empty container — the destructive
    * transition's DDL (reference `_drop_table` before re-create,
    * postgres/_target.py:1002-1010). */
  def truncate(spark: SparkSession): Unit = ()

  /** Declared SQL-command attachments. The ENGINE reconciles them
    * with the full lifecycle against its stored records: setup on
    * create/change, teardown on removal/before change, nothing on an
    * unchanged rerun, re-setup after a destructive table transition
    * (reference attachment target states,
    * target_state.py + test_attachment_target_states.py). */
  def attachments: Seq[TargetAttachment] = Nil

  /** Execute one attachment statement against the store. Required
    * for targets declaring [[attachments]]. Implementations tolerate
    * idempotent-DDL "already exists" errors (crash reruns converge);
    * `tolerateMissing` is set for TEARDOWNS only — tearing down an
    * object the container's drop already took is converged, but a
    * SETUP failing on a missing container is a real error that must
    * abort before the state commit (the transition replans). */
  def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean = false): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not execute attachment SQL")
}

/** Keyed parquet table with hash-bucketed copy-on-write — the MERGE
  * applier (reference row reconcile + batched
  * INSERT…ON CONFLICT DO UPDATE / DELETE,
  * python/cocoindex/connectors/postgres/_target.py:769-836) on a
  * plain filesystem:
  *
  *   - rows live under `dir/bucket=k/` with
  *     k = pmod(xxhash64(row_key), numBuckets);
  *   - an apply rewrites ONLY the buckets containing touched keys
  *     (dynamic partition overwrite): survivors = bucket contents
  *     anti-joined on touched keys, new data unioned in;
  *   - a no-op delta rewrites nothing at all.
  *
  * Scale: bucket count bounds rewrite granularity the way Delta/
  * Iceberg data files do; at 100 TB you'd raise `numBuckets` so each
  * bucket is a few hundred MB and only touched buckets shuffle.
  * Partition pruning makes the survivor read skip untouched buckets
  * (visible as PartitionFilters in the scan).
  *
  * COPY-ON-WRITE vs DELTA-LOG (`deltaLog = true`): copy-on-write
  * rewrites each touched bucket WHOLESALE — random row keys touch
  * every bucket, so a maintained index at 100 TB would rewrite its
  * entire physical table per reconcile even for a 10-row delta. The
  * delta-log mode is the LSM answer (the same design the engine's
  * state store uses for its own tables): an apply APPENDS one
  * segment holding exactly its upserts plus thin tombstones, so
  * write bytes are O(delta); reads merge base ∪ segments with
  * latest-wins per `row_key`, and bucket filters still
  * partition-prune both sides.
  *
  * Compaction is TIERED, so amortized write bytes stay O(delta) at
  * ANY base size (a single count-triggered full fold would cost
  * base/maxDeltaSegments per apply — linear in the corpus, the exact
  * amplification delta-log mode exists to remove):
  *
  *   - tier 0 → tier 1 (CONSOLIDATE): once `maxDeltaSegments` fresh
  *     segments accumulate, they merge into ONE consolidated segment
  *     (latest-wins, tombstones kept — base is not read). Consolidated
  *     segments (`_graft_consolidated` marker) are never re-merged
  *     with fresh ones, so no byte is consolidated twice per tier —
  *     the re-consolidation trap that would make the "minor" pass
  *     quadratic. A second consolidation tier merges the consolidated
  *     segments themselves when THEY reach `maxDeltaSegments`,
  *     bounding read fan-in at ~2×maxDeltaSegments live segments.
  *   - fold (MAJOR): segments fold into a fresh base generation only
  *     when live delta bytes reach `foldRatio` × base bytes (floored
  *     at `minFoldBytes` so toy-sized bases don't churn) or the
  *     absolute `maxDeltaBytes` — proportional, so the O(base) fold
  *     is paid once per base-fraction of churn. Each delta byte is
  *     written ≤3× before folding (segment, consolidation, tier-1
  *     merge), giving amortized per-apply bytes ≤ 3×delta +
  *     delta/foldRatio = O(delta), flat in base size.
  *
  * Merged reads pick their base-side plan by the live superseded-key
  * count (persisted per segment in its commit marker): under
  * `maxBroadcastKeys` the base anti-joins an explicitly BROADCAST key
  * set (no base exchange); past it — a fat table accumulating churn
  * toward a proportional fold can hold far more delta keys than any
  * broadcast should carry — the read switches to a bloom-prefiltered
  * merge: base rows failing a delta-key bloom probe serve directly
  * (no join at all), only the bloom-positive sliver (true superseded
  * + fpp) pays an exact anti-join. Neither branch exchanges or
  * broadcasts anything corpus-sized; the cost is a second base scan
  * for the sliver branch, acceptable because full merged reads of a
  * fat table are rare (folds, handoffs, crash recovery).
  *
  * Crash safety is convergent roll-forward:
  * every segment/generation directory is invisible until its
  * `_graft_committed` marker lands, a crashed writer's unmarked
  * directory is swept on the next apply, and replaying surviving
  * segments over a freshly-folded base is value-identical (the
  * compaction can crash anywhere after its marker and re-converge;
  * a consolidated segment outranks its inputs by segment id, so a
  * crash between its commit and the inputs' retirement double-serves
  * identical latest rows).
  */
final case class ParquetTableTarget(dir: String, numBuckets: Int = 16,
    /** SQL expression over `row_key` whose hash places the row in a
      * bucket. Default: the key itself. A serving-oriented index can
      * bucket by a key PREFIX/SUFFIX instead (e.g. the FTS index
      * buckets `doc:term` rows by the term) so reads prune to the
      * buckets of their lookup values — at the cost of writes
      * fanning out to every bucket a component's rows hash to. */
    bucketKeySql: String = "row_key",
    /** LSM layout: applies append O(delta) segments instead of
      * rewriting touched buckets — see the class doc. Layout is
      * container identity (a flow constructed with the other mode
      * plans a destructive recreate); reads auto-detect the on-disk
      * layout, so reader handles work against either. */
    deltaLog: Boolean = false,
    /** Delta-log only: consolidate fresh segments into one once this
      * many accumulate (tier 0 → tier 1; see the class doc). Also the
      * tier-1 capacity before consolidated segments merge again. NOT
      * container identity — tune in place. */
    maxDeltaSegments: Int = 16,
    /** Delta-log only: FOLD into a new base generation once the live
      * segments' on-disk bytes pass this absolute bound (r16 verdict
      * #2). Right for thin index tables whose base is comparable to
      * this bound; a FAT table (the corpus export) should raise it
      * toward Long.MaxValue and let `foldRatio` govern — an absolute
      * trigger on a 100 TB table would force a full rewrite every
      * 512 MB of churn. NOT container identity — tune in place. */
    maxDeltaBytes: Long = 512L << 20,
    /** Delta-log only: ALSO fold once live delta bytes reach this
      * fraction of the base's bytes — the proportional trigger that
      * keeps the O(base) fold amortized to O(delta) per apply at any
      * base size. NOT container identity — tune in place. */
    foldRatio: Double = 0.25,
    /** Delta-log only: the proportional trigger is ignored below this
      * many live delta bytes — folding a toy-sized base every few
      * applies is pure write amplification (the fold's O(base) cost
      * pays off only against a substantial delta). The absolute
      * `maxDeltaBytes` trigger is NOT floored. NOT container
      * identity — tune in place. */
    minFoldBytes: Long = 16L << 20,
    /** Delta-log only: merged reads broadcast the superseded-key set
      * while the live segments hold at most this many rows; past it
      * the read switches to the bloom-prefiltered merge (class doc).
      * ~16 B/key broadcast → the default is a ~64 MB ceiling. NOT
      * container identity — tune in place. */
    maxBroadcastKeys: Long = 4L * 1000 * 1000,
    /** Delta-log only: SQL expression to physically cluster rows by
      * at every write (range-repartition + sort within partitions).
      * Point fetches whose predicate lands on this expression's
      * column then prune parquet row groups by min/max statistics —
      * without clustering, hash/lineage placement spreads every key
      * range over every file and a 2,000-key IN reads the whole
      * table. Costs one delta-sized range shuffle per apply and rides
      * the already-O(table) fold. Set it to the table's natural fetch
      * key (e.g. the export's native doc id — row_key's LEXICAL order
      * scatters numeric ids, so cluster by the typed column the
      * fetches actually filter on). NOT container identity. */
    clusterBySql: Option[String] = None)
    extends Target {

  private def bucketOf = pmod(xxhash64(expr(bucketKeySql)), lit(numBuckets))
    .cast("int")

  /** Physically cluster `df` by [[clusterBySql]] before a delta-log
    * write (no-op when unset — the default keeps every existing
    * target's shuffle-free write plans byte-identical).
    *
    * The range partitioning leads with `bucket` (r18): these frames
    * are written `partitionBy("bucket")`, and ranging on the cluster
    * key ALONE hands every write task rows of every bucket — each
    * task then opens one file per bucket dir (tasks × numBuckets tiny
    * files per write, 2,048 for the export's 64-bucket base at 32
    * tasks) and the writer's own required sort on the partition
    * column reorders rows the cluster sort just arranged. Leading
    * with bucket gives each task a contiguous slice of ONE bucket
    * (±1 at range boundaries): O(tasks) right-sized files, and the
    * (bucket, key) sort already satisfies the writer's requirement so
    * no second sort runs — files keep their key order and row-group
    * min/max stats stay tight for the keyed fetches. */
  private def clustered(df: DataFrame): DataFrame =
    clusterBySql.fold(df)(c =>
      df.repartitionByRange(col("bucket"), expr(c))
        .sortWithinPartitions(col("bucket"), expr(c)))

  /** The bucket layout is baked into every row's placement, and the
    * directory is the container's physical location: a `numBuckets`
    * change invalidates the whole layout, and a `dir` change is a
    * container swap (the reference treats a renamed table as a new
    * key → full create, postgres/_target.py:930-947) — both are
    * container identity, not in-place properties. Without `dir` in
    * the signature a relocated target would silently keep unchanged
    * items' rows only in the OLD location. */
  override def containerSignature: String =
    s"parquet;dir=$dir;pk=row_key;buckets=$numBuckets" +
      (if (bucketKeySql == "row_key") "" else s";bkey=$bucketKeySql") +
      (if (deltaLog) ";delta=1" else "")

  override def truncate(spark: SparkSession): Unit =
    FsUtil.deleteRecursively(new java.io.File(dir))

  private def bucketDirs: Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).toSeq

  private def v1Exists = bucketDirs.nonEmpty

  // ---- delta-log layout: dir/base/g=<n>/bucket=k, dir/delta/seg=<n>/
  // bucket=k; a numbered dir is LIVE only once its commit marker lands
  private def baseRoot = new java.io.File(dir, "base")
  private def deltaRoot = new java.io.File(dir, "delta")
  private def markerOf(d: java.io.File) = new java.io.File(d, "_graft_committed")
  private def numbered(root: java.io.File, prefix: String)
      : Seq[(Long, java.io.File)] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix + "="))
      .flatMap(f => scala.util.Try(
        f.getName.drop(prefix.length + 1).toLong).toOption.map(_ -> f))
      .toSeq.sortBy(_._1)
  private def baseGens = numbered(baseRoot, "g")
  private def deltaSegs = numbered(deltaRoot, "seg")
  private def activeBase: Option[java.io.File] =
    baseGens.filter(g => markerOf(g._2).exists()).lastOption.map(_._2)
  private def activeSegs: Seq[java.io.File] =
    deltaSegs.filter(s => markerOf(s._2).exists()).map(_._2)
  private def deltaLayoutOnDisk = baseRoot.isDirectory || deltaRoot.isDirectory

  private def exists = v1Exists ||
    (deltaLayoutOnDisk && (activeBase.nonEmpty || activeSegs.nonEmpty))

  private def schemaFile = new java.io.File(dir, "_schema.json")

  private def saveSchema(df: DataFrame): Unit =
    saveSchema(df.schema)

  private def saveSchema(schema: org.apache.spark.sql.types.StructType): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(schemaFile.toPath,
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def storedSchema: Option[org.apache.spark.sql.types.StructType] =
    if (!schemaFile.exists()) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(schemaFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    // an on-disk copy-on-write layout under a delta-log handle (or
    // vice versa) means two writers disagree about the container —
    // writing would interleave layouts in one dir. Flows never get
    // here (layout is container identity → the engine plans
    // drop-recreate); a direct user fails loudly. Checked BEFORE
    // anything is cached so the failure path pins no blocks.
    if (deltaLog && v1Exists) throw new IllegalStateException(
      s"target $dir holds a copy-on-write (bucket=) layout but this " +
        "handle declares deltaLog=true — truncate or migrate first")
    if (!deltaLog && deltaLayoutOnDisk) throw new IllegalStateException(
      s"target $dir holds a delta-log (base/delta) layout but this " +
        "handle declares deltaLog=false — truncate or migrate first")

    val upB = upserts.withColumn("bucket", bucketOf)
    val delK = deleteKeys.select(col("row_key"))
    if (deltaLog)
      // the delta path's counts ride the segment write itself
      // (Dataset.observe): an apply — bootstrap included — computes
      // the delta EXACTLY ONCE, with no standalone count jobs and no
      // cached copy of it (r18: two count jobs + two cached frames
      // per apply were pure fixed overhead at bench scale and a
      // needless extra pass over the delta at any scale)
      applyDeltaLog(spark, upB, delK)
    else {
      // the copy-on-write steady state reads both frames several
      // times (per-bucket aggregate, touched keys, survivor union) —
      // THERE the cache earns its keep. try/finally, not per-return
      // unpersists (ADVICE r16): every return AND every throwing path
      // must release the cached blocks.
      val up = upB.cache()
      val del = delK.cache()
      try applyCopyOnWrite(spark, up, del)
      finally { up.unpersist(); del.unpersist() }
    }
  }

  private def applyCopyOnWrite(spark: SparkSession, up: DataFrame,
      del: DataFrame): TargetStats = {
    if (!exists) {
      // bootstrap fast path: deletes are vacuous against an empty
      // container, and the row count rides the write (one pass over
      // the initial corpus, not two) — at bootstrap scale a separate
      // count would recompute the whole upsert plan for nothing
      val obs = org.apache.spark.sql.Observation()
      up.observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("bucket").mode(SaveMode.Overwrite).parquet(dir)
      val nUp = obs.get("n").asInstanceOf[Long]
      if (nUp > 0) saveSchema(up.drop("bucket"))
      else FsUtil.deleteRecursively(new java.io.File(dir))
      return TargetStats(nUp, 0)
    }

    // ONE driver action answers everything the steady-state apply
    // plan needs — row counts per side and the touched-bucket set
    // (this replaces three separate count/collect jobs; every engine
    // pass pays this path, so job count here is pure fixed overhead)
    val perBucket = up.select(col("bucket"), lit(1L).as("is_up"))
      .unionByName(del.select(bucketOf.as("bucket"), lit(0L).as("is_up")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("is_up").as("n_up"))
      .collect()
    val nTotal = perBucket.map(_.getLong(1)).sum
    val nUp = perBucket.map(_.getLong(2)).sum
    val nDel = nTotal - nUp
    if (nUp == 0 && nDel == 0) return TargetStats(0, 0)

    val touchedKeys = up.select("row_key").union(del).distinct()
    val touchedBuckets = perBucket.map(_.getInt(0)).toSeq

    val current = read(spark).filter(col("bucket").isin(touchedBuckets: _*))
    val survivors = current.join(touchedKeys, Seq("row_key"), "left_anti")
    // localCheckpoint cuts the lineage back to the files being
    // overwritten — without it the overwrite job would read the very
    // parquet files it is deleting
    val newData = survivors.unionByName(up, allowMissingColumns = true)
      .withColumn("bucket", bucketOf)
      .localCheckpoint()

    // Dynamic partition overwrite: only the touched bucket dirs are
    // replaced; untouched buckets' files are not rewritten.
    newData.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .mode(SaveMode.Overwrite)
      .parquet(dir)
    saveSchema(newData.drop("bucket"))

    // dynamic overwrite only replaces partitions PRESENT in the new
    // data — a touched bucket whose rows were all deleted must be
    // cleared explicitly or its old files survive
    val bucketsWithData = newData.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    touchedBuckets.filterNot(bucketsWithData).foreach { b =>
      val d = new java.io.File(dir, s"bucket=$b")
      Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      d.delete()
    }
    TargetStats(nUp, nDel)
  }

  /** One apply = one appended segment: upsert rows (`__deleted` =
    * false) plus thin all-null-payload tombstones, partitioned by
    * bucket like the base. O(delta) bytes written; nothing current
    * is read at all (the copy-on-write path's read-modify-write is
    * exactly what this mode exists to avoid). The upsert/delete
    * counts ride the write job as observed metrics — the delta is
    * computed exactly once per apply; an apply that turns out empty
    * removes its uncommitted dir (never marker-committed, so it was
    * never visible to a reader). */
  private def applyDeltaLog(spark: SparkSession, up: DataFrame,
      del: DataFrame): TargetStats = {
    // sweep crash leftovers: an unmarked numbered dir is a previous
    // (single-)writer's partial write — invisible to readers, dead
    (baseGens ++ deltaSegs).filterNot(d => markerOf(d._2).exists())
      .foreach(d => FsUtil.deleteRecursively(d._2))

    if (!exists) {
      // first write goes straight to a compacted base generation
      // (deletes are vacuous against an empty container)
      val g0 = new java.io.File(baseRoot, "g=0")
      val obs = org.apache.spark.sql.Observation()
      // observe ABOVE the clustering exchange: the range partitioner's
      // boundary-sampling pass re-executes the exchange's CHILD, and a
      // metrics node down there would double-count every row
      clustered(up).observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("bucket").mode(SaveMode.Overwrite)
        .parquet(g0.getPath)
      val nUp = obs.get("n").asInstanceOf[Long]
      if (nUp > 0) {
        saveSchema(up.drop("bucket"))
        commit(g0, nUp)
      } else FsUtil.deleteRecursively(baseRoot)
      return TargetStats(nUp, 0)
    }

    // widened payload schema: later applies may add columns (the
    // copy-on-write path's allowMissingColumns evolution)
    val upPayload = up.drop("bucket").schema
    val stored = storedSchema.getOrElse(upPayload)
    val widened = org.apache.spark.sql.types.StructType(
      stored.fields ++
        upPayload.fields.filterNot(f => stored.fieldNames.contains(f.name)))
    def aligned(df: DataFrame, deleted: Boolean): DataFrame =
      df.select(widened.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)) ++
        Seq(col("bucket"), lit(deleted).as("__deleted")): _*)
    val tomb = aligned(
      del.select(col("row_key")).withColumn("bucket", bucketOf),
      deleted = true)
    val seg = aligned(up, deleted = false).unionByName(tomb)

    val segId = (deltaSegs.map(_._1) :+ -1L).max + 1
    val segDir = new java.io.File(deltaRoot, s"seg=$segId")
    val obs = org.apache.spark.sql.Observation()
    // observe ABOVE the clustering exchange (see the bootstrap branch)
    clustered(seg).observe(obs,
        sum(when(col("__deleted"), 0L).otherwise(1L)).as("n_up"),
        sum(when(col("__deleted"), 1L).otherwise(0L)).as("n_del"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(segDir.getPath)
    // sum() over zero rows observes null, not 0
    val nUp = Option(obs.get("n_up").asInstanceOf[java.lang.Long])
      .fold(0L)(_.longValue)
    val nDel = Option(obs.get("n_del").asInstanceOf[java.lang.Long])
      .fold(0L)(_.longValue)
    if (nUp == 0 && nDel == 0) {
      // empty apply: the dir was never marker-committed (invisible);
      // remove it so the container is byte-identical to before
      FsUtil.deleteRecursively(segDir)
      return TargetStats(0, 0)
    }
    saveSchema(widened)
    commit(segDir, nUp + nDel)
    maintainDeltaLog(spark)
    TargetStats(nUp, nDel)
  }

  /** Post-apply housekeeping, in priority order (class doc): a
    * proportional (or absolute) byte trigger folds everything into a
    * new base; otherwise full tiers consolidate — fresh segments into
    * one once `maxDeltaSegments` accumulate, and ALL live segments
    * once the consolidated ones themselves reach `maxDeltaSegments`
    * (consolidating only the consolidated tier would be wrong: fresh
    * segments with interleaved ids can hold NEWER rows for a key than
    * an older consolidated segment, and the merged output's fresh id
    * would outrank them). */
  private def maintainDeltaLog(spark: SparkSession): Unit = {
    val segs = activeSegs
    val liveBytes = segs.map(FsUtil.sizeOf).sum
    val baseBytes = activeBase.map(FsUtil.sizeOf).getOrElse(0L)
    if (liveBytes >= maxDeltaBytes ||
        (liveBytes >= minFoldBytes && liveBytes >= foldRatio * baseBytes)) {
      compact(spark); return
    }
    if (segs.count(isConsolidated) >= maxDeltaSegments)
      consolidate(spark, segs)
    else {
      val fresh = segs.filterNot(isConsolidated)
      if (fresh.size >= maxDeltaSegments) consolidate(spark, fresh)
    }
  }

  private def consolidatedMarker(d: java.io.File) =
    new java.io.File(d, "_graft_consolidated")
  private def isConsolidated(d: java.io.File) = consolidatedMarker(d).exists()

  /** Merge `inputs` (live segments) into ONE consolidated segment and
    * retire them — latest-wins per key, tombstones KEPT (whether a
    * tombstoned key exists in the base is unknowable without reading
    * it, and consolidation never reads the base). Cost O(input
    * bytes). Convergent under crash: the output is invisible until
    * its marker, and once committed it outranks every input by
    * segment id while holding their exact latest rows, so
    * not-yet-retired inputs merely double-serve identical values (a
    * later pass re-consolidates and retires them). Tier-0 calls
    * consolidate ALL fresh segments, which preserves the invariant
    * that every fresh segment id exceeds every consolidated one. */
  private def consolidate(spark: SparkSession,
      inputs: Seq[java.io.File]): Unit = {
    if (inputs.size < 2) return
    val delta = spark.read.option("mergeSchema", "true")
      .option("basePath", deltaRoot.getPath)
      .parquet(inputs.map(_.getPath): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket", "row_key")
      .orderBy(col("seg").desc, col("__deleted").asc)
    // localCheckpoint cuts lineage to the input files retired below
    val latest = delta.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "seg")
      .localCheckpoint()
    val segId = (deltaSegs.map(_._1) :+ -1L).max + 1
    val segDir = new java.io.File(deltaRoot, s"seg=$segId")
    clustered(latest).write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(segDir.getPath)
    segDir.mkdirs()
    java.nio.file.Files.write(consolidatedMarker(segDir).toPath,
      Array.empty[Byte])
    commit(segDir, latest.count())
    inputs.foreach(d => FsUtil.deleteRecursively(d))
  }

  private def commit(d: java.io.File, rows: Long = 0L): Unit = {
    d.mkdirs() // an all-tombstone empty-write still needs its marker
    // the marker carries the directory's row count — merged reads use
    // the live segments' total as the superseded-key-count estimate
    // that picks the base-side plan (broadcast vs bloom prefilter)
    java.nio.file.Files.write(markerOf(d).toPath,
      rows.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Rows in a committed directory, from its marker; legacy empty
    * markers estimate from on-disk bytes (~16 B/row lower bound keeps
    * big legacy containers off the broadcast path). */
  private def rowsOf(d: java.io.File): Long =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      markerOf(d).toPath), java.nio.charset.StandardCharsets.UTF_8)
      .trim.toLong).getOrElse(FsUtil.sizeOf(d) / 16)

  /** Fold every live segment into a fresh base generation, then
    * retire the inputs. Convergent under crash at any point: the new
    * generation is invisible until its marker, and replaying the (not
    * yet deleted) segments over the folded base is value-identical —
    * latest-wins of rows the base already holds. */
  def compact(spark: SparkSession): Unit = {
    require(deltaLog, s"compact() on a copy-on-write target $dir")
    val segs = activeSegs
    if (segs.isEmpty) return
    val prevGens = baseGens.filter(g => markerOf(g._2).exists())
    val gen = (baseGens.map(_._1) :+ -1L).max + 1
    // localCheckpoint cuts lineage to the segment files retired below
    val merged = readDeltaLog(spark).localCheckpoint()
    if (!merged.isEmpty) {
      val gDir = new java.io.File(baseRoot, s"g=$gen")
      clustered(merged).write.partitionBy("bucket").mode(SaveMode.Overwrite)
        .parquet(gDir.getPath)
      commit(gDir)
    }
    // all rows tombstoned → no new base; the empty table serves from
    // the schema sidecar like a post-drop copy-on-write target
    segs.foreach(s => FsUtil.deleteRecursively(s))
    prevGens.foreach(g => FsUtil.deleteRecursively(g._2))
  }

  /** Merged view of base ∪ segments. Latest-wins runs only over
    * SEGMENT rows (bounded by the compaction policy); base rows
    * anti-join the thin superseded-key set. The window partitions by
    * (bucket, row_key) — bucket is functionally dependent on the key
    * — so a serve path's bucket filter still prunes below it. */
  private def readDeltaLog(spark: SparkSession): DataFrame = {
    val base = activeBase.map(d => spark.read.parquet(d.getPath))
    val segs = activeSegs
    if (segs.isEmpty) base.getOrElse(emptyFromSidecar(spark))
    else {
      val delta = spark.read.option("mergeSchema", "true")
        .option("basePath", deltaRoot.getPath)
        .parquet(segs.map(_.getPath): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket", "row_key")
        .orderBy(col("seg").desc, col("__deleted").asc)
      val latest = delta
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col("__deleted"))
        .drop("__rn", "__deleted", "seg")
      base match {
        case None => latest
        case Some(b) =>
          // the superseded-key-count estimate (live segment rows ≥
          // distinct keys) picks the base-side plan — both branches
          // below keep the corpus-sized base out of every Exchange
          // and every broadcast
          val keyEst = math.max(1L, segs.map(rowsOf).sum)
          if (keyEst <= maxBroadcastKeys)
            // EXPLICIT broadcast of the superseded-key set (r16
            // verdict #2 / ADVICE): the base side is corpus-sized —
            // left to statistics, segments past the auto-broadcast
            // threshold would sort-merge and EXCHANGE the base on
            // every read, the exact linear-in-N shuffle KeyedFetch
            // exists to prevent.
            b.join(broadcast(delta.select(col("row_key")).distinct()),
                Seq("row_key"), "left_anti")
              .unionByName(latest, allowMissingColumns = true)
          else {
            // bloom-prefiltered merge (class doc): a fat table run
            // under the proportional fold trigger legitimately holds
            // more delta keys than any broadcast should carry. Base
            // rows failing a delta-key bloom probe serve with NO join
            // at all; only the bloom-positive sliver (true superseded
            // keys + fpp of the base) pays an exact anti-join, forced
            // to sort-merge so the planner cannot choose to broadcast
            // the large key set. The filter is eager (one O(delta)
            // aggregate builds the bloom when the read PLAN is built)
            // and the broadcast it rides lives until session GC —
            // acceptable because reads this large are rare (folds,
            // handoffs, crash recovery), and each is corpus-scan
            // bound anyway.
            val keys = delta.select(col("row_key")).distinct()
            val bf = keys.stat.bloomFilter("row_key", keyEst, 0.01)
            val bc = spark.sparkContext.broadcast(bf)
            val might = udf((k: String) =>
              k != null && bc.value.mightContainString(k))
            b.filter(!might(col("row_key")))
              .unionByName(
                b.filter(might(col("row_key")))
                  .join(keys.hint("merge"), Seq("row_key"), "left_anti"))
              .unionByName(latest, allowMissingColumns = true)
          }
      }
    }
  }

  private def emptyFromSidecar(spark: SparkSession): DataFrame =
    storedSchema match {
      case Some(schema) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None =>
        throw new IllegalStateException(s"target $dir not yet written")
    }

  def read(spark: SparkSession): DataFrame =
    if (deltaLayoutOnDisk) readDeltaLog(spark)
    else if (v1Exists) spark.read.parquet(dir)
    // target written once but currently empty (e.g. post-drop)
    else emptyFromSidecar(spark)
}

/** One flow, several physical containers: routes each desired row to
  * one CHILD target by a tag derived from its `row_key` (default: the
  * prefix before the first ':'). This is the multi-target-stage shape
  * the reference gets from mounting one source into several exports
  * (one `mount_each` fanned into sibling targets,
  * python/cocoindex/_internal/live_component.py:567) — the corpus is
  * listed, loaded, staged and reconciled ONCE, and only the final
  * apply fans out, instead of each export paying its own full engine
  * pass over the same source.
  *
  * Delete keys carry only `row_key`, which is why the tag must be
  * derivable from the key itself — a separate tag column could not
  * route deletes. Rows whose tag matches no child fail the apply
  * loudly (a silently dropped row would desync the tracking table
  * from the physical containers); children with an empty slice are
  * skipped without paying their per-apply jobs.
  */
final case class FanoutTarget(children: Map[String, Target],
    tagOfKeySql: String = "substring_index(row_key, ':', 1)")
    extends Target {
  require(children.nonEmpty, "FanoutTarget needs at least one child")

  private def tagCol = expr(tagOfKeySql)

  override def containerSignature: String =
    children.toSeq.sortBy(_._1)
      .map { case (tag, t) => s"$tag={${t.containerSignature}}" }
      .mkString(s"fanout;tag=$tagOfKeySql;", ";", "")

  override def truncate(spark: SparkSession): Unit =
    children.values.foreach(_.truncate(spark))

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val up = upserts.withColumn("__tag", tagCol).cache()
    val del = deleteKeys.select(col("row_key")).withColumn("__tag", tagCol)
      .cache()
    try {
      // one action answers routing for every child: which tags have
      // rows (skip empty children's per-apply jobs) and whether any
      // row routes nowhere (fail before touching any container)
      val tagsPresent = up.select("__tag").unionByName(del.select("__tag"))
        .distinct().collect().map(_.getString(0)).toSet
      val unrouted = tagsPresent -- children.keySet
      require(unrouted.isEmpty,
        s"FanoutTarget: rows with tag(s) ${unrouted.mkString(", ")} match " +
          s"no child (children: ${children.keys.toSeq.sorted.mkString(", ")})")
      children.toSeq.sortBy(_._1).map { case (tag, t) =>
        if (!tagsPresent(tag)) TargetStats(0, 0)
        else t.apply(spark,
          up.filter(col("__tag") === tag).drop("__tag"),
          del.filter(col("__tag") === tag).drop("__tag"))
      }.reduce((a, b) => TargetStats(a.upserted + b.upserted,
        a.deleted + b.deleted))
    } finally { up.unpersist(); del.unpersist() }
  }

  /** Union of the children's contents, tagged; children not yet
    * written are skipped (a fanout flow's first apply may create only
    * the children that received rows). */
  def read(spark: SparkSession): DataFrame = {
    val readable = children.toSeq.sortBy(_._1).flatMap { case (tag, t) =>
      try Some(t.read(spark).withColumn("__fanout", lit(tag)))
      catch { case _: IllegalStateException => None }
    }
    if (readable.isEmpty)
      throw new IllegalStateException("FanoutTarget: no child written yet")
    readable.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
  }
}

/** Files in a managed directory — the reference's
  * `localfs.mount_dir_target` (python/cocoindex/connectors/localfs/
  * _target.py:300-451): each row is one file (`row_key` = relative
  * path, `content` = bytes or string); delete removes the file.
  * Writes happen executor-side (foreachPartition), never through the
  * driver.
  */
final case class LocalFsDirTarget(dir: String) extends Target {

  override def containerSignature: String = s"managed-dir;dir=$dir"

  override def truncate(spark: SparkSession): Unit =
    FsUtil.deleteRecursively(new java.io.File(dir), keepRoot = true)

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val base = dir
    // counts ride the write jobs as accumulators (r19, guide §1.2
    // step 1): the former standalone count() per side executed each
    // side's whole plan twice — once to count, once to write.
    // Accumulator updates inside ACTIONS are exactly-once under task
    // retry (Spark's documented guarantee), so the tallies are exact.
    val nUp =
      if (!upserts.columns.contains("content")) 0L // e.g. a drop: keys only
      else {
        val up = upserts.select(col("row_key"),
          col("content").cast("binary").as("content"))
        val acc = spark.sparkContext.longAccumulator("graft.fsdir.upserts")
        up.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val f = new java.io.File(base, r.getString(0))
            f.getParentFile.mkdirs()
            java.nio.file.Files.write(f.toPath, r.getAs[Array[Byte]](1))
            acc.add(1L)
          }
        }
        acc.value.longValue()
      }
    val del = deleteKeys.select("row_key")
    val delAcc = spark.sparkContext.longAccumulator("graft.fsdir.deletes")
    del.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.foreach { r =>
        val f = new java.io.File(base, r.getString(0))
        f.delete()
        delAcc.add(1L)
        // prune now-empty parent dirs up to (not incl.) the base
        var p = f.getParentFile
        val stop = new java.io.File(base).getCanonicalFile
        while (p != null && p.getCanonicalFile != stop &&
          Option(p.list()).exists(_.isEmpty)) {
          p.delete(); p = p.getParentFile
        }
      }
    }
    TargetStats(nUp, delAcc.value.longValue())
  }

  def read(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("content"))
}
