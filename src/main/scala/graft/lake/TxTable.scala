package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TxLog._
import TxFileIndex.{FileCol, PosCol, RowIdCol}
import TxTable.{filePositions, fileSet, statColsOf, statKind}

/** Table operations over a [[TxLog]]-managed parquet directory: ACID
  * create / append / delete / partition-overwrite, snapshot-isolated
  * reads, time travel, stats-based file skipping, and vacuum.
  *
  * Every mutation is copy-on-write (new immutable files + a log commit)
  * with optimistic concurrency: writers base their work on a snapshot,
  * try to claim `snapshot.version + 1`, and on losing the race re-read
  * and redo — blind appends need no redo (they conflict with nothing),
  * rewrites re-filter against the fresh state, which makes concurrent
  * delete-vs-append linearize correctly instead of losing the appended
  * rows. Failed attempts leave orphaned staged files; [[vacuum]] mops
  * them up (Delta's model exactly).
  *
  * Scale posture: the driver-side state is O(files) metadata (paths +
  * stats), never row data; reads hand Spark an explicit file list and
  * attach partition columns from the log's own values; rewrites
  * touch only the files that actually contain matching rows (found with
  * one metadata-column aggregation), not the whole table.
  */
final class TxTable(spark: SparkSession, rootStr: String) {
  private val root = new Path(rootStr)
  private val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val maxRetries = 20

  def version: Long = TxLog.latestVersion(fs, root)

  /** The current LOGICAL schema, from a bounded metadata resolution —
    * no Add entries collected (what SQL INSERT alignment needs). */
  def logicalSchema: StructType = metaSnapshot()._1.meta.schema

  /** True once a transaction log exists at the root. */
  def exists: Boolean = version >= 0L

  // ---- writes ----

  /** Create (or overwrite-create) the table from `df`. Version 0.
    * `enableChangeDataFeed` turns on commit-time change capture for every
    * later mutating commit (Delta's `delta.enableChangeDataFeed`).
    * `generatedColumns` declares GENERATED ALWAYS AS columns (logical
    * name → SQL expression over the row): computed here if `df` lacks
    * them, validated if it carries them, and maintained on every later
    * ingest — partition by one for pruning on a derived key (the
    * date-from-timestamp layout) without trusting writers to derive it
    * consistently. */
  /** `enableRowTracking` (Delta's row tracking) gives every row a
    * stable `_row_id`, preserved through every rewrite — see
    * [[TxLog.Meta.tracksRows]] and [[readWithRowIds]]. Create-time
    * opt-in only, like the CDF flag. */
  /** `identityColumns` declares GENERATED ALWAYS AS IDENTITY columns
    * (start 1, step 1): the create frame must NOT carry them (always
    * generated, never supplied — Delta's rule); every append-style
    * ingest allocates monotonically from the logged watermark. Gaps are
    * allowed; uniqueness and monotonic allocation are the contract.
    * `defaultValues` declares per-column DEFAULT SQL expressions; the
    * column must exist in the create frame (it fixes the type), later
    * ingest frames LACKING it get the expression instead of null. Both
    * stamp writer features — a version-skewed writer refuses instead of
    * landing duplicate identities or null-filled defaults. */
  def create(df: DataFrame, partitionCols: Seq[String] = Nil,
      enableChangeDataFeed: Boolean = false,
      generatedColumns: Map[String, String] = Map.empty,
      enableRowTracking: Boolean = false,
      identityColumns: Seq[String] = Nil,
      defaultValues: Map[String, String] = Map.empty,
      clusterBy: Seq[String] = Nil): Long = {
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    // a re-create voids the DEAD incarnation's coordinator claim
    // markers (the whole table directory was just deleted; without
    // this a CoordinatedClaim would refuse every version the old
    // table once committed). Schemes without a registered claim skip.
    scala.util.Try(LogStore.claimFor(fs))
      .foreach(_.invalidateTable(new Path(root, "_txlog")))
    clusterBy.foreach { c =>
      require(df.columns.contains(c), s"CLUSTER BY: no column $c")
      require(!partitionCols.contains(c),
        s"CLUSTER BY: $c is a partition column — its single value " +
          "prunes exactly already")
      require(graft.ext.ZOrderLayout.clusterable(df.schema(c).dataType),
        s"CLUSTER BY: $c (${df.schema(c).dataType.simpleString}) — " +
          "numeric, string, date, and timestamp columns cluster (the " +
          "Morton curve scales each key's sortable rank; strings map " +
          "through their 7-byte big-endian prefix)")
    }
    require(clusterBy.size * 10 <= 62,
      s"CLUSTER BY: ${clusterBy.size} columns x 10 interleave bits " +
        "overflow a long — at most 6 clustering columns")
    identityColumns.foreach { c =>
      require(!df.columns.contains(c),
        s"identity column $c is GENERATED ALWAYS — the create frame " +
          "must not supply it")
      require(!partitionCols.contains(c) && !generatedColumns.contains(c) &&
        !defaultValues.contains(c),
        s"identity column $c cannot also be a partition/generated/" +
          "defaulted column")
    }
    defaultValues.keys.foreach(c => require(df.columns.contains(c),
      s"DEFAULT column $c must exist in the create frame (it fixes the " +
        "column's type)"))
    val gen =
      if (generatedColumns.isEmpty) None else Some(generatedColumns)
    val idents =
      if (identityColumns.isEmpty) None
      else Some(identityColumns.map(_ -> 1L).toMap)
    val dfIdent = identityColumns.foldLeft(df)((d, c) =>
      d.withColumn(c, lit(1L) + monotonically_increasing_id()))
    val df2 = applyGenerated(dfIdent,
      Meta(dfIdent.schema.json, Nil, generatedColumns = gen))
    val df3 = if (enableRowTracking) assignRowIds(df2, 0L) else df2
    // features a naive writer would break are stamped from birth: a
    // version-skewed writer refuses instead of landing diverging
    // generated values, mutation commits with no change capture, or
    // rewrites that drop row identity
    val meta = (Seq(
      if (enableChangeDataFeed) Some("changeDataFeed") else None,
      if (gen.isDefined) Some("generatedColumns") else None,
      if (enableRowTracking) Some("rowTracking") else None,
      if (idents.isDefined) Some("identityColumns") else None,
      if (defaultValues.nonEmpty) Some("defaultValues") else None).flatten)
      .foldLeft(Meta(df2.schema.json, partitionCols.toList,
        cdfEnabled = if (enableChangeDataFeed) Some(true) else None,
        generatedColumns = gen,
        rowTracking = if (enableRowTracking) Some(true) else None,
        identityColumns = idents,
        defaultValues =
          if (defaultValues.isEmpty) None else Some(defaultValues),
        clusteringColumns =
          if (clusterBy.isEmpty) None else Some(clusterBy.toList)))(
        _ withWriterFeature _)
    // the create frame itself lands clustered (appends are best-effort
    // until the next OPTIMIZE — Delta's trade) and carries a ZCube
    // stamp, so routine OPTIMIZE leaves it alone
    val adds =
      if (clusterBy.isEmpty) stageWrite(df3, meta)
      else {
        val cube = java.util.UUID.randomUUID.toString.take(8)
        stageWrite(graft.ext.ZOrderLayout.zOrderedN(df3, clusterBy, 10, 8),
          meta).map(_.copy(zcube = Some(cube)))
      }
    val entries = LogEntry(meta =
      Some(bumpIdentities(bumpWatermark(meta, adds), adds))) +:
      adds.map(a => LogEntry(add = Some(a))) :+
      LogEntry(info = Some(Info("CREATE", -1L)))
    require(TxLog.tryCommit(fs, root, 0L, entries),
      s"table $root already has a log — create lost a race")
    0L
  }

  /** CREATE-IF-ABSENT: claim version 0 of a NEW (possibly empty-dir)
    * table atomically, WITHOUT ever deleting an existing directory —
    * the first-contact path concurrent writers (two streaming sinks
    * racing on the same new table root) must take. [[create]] is an
    * overwrite-create: it wipes the root first, so the loser of a
    * first-contact race would destroy the winner's committed v0.
    * Here the only claim is the v0 commit file itself
    * ([[TxLog.tryCommit]]'s atomic no-overwrite write): the winner
    * creates, the loser observes `false` and ATTACHES to the winner's
    * table (its own later appends evolve/refuse through the normal
    * schema gate). No data files are staged — v0 is an empty table
    * with `schema` and `partitionCols`. `properties` (validated
    * first — an invalid map refuses BEFORE any directory or commit
    * exists) folds into the same v0 commit, so `CREATE TABLE ...
    * TBLPROPERTIES` is one atomic DDL, not create-then-configure.
    * Returns true iff THIS call created the table. */
  def createIfAbsent(schema: StructType,
      partitionCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Boolean = {
    TxTable.validateTblProperties(properties)
    if (TxLog.latestVersion(fs, root) >= 0) return false
    fs.mkdirs(root)
    partitionCols.foreach(c =>
      require(schema.fieldNames.contains(c),
        s"createIfAbsent: partition column $c not in schema"))
    val base = Meta(schema.json, partitionCols.toList).copy(
      configuration = if (properties.isEmpty) None else Some(properties))
    val withCdf =
      if (properties.get(TxLog.propEnableCdf).exists(_.trim.toBoolean))
        base.copy(cdfEnabled = Some(true))
          .withWriterFeature("changeDataFeed")
      else base
    val meta =
      if (properties.get(TxLog.propAppendOnly).exists(_.trim.toBoolean))
        withCdf.withWriterFeature("appendOnly")
      else withCdf
    TxLog.tryCommit(fs, root, 0L,
      Seq(LogEntry(meta = Some(meta)),
        LogEntry(info = Some(Info("CREATE", -1L)))))
  }

  /** Full-table overwrite (SQL `INSERT OVERWRITE` / `TRUNCATE` +
    * reload) as ONE atomic commit: every live file is removed and the
    * new frame's staged files added in the same version — readers
    * never observe an empty or half-replaced table, and the previous
    * state still time-travels. Schema may evolve additively like any
    * append; constraints, generated/default/identity columns and row
    * tracking all apply to the incoming frame (fresh row ids — a
    * replaced table is new data, Delta's rule). Under CDF the commit
    * captures the full retraction (every prior live row as `delete`)
    * plus the new rows as `insert`. O(live files) driver work for the
    * Remove list — the same cost Delta's overwrite commit pays. */
  def overwrite(df0: DataFrame): Long = {
    val first = TxLog.snapshot(fs, root)
    gateWriter(first.meta)
    gateAppendOnly(first.meta, "overwrite")
    refuseIdentityValues(df0, first.meta)
    val df = applyGenerated(applyDefaults(df0, first.meta), first.meta)
    retrying("overwrite") { attempt =>
      val snap = if (attempt == 0) first else TxLog.snapshot(fs, root)
      gateWriter(snap.meta)
      enforceConstraints(df, snap.meta)
      val merged = evolve(snap.meta, df.schema)
      val doomed = snap.adds
      val idFeed = snap.meta.tracksRows && snap.meta.cdf
      // fresh ids/identities are per-attempt (watermark-dependent)
      val staged = freshRows(df, snap.meta)
      val entries = stageCommit(snap, merged, "OVERWRITE", doomed,
          Some(staged), {
          aligned(merged, readFiles(snap, doomed.map(_.path),
              withRowId = idFeed))
            .withColumn("_change_type", lit("delete"))
            .unionAll(aligned(merged, staged)
              .withColumn("_change_type", lit("insert")))
        })
      tryClaim(snap.version, entries)
    }
  }

  /** CONVERT (Delta's CONVERT TO DELTA): adopt an existing plain
    * parquet directory IN PLACE as version 0 of a transaction log —
    * not a byte of data is rewritten; the commit catalogs the files
    * that are already there, with freshly computed per-file stats
    * (rows, min/max, size), so data skipping works from the first
    * read. Hive-layout partition directories (`col=value/`) become the
    * table's partition columns. The stats pass is ONE distributed scan
    * of the directory — the explicit, one-time cost of adoption
    * (Delta's convert pays the same footprint collecting its file
    * manifest + stats); file sizes ride the same pass via `_metadata`,
    * no per-file driver RPCs. Refuses a directory that already has a
    * log; every subsequent append/mutation/optimize treats the adopted
    * files like any staged write.
    */
  def convertInPlace(partitionCols: Seq[String] = Nil): Long = {
    require(TxLog.latestVersion(fs, root) < 0,
      s"$root already has a transaction log")
    val df = spark.read.parquet(rootStr)
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"partition column $c not discovered under $root (hive layout " +
        "col=value directories required)"))
    val meta = Meta(df.schema.json, partitionCols.toList)
    val statCols = meta.schema.fields.toSeq
      .filterNot(f => partitionCols.contains(f.name))
      .filter(f => statKind(f.dataType).isDefined)
      .map(f => f.name -> f.dataType)
    val aggs = count(lit(1L)).as("__rows") +:
      first(col("_metadata.file_size")).as("__bytes") +:
      statCols.flatMap { case (p, _) =>
        Seq(min(col(p)).cast("string").as(s"__min_$p"),
          max(col(p)).cast("string").as(s"__max_$p"),
          sum(when(col(p).isNull, 1L).otherwise(0L)).as(s"__n_$p"))
      }
    val adds = df
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val rel = relPath(r.getAs[String]("__f"))
        val stats = statCols.flatMap { case (p, dt) =>
          val mn = r.getAs[String](s"__min_$p")
          val mx = r.getAs[String](s"__max_$p")
          if (mn == null || mx == null) None
          else Some(p -> Stat(statKind(dt).get, mn, mx,
            nulls = Some(r.getAs[Long](s"__n_$p"))))
        }.toMap
        Add(rel, r.getAs[Long]("__rows"), partValues(rel), stats,
          bytes = Some(r.getAs[Long]("__bytes")))
      }.toVector
    require(adds.nonEmpty, s"no parquet files under $root to convert")
    val entries = LogEntry(meta = Some(meta)) +:
      adds.map(a => LogEntry(add = Some(a))) :+
      LogEntry(info = Some(Info("CONVERT", -1L)))
    require(TxLog.tryCommit(fs, root, 0L, entries),
      s"convert of $root lost a race — another writer created a log")
    0L
  }

  /** Append rows. Additive schema evolution (new columns) is accepted:
    * the merged schema lands in the same commit and old files read back
    * with nulls in the new columns. Appends conflict with nothing —
    * losing a version race just means claiming the next number.
    */
  def append(df: DataFrame): Long = appendCore(df, None)

  /** Post-commit AUTO-COMPACTION (Delta's autoOptimize.autoCompact):
    * when `spark.graft.lake.autoCompact = true`, every append-path
    * commit is followed by a best-effort check — if any partition group
    * holds at least `spark.graft.lake.autoCompact.minFiles` (default 8)
    * undersized files, the ordinary [[optimize]] bin-pack runs as its
    * own commit. The streaming sink's per-batch commits are the
    * motivating churn: file counts converge WITHOUT a manual OPTIMIZE,
    * and because it IS optimize, clustered tables keep their ZCube
    * model (new data joins a fresh cube, stable cubes untouched).
    * Best-effort by design: a compaction failure or lost race never
    * fails the append that triggered it. OFF by default — the check
    * costs one log resolution per commit, which only churn-heavy
    * writers should pay. */
  private def maybeAutoCompact(meta: Meta): Unit = {
    val conf = spark.conf
    // the gate parse sits INSIDE the Try envelope too: the commit that
    // triggered this hook has already landed, so a malformed conf value
    // ("yes", "1") must degrade to no-compaction, not make a durable
    // append report failure (a retry would duplicate every row).
    // Precedence (Delta's): a SET session conf overrides the table's
    // own txlog.autoCompact property; the property (validated at SET
    // TBLPROPERTIES time) lets a churn-heavy table opt in persistently
    // with zero per-session wiring — the committed meta is already in
    // hand, so consulting it costs nothing.
    def gate(confKey: String, propKey: String): Option[String] =
      conf.getOption(confKey).orElse(meta.config.get(propKey))
    if (scala.util.Try(gate(TxTable.autoCompactKey, TxLog.propAutoCompact)
        .exists(_.toBoolean)).getOrElse(false))
      scala.util.Try {
        val minFiles = gate(TxTable.autoCompactMinFilesKey,
          TxLog.propAutoCompactMinFiles).map(_.toInt).getOrElse(8)
        val minRows = gate(TxTable.autoCompactMinRowsKey,
          TxLog.propAutoCompactMinRows).map(_.toLong).getOrElse(1L << 20)
        val snap = TxLog.snapshot(fs, root)
        val churned = snap.adds.groupBy(_.partitionValues)
          .exists(_._2.count(_.rows < minRows) >= minFiles)
        if (churned) optimize(minRows = minRows): Unit
      }: Unit
  }

  /** [[append]] under a writer-transaction watermark: a call whose
    * (appId, txnVersion) the log has already absorbed is a NO-OP
    * returning the current version — exactly-once for retried batch
    * jobs and replayed streaming micro-batches, enforced by the log
    * itself (the check re-runs inside the optimistic-commit loop, so a
    * concurrent duplicate loses the race and then skips).
    */
  def appendIdempotent(df: DataFrame, appId: String,
      txnVersion: Long): Long =
    appendCore(df, Some(Txn(appId, txnVersion)))

  private def appendCore(df0: DataFrame, txn: Option[Txn]): Long = {
    // Stage ONCE — data files are commit-independent; only the version
    // claim (and the schema check, against whatever landed meanwhile)
    // repeats on a lost race. An append never names existing files, so
    // its snapshots carry NO Add entries above the driver threshold —
    // a blind append to a million-file table is O(tail) on the driver.
    val first = metaSnapshot()._1
    gateWriter(first.meta)
    if (absorbed(first, txn)) return first.version
    // defaults fill absent columns, then generated columns compute —
    // both fixed at CREATE, so the first snapshot's sets are
    // authoritative for the whole retry loop. Explicit identity values
    // refuse up front (GENERATED ALWAYS).
    refuseIdentityValues(df0, first.meta)
    val df = applyGenerated(applyDefaults(df0, first.meta), first.meta)
    enforceConstraints(df, first.meta)
    var checked = first.meta.checkExprs.toSet
    // the staged files are written under THIS meta's physical names; any
    // re-evolve on a lost race must reuse its mapping — a fresh evolve
    // would mint new physical names for re-added (post-drop) columns and
    // commit metadata pointing at columns the staged files don't carry
    val stagedMeta = evolve(first.meta, df.schema)
    // a TRACKED (or identity-bearing) append stages per attempt
    // instead: its physical row ids / identity values come from the
    // attempt's watermark, and a lost race to another such writer would
    // otherwise duplicate them
    val tracks = first.meta.tracksRows
    val perAttempt = tracks || first.meta.identities.nonEmpty
    val stagedOnce =
      if (perAttempt) Vector.empty[Add] else stageWrite(df, stagedMeta)
    retrying("append") { attempt =>
      val snap = if (attempt == 0) first else metaSnapshot()._1
      gateWriter(snap.meta)
      // the duplicate check re-runs against every fresh snapshot: a
      // concurrent twin that won the race turns this attempt into the
      // no-op (the staged orphans are vacuum's to reclaim, like any
      // lost-race staging)
      if (absorbed(snap, txn)) Some(snap.version)
      else {
        // a concurrent ADD_CONSTRAINT must bind this append too
        val fresh = snap.meta.checkExprs.filterNot(checked)
        if (fresh.nonEmpty) {
          enforceConstraints(df,
            snap.meta.copy(constraints = Some(fresh)))
          checked ++= fresh
        }
        val merged = evolve(snap.meta, df.schema,
          preassigned = stagedMeta.columnMapping.getOrElse(Map.empty))
        val adds =
          if (perAttempt) {
            val withIds =
              if (tracks) assignRowIds(df, snap.meta.nextRowId) else df
            stageWrite(applyIdentities(withIds, snap.meta), merged)
          } else stagedOnce
        val newMeta = bumpIdentities(
          if (tracks) bumpWatermark(merged, adds) else merged, adds)
        val metaEntry =
          if (newMeta != snap.meta) Seq(LogEntry(meta = Some(newMeta)))
          else Nil
        val entries = metaEntry ++ adds.map(a => LogEntry(add = Some(a))) ++
          txn.map(t => LogEntry(txn = Some(t))).toSeq :+
          LogEntry(info = Some(Info("APPEND", snap.version)))
        val v = tryClaim(snap.version, entries)
        v.foreach(_ => maybeAutoCompact(newMeta))
        v
      }
    }
  }

  /** Delete matching rows, copy-on-write: only files that actually hold
    * a matching row are rewritten; a lost race redoes the filter against
    * the fresh snapshot (serializable against concurrent appends).
    */
  def deleteWhere(cond: Column): Long =
    retrying("delete") { _ =>
      val snap = mutationSnapshot(cond)
      gateWriter(snap.meta)
      gateAppendOnly(snap.meta, "DELETE")
      // a tracked table's capture carries each deleted row's _row_id —
      // identity-based CDF consumption needs the retracted identity.
      // `cur.where(cond)` skips files through the scan's own index
      // ([[TxFileIndex]]); a pruned file provably holds no matching row,
      // so hits/capture/rewrite are identical.
      val cur = readFiles(snap, snap.adds.map(_.path), withFileCol = true,
        withRowId = snap.meta.tracksRows && snap.meta.cdf)
      val hit = fileSet(cur.where(cond)).map(relPath)
      if (hit.isEmpty) Some(snap.version) // nothing to do, no commit
      else {
        val affected = snap.adds.filter(a => hit(a.path))
        // NULL-predicate rows are NOT matches and must survive the rewrite
        // (row ids ride through verbatim on a tracked table).
        val survivors = readFiles(snap, affected.map(_.path),
            withRowId = snap.meta.tracksRows)
          .where(!coalesce(cond, lit(false)))
        val entries = stageCommit(snap, snap.meta, "DELETE", affected,
          Some(survivors), cur.where(cond).drop(FileCol)
            .withColumn("_change_type", lit("delete")))
        commitRebasing(snap, entries, cond)
      }
    }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere`): in ONE
    * commit, rows matching `cond` are replaced by `df0` — the
    * idempotent-backfill primitive (re-land one day/partition/slice
    * without touching anything else, no delete+append window where a
    * reader sees neither). Copy-on-write like [[deleteWhere]]: only
    * files actually holding a matching row are rewritten (stats-pruned
    * candidates first), survivors ride through verbatim (row ids
    * preserved on tracked tables; incoming rows draw fresh ids).
    * Every incoming row must itself satisfy `cond` — Delta's rule; a
    * stray row outside the scope refuses up front (the caller said
    * "this slice", landing data elsewhere is a silent corruption).
    * CDF: replaced rows feed as deletes, incoming rows as inserts.
    * Ingest gates run like any append: generated/default columns
    * computed/validated, constraints enforced, appendOnly refuses.
    */
  def replaceWhere(cond: Column, df0: DataFrame): Long = {
    val first = metaSnapshot()._1
    gateWriter(first.meta)
    gateAppendOnly(first.meta, "replaceWhere")
    refuseIdentityValues(df0, first.meta)
    require(first.meta.identities.isEmpty,
      s"replaceWhere into $root: identity-column tables cannot replace " +
        "slices (allocation for replaced rows is ambiguous) — use " +
        "deleteWhere + append")
    val df = applyGenerated(applyDefaults(df0, first.meta), first.meta)
    val stray = df.where(!coalesce(cond, lit(false))).limit(1).count()
    require(stray == 0,
      "replaceWhere: incoming rows fall OUTSIDE the predicate scope — " +
        "a slice overwrite must only land rows inside its slice")
    retrying("replaceWhere") { _ =>
      val snap = mutationSnapshot(cond)
      gateWriter(snap.meta)
      enforceConstraints(df, snap.meta)
      val tracks = snap.meta.tracksRows
      val idFeed = tracks && snap.meta.cdf
      val cur = readFiles(snap, snap.adds.map(_.path),
        withFileCol = true, withRowId = idFeed)
      val hit = fileSet(cur.where(cond)).map(relPath)
      val affected = snap.adds.filter(a => hit(a.path))
      val survivors = readFiles(snap, affected.map(_.path),
          withRowId = tracks)
        .where(!coalesce(cond, lit(false)))
      val incoming0 = df.select(
        snap.meta.schema.fieldNames.map(col).toIndexedSeq: _*)
      val incoming1 =
        if (!tracks) incoming0
        else incoming0.withColumn(RowIdCol,
          lit(snap.meta.nextRowId) + monotonically_increasing_id())
      // an id-carrying feed must record the SAME fresh ids the write
      // lands — materialize the assignment (merge's rule)
      val incoming = if (idFeed) incoming1.localCheckpoint() else incoming1
      val entries = stageCommit(snap, snap.meta, "REPLACE_WHERE", affected,
          Some(survivors.unionByName(incoming)), {
          val dels = cur.where(cond).drop(FileCol)
            .withColumn("_change_type", lit("delete"))
          val ins = (if (idFeed) incoming else incoming0)
            .withColumn("_change_type", lit("insert"))
          dels.unionByName(ins, allowMissingColumns = true)
        })
      commitRebasing(snap, entries, cond)
    }
  }

  /** DELETE, merge-on-read (Delta's deletion vectors): files where the
    * matched-row count is at most `maxPositionsPerFile` get a DELETION
    * VECTOR — the physical row positions land in the log and every
    * reader filters them out; the data file is NOT rewritten. At 100 TB
    * this is the difference between a log entry and a gigabyte of IO
    * for a 100-row delete. Files with more matches fall back to the
    * copy-on-write rewrite (a big delete rewrites anyway, and an
    * unbounded inline vector would bloat the log — Delta's binary DV
    * sidecars make the same trade at a different constant); both kinds
    * land in ONE atomic commit, conflict-retried like [[deleteWhere]].
    * A vector covering a file's last live row drops the file outright.
    * OPTIMIZE purges vectors naturally: it reads through them and
    * rewrites clean files. The change feed stays exact: the commit
    * carries remove+add of the same path, so [[readChanges]] diffs the
    * old live set against the new one.
    */
  def deleteWhereMergeOnRead(cond: Column,
      maxPositionsPerFile: Int = 10000): Long =
    retrying("merge-on-read delete") { _ =>
      val snap = mutationSnapshot(cond)
      gateWriter(snap.meta)
      gateAppendOnly(snap.meta, "DELETE (merge-on-read)")
      val addByPath = snap.adds.map(a => a.path -> a).toMap
      // predicate data skipping like [[deleteWhere]]; row positions are
      // per-file (`_metadata.row_index`), so a subset scan keeps them
      val cur = readFiles(snap, snap.adds.map(_.path),
        withFileCol = true, withPos = true,
        withRowId = snap.meta.tracksRows && snap.meta.cdf)
      val hits = filePositions(cur.where(cond))
        .map { case (f, pos) => relPath(f) -> pos }
      if (hits.isEmpty) Some(snap.version) // nothing to do, no commit
      else {
        // The cap bounds the MERGED vector (existing positions + this
        // delete's new hits — disjoint sets, since vectored rows are
        // already invisible to the match scan): repeated sparse deletes
        // must not grow a vector past the cap — the sidecar keeps the LOG
        // O(1) regardless, but the read-side broadcast anti-join is sized
        // by the cap.
        val (dvHits, cowHits) = hits.partition { case (p, pos) =>
          addByPath(p).dvSize + pos.size <= maxPositionsPerFile
        }
        val dvEntries = dvHits.toSeq.flatMap { case (p, pos) =>
          val a = addByPath(p)
          val live = a.rows - pos.size
          val rm = LogEntry(remove = Some(Remove(p, Some(a.rows), a.bytes)))
          if (live <= 0) Seq(rm) // vector would cover the whole file
          else {
            // merged vector into a NEW immutable sidecar; the log entry
            // carries only its path + cardinality (O(1) however sparse or
            // wide the vector), old sidecars age out via vacuum
            val merged = (dvPositionsOf(a) ++ pos).distinct.sorted
            val rel = writeDvSidecar(merged)
            Seq(rm, LogEntry(add = Some(a.copy(rows = live, dv = None,
              dvFile = Some(rel), dvCount = Some(merged.size.toLong)))))
          }
        }
        val cowAffected = cowHits.map(h => addByPath(h._1)).toSeq
        // the first vectored file makes naive readers WRONG (they would
        // return deleted rows) and naive WRITERS destructive (a rewrite
        // ignoring the vector resurrects them) — stamp both protocol
        // halves in the same commit so a version-skewed client refuses
        // instead of misreading or corrupting
        val meta =
          if (dvEntries.exists(_.add.exists(_.dvFile.isDefined)) &&
              (!snap.meta.features.contains("deletionVectors") ||
               !snap.meta.writerFeats.contains("deletionVectors")))
            snap.meta.withReaderFeature("deletionVectors")
              .withWriterFeature("deletionVectors")
          else snap.meta
        // the copy-on-write fallback's survivors (none when every hit
        // file took a vector: then only the capture is staged)
        val cowRows =
          if (cowAffected.isEmpty) None
          else Some(readFiles(snap, cowAffected.map(_.path),
              withRowId = snap.meta.tracksRows)
            .where(!coalesce(cond, lit(false))))
        val entries = stageCommit(snap, meta, "DELETE_DV", cowAffected,
          cowRows, cur.where(cond).drop(FileCol, PosCol)
            .withColumn("_change_type", lit("delete")), dvEntries)
        commitRebasing(snap, entries, cond)
      }
    }

  /** UPDATE ... SET: rows matching `cond` get the `set` expressions
    * applied; everything else is untouched. Copy-on-write like
    * [[deleteWhere]]: only files that actually hold a matching row are
    * rewritten (matched rows transformed, non-matched neighbours copied
    * verbatim), one atomic commit. NULL predicates don't match (SQL
    * UPDATE's rule). Set expressions may reference the old row —
    * `update($"k" > 3, Map("v" -> $"v" * 2))` doubles in place.
    * Partition columns refuse updates (a moved row would need a
    * remove+add across partitions — Delta refuses this too).
    */
  def update(cond: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    retrying("update") { _ =>
      val snap = mutationSnapshot(cond)
      gateWriter(snap.meta)
      gateAppendOnly(snap.meta, "UPDATE")
      val schema = snap.meta.schema
      set.keys.foreach { c =>
        require(schema.fieldNames.contains(c), s"SET column $c not in table schema")
        require(!snap.meta.partitionCols.contains(c),
          s"cannot UPDATE partition column $c")
        require(!generatedTouches(snap.meta, c),
          s"cannot UPDATE $c: it is a generated column or read by one " +
            "(the derived value would silently diverge from its source)")
        require(!snap.meta.identities.contains(c),
          s"cannot UPDATE identity column $c (GENERATED ALWAYS)")
      }
      val matched = coalesce(cond, lit(false))
      val tracks = snap.meta.tracksRows
      val idFeed = tracks && snap.meta.cdf
      // predicate data skipping like [[deleteWhere]] — the probe filters
      // on `cond` itself: `matched`'s coalesce would hide its conjuncts
      // from the scan's skipping (same rows: a NULL verdict never passes)
      val cur = readFiles(snap, snap.adds.map(_.path), withFileCol = true,
        withRowId = idFeed)
      val hit = fileSet(cur.where(cond)).map(relPath)
      if (hit.isEmpty) Some(snap.version) // nothing matches, no commit
      else {
        val affected = snap.adds.filter(a => hit(a.path))
        // the match flag is computed on the OLD row, before any SET lands
        // (a SET that flips its own predicate must not re-evaluate)
        val flag = "__txlog_upd"
        val rewritten = readFiles(snap, affected.map(_.path),
            withRowId = tracks)
          .withColumn(flag, matched)
          .select(schema.fieldNames.map { c =>
            set.get(c) match {
              case Some(e) =>
                when(col(flag), e.cast(schema(c).dataType)).otherwise(col(c)).as(c)
              case None => col(c)
            }
          } ++ (if (tracks) Seq(col(RowIdCol)) else Nil) :+ col(flag): _*)
        // constraints need probing only on the transformed rows — the
        // copied-verbatim neighbours already passed at their own write
        enforceConstraints(
          rewritten.where(col(flag)).drop(flag, RowIdCol), snap.meta)
        // an UPDATE's feed is the pre/postimage pair per matched row
        // (Delta's four change types — downstream consumers can tell an
        // update from a coincidental delete+insert of the same key in one
        // commit); both sides already in hand (old = the match scan, new
        // = the transformed half of the rewrite). On a tracked CDF table
        // both images carry the row's _row_id — UPDATE preserves identity,
        // so the pair is id-joinable with no key assumptions.
        val entries = stageCommit(snap, snap.meta, "UPDATE", affected,
          Some(rewritten.drop(flag)), cur.where(cond).drop(FileCol)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(rewritten.where(col(flag))
              .drop((flag +: (if (idFeed) Nil else Seq(RowIdCol))): _*)
              .withColumn("_change_type", lit("update_postimage"))))
        commitRebasing(snap, entries, cond)
      }
    }
  }

  /** MERGE (whole-row upsert): rows of `source` replace every current
    * row sharing their key; unmatched source rows insert. Copy-on-write
    * on exactly the files holding a matched key — the unmatched bulk of
    * the table is never rewritten (the lakehouse MERGE contract).
    * `source` must be unique per key (ambiguous merges are an error, as
    * in Delta). Keys match with plain equality: a null key never
    * matches (SQL MERGE's rule). The feed is Delta's four change types:
    * every replaced row is an update preimage and its replacement the
    * postimage (the pair surfaces even when the replacement is
    * byte-identical — Delta's behavior); source rows with no matched
    * key are plain inserts. An appendOnly table refuses only a merge
    * that would rewrite target files: one hitting no key is a pure
    * append (Delta's commit-time rule). Planned by [[keyedReplace]].
    *
    * `txn = Some((appId, version))` is the idempotence watermark
    * (foreachBatch exactly-once): an already absorbed pair is a no-op
    * returning the current version. `schemaEvolution = true` is Delta's
    * `spark.databricks.delta.schema.autoMerge`: source columns the
    * target lacks are ADDED (additive evolution) in the same commit —
    * surviving rows null-fill, and older files read back with nulls
    * like any [[append]]-side evolution. Off by default: silently
    * widening a table from a typo'd source column is the failure mode
    * Delta defaults against too.
    */
  def merge(source: DataFrame, keyCols: Seq[String],
      txn: Option[(String, Long)] = None,
      schemaEvolution: Boolean = false): Long =
    cachedFor(source)(src => keyedReplace("merge", "MERGE", keyCols, src,
      None, nullSafe = false, txn.map { case (app, v) => Txn(app, v) },
      schemaEvolution))

  /** Delta's FULL conditional MERGE surface as a builder:
    * `mergeInto(source, keys).whenMatchedDelete(...).whenMatchedUpdate(...)
    * .whenNotMatchedInsert(...).whenNotMatchedBySourceUpdate(...).execute()`.
    * Clause ORDER is significant — per row, the FIRST clause (within its
    * match class) whose condition holds wins; a row no clause claims is
    * kept unchanged (matched / target-only) or dropped (source-only),
    * exactly Delta's semantics. Conditions and SET expressions reference
    * the two sides as `t.<col>` / `s.<col>`. Unlike [[merge]], a matched
    * clause acts on EACH matched target row.
    *
    * Scale posture: without BY SOURCE clauses only files holding a
    * source key are rewritten (the keyed match scan of
    * [[keyedReplace]], [[hitFiles]]); BY SOURCE clauses must scan every
    * live file — that is Delta's cost too, and it is the caller's
    * explicit opt-in.
    */
  def mergeInto(source: DataFrame, keyCols: Seq[String]): MergeInto =
    new MergeInto(source, keyCols)

  final class MergeInto private[lake] (source: DataFrame,
      keyCols: Seq[String]) {
    private case class Clause(cond: Option[Column],
        set: Option[Map[String, Column]]) // set=None → DELETE
    private val matchedCls =
      scala.collection.mutable.ArrayBuffer[Clause]()
    private val bySourceCls =
      scala.collection.mutable.ArrayBuffer[Clause]()
    private val insertCls =
      scala.collection.mutable.ArrayBuffer[Clause]()

    def whenMatchedUpdate(set: Map[String, Column],
        condition: Option[Column] = None): this.type = {
      matchedCls += Clause(condition, Some(set)); this
    }
    def whenMatchedDelete(condition: Option[Column] = None): this.type = {
      matchedCls += Clause(condition, None); this
    }
    def whenNotMatchedInsert(condition: Option[Column] = None)
        : this.type = {
      insertCls += Clause(condition, None); this
    }
    def whenNotMatchedBySourceUpdate(set: Map[String, Column],
        condition: Option[Column] = None): this.type = {
      bySourceCls += Clause(condition, Some(set)); this
    }
    def whenNotMatchedBySourceDelete(condition: Option[Column] = None)
        : this.type = {
      bySourceCls += Clause(condition, None); this
    }

    // action-column encoding: one CASE over the full-outer join decides
    // each row's fate once, then every output column and the CDF capture
    // read the same decision — no per-clause shuffles
    private val Keep = -1
    private val Drop = -2
    private def mId(i: Int) = i            // matched clause i
    private def bId(i: Int) = 1000 + i     // by-source clause i
    private def iId(i: Int) = 2000 + i     // insert clause i

    def execute(): Long = {
      require(keyCols.nonEmpty, "mergeInto needs at least one key column")
      require(matchedCls.nonEmpty || bySourceCls.nonEmpty ||
        insertCls.nonEmpty, "MERGE needs at least one clause")
      cachedFor(source) { src0 =>
        val srcKeys = src0.select(keyCols.map(col): _*)
        // the by-source shape has no hit collect for the duplicate-key
        // gate to ride: it pays its own action
        if (bySourceCls.nonEmpty) requireUniqueKeys("mergeInto", keyCols,
          dupProbe(src0, keyCols).count() > 0)
        retrying("mergeInto") { _ =>
          // a by-source clause touches EVERY target row, so only the
          // keyed shape can plan its candidates distributed
          val snap =
            if (bySourceCls.nonEmpty) TxLog.snapshot(fs, root)
            else keyedMutationSnapshot(keyCols, srcKeys, nullSafe = false)
          gateWriter(snap.meta)
          require(snap.meta.identities.isEmpty, identityRefusal("mergeInto"))
          val fields = snap.meta.schema.fields.toSeq
          // files holding a source key are loaded even for insert-only
          // merges: a source row matching an existing key must classify
          // as MATCHED (and be kept out of the inserts), which requires
          // seeing the target row
          val affected =
            if (bySourceCls.nonEmpty) snap.adds
            else hitFiles(snap, keyCols, srcKeys, nullSafe = false, src0,
              "mergeInto")
          if (affected.nonEmpty) gateAppendOnly(snap.meta, "MERGE INTO")
          val tracks = snap.meta.tracksRows
          val t = readFiles(snap, affected.map(_.path), withRowId = tracks)
            .withColumn("__t_ex", lit(true)).alias("t")
          val s = src0.withColumn("__s_ex", lit(true)).alias("s")
          // plain equality: null keys never match (Delta's rule) — a
          // null-keyed source row is NOT MATCHED, a null-keyed target
          // row is NOT MATCHED BY SOURCE
          val joined = t.join(s,
            keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
            "full_outer")
          val isMatched = col("__t_ex").isNotNull && col("__s_ex").isNotNull
          val tOnly = col("__t_ex").isNotNull && col("__s_ex").isNull
          val sOnly = col("__t_ex").isNull && col("__s_ex").isNotNull
          def chain(flag: Column, cls: Seq[Clause], id: Int => Int,
              default: Int): Seq[(Column, Column)] =
            cls.zipWithIndex.map { case (c, i) =>
              (flag && c.cond.getOrElse(lit(true)), lit(id(i))) } :+
              (flag, lit(default))
          val pairs = chain(isMatched, matchedCls.toSeq, mId, Keep) ++
            chain(tOnly, bySourceCls.toSeq, bId, Keep) ++
            chain(sOnly, insertCls.toSeq, iId, Drop)
          val action = pairs.tail
            .foldLeft(when(pairs.head._1, pairs.head._2)) {
              case (w, (c, v)) => w.when(c, v) }
            .otherwise(lit(Drop))
          val acted = joined.withColumn("__act", action)
          val updateIds: Seq[Int] =
            (matchedCls.zipWithIndex.collect {
              case (Clause(_, Some(_)), i) => mId(i) } ++
            bySourceCls.zipWithIndex.collect {
              case (Clause(_, Some(_)), i) => bId(i) }).toSeq
          val deleteIds: Seq[Int] =
            (matchedCls.zipWithIndex.collect {
              case (Clause(_, None), i) => mId(i) } ++
            bySourceCls.zipWithIndex.collect {
              case (Clause(_, None), i) => bId(i) }).toSeq
          val setById: Map[Int, Map[String, Column]] =
            (matchedCls.zipWithIndex.collect {
              case (Clause(_, Some(m)), i) => mId(i) -> m } ++
             bySourceCls.zipWithIndex.collect {
               case (Clause(_, Some(m)), i) => bId(i) -> m }).toMap
          def outCol(f: StructField): Column = {
            val ins =
              if (src0.columns.contains(f.name))
                col(s"s.${f.name}").cast(f.dataType)
              else lit(null).cast(f.dataType)
            var e: Column = when(col("__act") >= iId(0), ins)
            setById.toSeq.sortBy(_._1).foreach { case (id, set) =>
              val v = set.get(f.name).map(_.cast(f.dataType))
                .getOrElse(col(s"t.${f.name}"))
              e = e.when(col("__act") === id, v)
            }
            e.otherwise(col(s"t.${f.name}")).as(f.name)
          }
          val dead = (deleteIds :+ Drop).map(_.toString)
          // row identity rides the clause semantics: kept/updated rows
          // keep the target row's id, inserted rows draw fresh ones
          val kept0 = acted
            .where(!col("__act").cast("string").isin(dead: _*))
            .select(fields.map(outCol) ++
              (if (tracks) Seq(col(s"t.$RowIdCol").as(RowIdCol))
               else Nil): _*)
          val kept =
            if (!tracks) kept0
            else kept0.withColumn(RowIdCol, coalesce(col(RowIdCol),
              lit(snap.meta.nextRowId) + monotonically_increasing_id()))
          enforceConstraints(kept.drop(RowIdCol), snap.meta)
          val entries = stageCommit(snap, snap.meta, "MERGE_INTO", affected,
              Some(kept), {
              // feed, Delta's four change types: an update clause emits
              // the pre/postimage pair, a delete clause a plain delete,
              // an insert clause a plain insert; untouched survivors
              // stay out of the feed
              def tRow = fields.map(f => col(s"t.${f.name}").as(f.name))
              val updStr = updateIds.map(_.toString)
              val pre = acted
                .where(col("__act").cast("string").isin(updStr: _*))
                .select(tRow: _*)
                .withColumn("_change_type", lit("update_preimage"))
              val del = acted
                .where(col("__act").cast("string")
                  .isin(deleteIds.map(_.toString): _*))
                .select(tRow: _*)
                .withColumn("_change_type", lit("delete"))
              val post = acted
                .where(col("__act").cast("string").isin(updStr: _*))
                .select(fields.map(outCol): _*)
                .withColumn("_change_type", lit("update_postimage"))
              val ins = acted
                .where(col("__act") >= iId(0))
                .select(fields.map(outCol): _*)
                .withColumn("_change_type", lit("insert"))
              pre.unionAll(del).unionAll(post).unionAll(ins)
            })
          // lost-race rebase — but NEVER with BY SOURCE clauses: those
          // claim target rows regardless of source keys, so a winner's
          // appended rows would be in their scope
          if (bySourceCls.nonEmpty) tryClaim(snap.version, entries)
          else commitRebasingOnKeys(snap, entries, keyCols, srcKeys,
            nullSafe = false)
        }
      }
    }
  }

  /** Apply one change-feed slice ([[readChanges]] output, `_change_type`
    * ∈ insert|delete|update_preimage|update_postimage) to THIS table
    * keyed by `keyCols` — the incremental materialized-view primitive:
    * a downstream table stays in sync with an upstream's commits by
    * folding each version's feed in, touching only the files that hold
    * affected keys, never recomputing itself. Every key in the slice
    * retracts its current rows, and the slice's inserts and update
    * postimages upsert theirs, in one atomic commit — an update's
    * pre/post pair is one keyed migration, and a legacy delete+insert
    * pair of the same key collapses to the insert identically. Upserted
    * rows must be unique per key, like [[merge]]. The table's own feed
    * keeps the four types: a key both retracted and upserted is an
    * update pair, a key only retracted a delete, a key with no prior row
    * an insert. An appendOnly table refuses every slice up front, an
    * insert-only one too. Planned by [[keyedReplace]].
    *
    * Keys match NULL-SAFELY (`<=>`, SQL's IS NOT DISTINCT FROM): a
    * maintained state table legitimately holds NULL group keys
    * ([[graft.ext.Ivm]] over a nullable grouping column), and
    * plain-equality matching would silently never replace or delete
    * such a row — the feed's null-keyed upsert would DUPLICATE it
    * instead. [[merge]] deliberately keeps SQL MERGE's
    * null-never-matches comparison; replica maintenance must not.
    */
  def applyChanges(changes: DataFrame, keyCols: Seq[String]): Long =
    applySlice("applyChanges", changes, keyCols)

  /** [[applyChanges]] keyed by ROW IDENTITY instead of caller-supplied
    * key columns — the keyless replica primitive row tracking exists
    * for: the slice is [[readChanges]]`(withRowIds = true)` output (or
    * any frame carrying `_row_id`), deletes/preimages retract their
    * ids, inserts/postimages land under their EXPLICIT ids (the replica
    * stores the upstream's identities verbatim — re-applying a slice is
    * id-idempotent by construction, and no uniqueness assumption about
    * data columns is ever needed). This table must itself be
    * row-tracked; the id watermark advances past the highest applied id
    * so local appends never collide with replicated identities.
    */
  def applyChangesById(changes: DataFrame): Long =
    applySlice("applyChangesById", changes, Seq(RowIdCol))

  private def applySlice(verb: String, changes: DataFrame,
      keyCols: Seq[String]): Long =
    cachedFor(changes)(slice => keyedReplace(verb, "APPLY_CHANGES", keyCols,
      slice.where(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type", "_commit_version"),
      Some(slice.select(keyCols.map(col): _*).distinct()), nullSafe = true))

  /** The keyed-replace kernel behind [[merge]], [[applyChanges]] and
    * [[applyChangesById]]: one commit removes every live row whose key
    * is in `retract` and lands the `upserts`, which must be unique per
    * key. `retract = None` is merge's case: the retract set is the
    * upserts' own keys, so no row is deleted outright and the feed plans
    * no delete half. `nullSafe` matches keys with `<=>` instead of `===`.
    *
    * Only the files holding a retracted key are read and rewritten
    * ([[hitFiles]]). An upserted row replacing a key inherits the
    * smallest old `_row_id` of that key — one row out however many the
    * target held, and re-applying a slice reproduces the same ids; a new
    * key draws a fresh id. Keyed on `_row_id` itself, the upserts' ids
    * land verbatim. A lost race rebases on the retract set's key ranges
    * ([[commitRebasingOnKeys]]).
    */
  private def keyedReplace(verb: String, op: String, keyCols: Seq[String],
      upserts: DataFrame, retract: Option[DataFrame], nullSafe: Boolean,
      txn: Option[Txn] = None, schemaEvolution: Boolean = false): Long = {
    require(keyCols.nonEmpty, s"$verb needs at least one key column")
    val byId = keyCols == Seq(RowIdCol)
    // generated columns are create-time-fixed: compute/validate them on
    // the upserts once, against the FIRST snapshot — which then also
    // serves attempt 0, so the common no-conflict commit replays the log
    // exactly once. Above the driver threshold that first resolution
    // collects NO Adds (meta/version/txns only) and each attempt plans
    // its candidates distributed.
    val (first, firstComplete) = metaSnapshot()
    gateWriter(first.meta)
    require(first.meta.identities.isEmpty, identityRefusal(verb))
    require(!byId || first.meta.tracksRows,
      s"$verb needs row tracking on $root (create(enableRowTracking))")
    if (retract.isDefined) gateAppendOnly(first.meta, verb)
    val ups = applyGenerated(applyDefaults(upserts, first.meta), first.meta)
    val upKeys = ups.select(keyCols.map(col): _*)
    val keys = retract.getOrElse(upKeys)
    def join(l: DataFrame, r: DataFrame, how: String) =
      keyJoin(l, r, keyCols, nullSafe, how)
    retrying(verb) { attempt =>
      val snap =
        if (attempt == 0 && firstComplete) first
        else keyedMutationSnapshot(keyCols, keys, nullSafe)
      gateWriter(snap.meta)
      // checked per attempt, so a concurrent duplicate that wins the
      // race is honored (snap.txns is complete on both resolution paths)
      if (absorbed(snap, txn)) Some(snap.version)
      else {
        enforceConstraints(ups.select(snap.meta.schema.fieldNames
          .filter(ups.columns.contains).map(col): _*), snap.meta)
        val meta =
          if (schemaEvolution) evolve(snap.meta, ups.schema) else snap.meta
        val affected = hitFiles(snap, keyCols, keys, nullSafe, ups, verb)
        if (affected.nonEmpty) gateAppendOnly(snap.meta, verb)
        val tracks = snap.meta.tracksRows
        val idFeed = tracks && snap.meta.cdf
        val old = readFiles(snap, affected.map(_.path), withRowId = tracks)
        // survivors and upserts are staged together — one write job and
        // one stats pass; under evolution both align to the merged schema
        val survivors = aligned(meta, join(old, keys, "left_anti"))
        val landed0 = ups.select(meta.schema.fieldNames.map(col): _*)
        val landed1 =
          if (byId)
            ups.select((meta.schema.fieldNames.toSeq :+ RowIdCol).map(col): _*)
          else if (!tracks) landed0
          else join(landed0, old.groupBy(keyCols.map(col): _*)
              .agg(min(col(RowIdCol)).as("__old_rid")), "left")
            .withColumn(RowIdCol, coalesce(col("__old_rid"),
              lit(snap.meta.nextRowId) + monotonically_increasing_id()))
            .drop("__old_rid")
        // an id-carrying feed must record the SAME fresh ids the write
        // lands: MATERIALIZE the assignment (localCheckpoint — a
        // best-effort cache could silently recompute different
        // monotonically_increasing_id values into the capture job; a
        // lost checkpoint block fails loudly instead)
        val landed =
          if (idFeed && !byId) landed1.localCheckpoint() else landed1
        val entries = stageCommit(snap, meta, op, affected,
            Some(survivors.unionByName(landed)), {
            // on a tracked CDF table every image carries its _row_id
            val tgt = readFiles(snap, affected.map(_.path),
              withRowId = idFeed)
            val tgtKeys = tgt.select(keyCols.map(col): _*)
            val gone = aligned(meta, join(tgt, keys, "left_semi"))
            val cap = if (idFeed) landed else landed0
            def typed(df: DataFrame, t: String) =
              df.withColumn("_change_type", lit(t))
            val pre = retract.fold(gone)(_ => join(gone, upKeys, "left_semi"))
            val deletes = retract.map(_ =>
              typed(join(gone, upKeys, "left_anti"), "delete"))
            (Seq(typed(pre, "update_preimage")) ++ deletes ++ Seq(
              typed(join(cap, tgtKeys, "left_semi"), "update_postimage"),
              typed(join(cap, tgtKeys, "left_anti"), "insert")))
              .reduce(_ unionByName _)
          }, txn.map(t => LogEntry(txn = Some(t))).toSeq)
        commitRebasingOnKeys(snap, entries, keyCols, keys, nullSafe)
      }
    }
  }

  /** The keyed match scan shared by [[keyedReplace]] and the keyed
    * [[MergeInto]]: the live files holding a row whose key is in `keys`,
    * read through [[keyScanPaths]]. The duplicate-key gate on `upserts`
    * rides the same collect — one action instead of two; the union's
    * first column tags which subtree a row came from. */
  private def hitFiles(snap: Snapshot, keyCols: Seq[String],
      keys: DataFrame, nullSafe: Boolean, upserts: DataFrame,
      verb: String): Vector[Add] = {
    val cur = readFiles(snap, keyScanPaths(snap, keyCols, keys, nullSafe),
      withFileCol = true, withRowId = keyCols.contains(RowIdCol))
    val probed = keyJoin(cur, keys, keyCols, nullSafe, "left_semi")
      .select(lit("f").as("__k"), col(FileCol).as("__v")).distinct()
      .unionByName(dupProbe(upserts, keyCols))
      .collect()
    requireUniqueKeys(verb, keyCols, probed.exists(_.getString(0) == "dup"))
    val hit = probed.iterator.filter(_.getString(0) == "f")
      .map(r => relPath(r.getString(1))).toSet
    snap.adds.filter(a => hit(a.path))
  }

  /** At most one row, tagged "dup", when `upserts` holds a key twice. */
  private def dupProbe(upserts: DataFrame, keyCols: Seq[String]): DataFrame =
    upserts.groupBy(keyCols.map(col): _*)
      .count().where(col("count") > 1).limit(1)
      .select(lit("dup").as("__k"), lit("").as("__v"))

  /** The ambiguous-upsert refusal (Delta's): which upsert row replaces
    * a key held twice is undefined. */
  private def requireUniqueKeys(verb: String, keyCols: Seq[String],
      dup: Boolean): Unit =
    require(!dup, s"$verb: upsert rows have duplicate keys on " +
      keyCols.mkString(","))

  private def identityRefusal(verb: String): String =
    s"$verb on $root: identity-column tables do not support keyed " +
      "upserts (allocation for a replaced row is ambiguous) — use " +
      "append/overwritePartition"

  /** `f` over `df` cached for its duration: a verb's input frame feeds
    * several jobs per attempt. */
  private def cachedFor[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.cache()
    try f(c) finally { c.unpersist(); () }
  }

  /** Replace one partition's contents with `df` (dynamic partition
    * overwrite, the reference's write mode). Every row of `df` must
    * carry exactly `value` in the partition column. The check reads the
    * partition values of the files the load staged, so no extra scan
    * runs: a stray row (a null one included) is refused AFTER staging
    * and before the commit, and the refused load deletes the files it
    * staged. Additive schema evolution is accepted like [[append]]'s: a
    * load that gained a column lands the merged schema in the same
    * commit, and older partitions read back with nulls in it.
    */
  def overwritePartition(partCol: String, value: String, df0: DataFrame): Long =
    overwritePartitionOf(partCol, Some(value), df0, () => ())

  /** [[overwritePartition]] of the one partition the rows land in —
    * Spark's `partitionOverwriteMode=dynamic` for a single-stamp load.
    * The rows must carry exactly one value of `partCol` (zero rows are
    * refused too). Without the change feed the value comes from the
    * staged files, so the commit is one staging action; a change-feed
    * table lands the feed's delete half in that same action, so it
    * learns the value first with one limit-1 probe.
    *
    * `gate` runs once the staged files pass the stamp check and before
    * the log claim, so a caller can overlap its own check of `df0` with
    * the staging job and still hold the commit back: if it throws, the
    * staged files are deleted and the exception propagates unchanged.
    * A retry after a lost race calls it again.
    */
  def overwritePartition(partCol: String, df0: DataFrame,
      gate: () => Unit = () => ()): Long =
    overwritePartitionOf(partCol, None, df0, gate)

  private def overwritePartitionOf(partCol: String, given: Option[String],
      df0: DataFrame, gate: () => Unit): Long = {
    // generated columns first (create-time-fixed, so the first snapshot's
    // meta is authoritative): the headline use case partitions BY a
    // generated column, so the load may legitimately arrive without it —
    // compute it before staging can route rows by it
    val (first, firstComplete) = metaSnapshot()
    gateWriter(first.meta)
    gateAppendOnly(first.meta, "overwritePartition")
    refuseIdentityValues(df0, first.meta)
    val df = applyGenerated(applyDefaults(df0, first.meta), first.meta)
    def oneStamp(n: Int) =
      s"one load = one $partCol stamp; got $n distinct values"
    var value = given.orElse(
      if (!first.meta.cdf) None
      else {
        val head = df.select(col(partCol).cast("string")).limit(1).collect()
        require(head.nonEmpty, oneStamp(0))
        Some(Option(head(0).getString(0))
          .getOrElse("__HIVE_DEFAULT_PARTITION__"))
      })
    def doomedIn(s: Snapshot) =
      s.adds.filter(_.partitionValues.get(partCol) == value)
    retrying("overwritePartition") { attempt =>
      // above the driver threshold only the target value's files (plus
      // any layout-mismatched file — the refusal below must see them)
      // are collected; untouched partitions never reach the driver. A
      // value-free load's first attempt there stages against the
      // meta-only snapshot and plans once the staged files name the value.
      val snap =
        if (attempt == 0 && firstComplete) first
        else value.fold(first)(partitionOverwriteSnapshot(partCol, _))
      gateWriter(snap.meta)
      require(snap.meta.partitionCols.contains(partCol),
        s"$partCol is not a partition column of $root")
      // after a partition evolution, a value's rows can sit in
      // old-layout files this operation would not replace — refuse
      // until repartitionRewrite() (or OPTIMIZE churn) homogenizes.
      // (Exact on the pruned subset too: every layout-mismatched file
      // is collected by construction.)
      val pset = snap.meta.partitionCols.toSet
      def homogeneous(s: Snapshot): Unit =
        require(s.adds.forall(_.partitionValues.keySet == pset),
          s"mixed partition layouts in $root — run repartitionRewrite() " +
            "before overwritePartition")
      homogeneous(snap)
      enforceConstraints(df, snap.meta)
      val merged = evolve(snap.meta, df.schema)
      // a whole-partition replacement is new data — fresh row ids and
      // fresh identity values, from the attempt's watermarks
      val idFeed = snap.meta.tracksRows && snap.meta.cdf
      val staged = freshRows(df, snap.meta)
      val (adds, cdfs) = stageRows(snap, merged, Some(staged), {
          // both capture sides under the MERGED schema: the doomed files
          // may predate an evolution this very load introduces. On a
          // tracked CDF table both sides carry _row_id — the retracted
          // rows' identities and the landed rows' fresh ones. (A
          // change-feed table knows the value by now: probed above.)
          aligned(merged, readFiles(snap, doomedIn(snap).map(_.path),
              withRowId = idFeed))
            .withColumn("_change_type", lit("delete"))
            .unionAll(aligned(merged, staged)
              .withColumn("_change_type", lit("insert")))
        })
      val landed = adds.flatMap(_.partitionValues.get(partCol)).distinct
      // a refused load deletes what it staged: nothing references it
      val plan = try {
        given match {
          case Some(v) => require(landed.forall(_ == v),
            s"overwritePartition($partCol=$v) got rows outside the partition")
          case None => require(
            landed.size == 1 && value.forall(_ == landed.head),
            oneStamp(landed.size))
        }
        gate()
        // only a value-free first attempt above the driver threshold
        // staged before it could plan: plan now. A commit that slipped
        // in since the meta-only snapshot holds snap.version + 1, so the
        // claim below loses the race and the retry restages.
        val p =
          if (firstComplete || (snap ne first)) snap
          else partitionOverwriteSnapshot(partCol, landed.head)
        homogeneous(p)
        p
      } catch { case scala.util.control.NonFatal(e) =>
        discardStaged(adds, cdfs)
        throw e
      }
      if (value.isEmpty) value = landed.headOption
      val entries = commitEntries(snap, merged, "OVERWRITE_PARTITION",
        doomedIn(plan), adds, cdfs)
      tryClaim(snap.version, entries)
    }
  }

  /** OPTIMIZE: bin-pack small files into fewer larger ones as ONE
    * atomic commit — readers are never disturbed, and pre-optimize
    * versions still time-travel (the small files stay on disk until
    * vacuum). Only partition groups holding ≥ 2 files below `minRows`
    * are rewritten; right-sized files are left alone. The lakehouse
    * maintenance op streaming ingest makes necessary: per-micro-batch
    * commits land per-batch-sized files.
    */
  /** With `zorderBy = Some((a, b))` this is OPTIMIZE ZORDER BY: ALL
    * live files are rewritten re-clustered along the Morton curve of
    * the two columns ([[graft.ext.ZOrderLayout.zOrdered]]), so each new
    * file carries a TIGHT min/max box on BOTH columns and
    * [[readBetween]]/[[candidateFiles]] prune on either dimension —
    * Delta's OPTIMIZE ZORDER, driven entirely by the log's stats.
    *
    * On a table created with `clusterBy`, a plain no-argument OPTIMIZE
    * clusters INCREMENTALLY (Delta's ZCube model): files written by a
    * clustering pass carry a cube stamp in their Add entry, and
    * routine maintenance re-clusters only the UNSTAMPED files (plus
    * heavily vector-shadowed ones — vector purge keeps working) into a
    * fresh cube —
    * new data joins the layout without rewriting the old cubes, so the
    * cost of keeping a 100 TB table clustered is proportional to the
    * data added since the last pass, not to the table.
    *
    * UNDERSIZED cubes merge (Delta's ZCube size filter): a stamped cube
    * whose live rows total under `minCubeRows` joins the pass and
    * coalesces with the new data — without it, every small maintenance
    * pass would mint another tiny cube and the cube count (hence the
    * per-file pruning quality and the open-file cost of every read)
    * would grow with the number of passes instead of the data. A cube
    * at or above the target is STABLE: routine maintenance never
    * rewrites it again, so rewrite amplification stays logarithmic.
    * Convergence guard: when the pass's candidates are exactly the
    * members of ONE undersized cube with no vectors to purge, the table
    * is as merged as its data allows and OPTIMIZE is a no-op rather
    * than an eternal self-rewrite of the same lone cube.
    */
  /** `dvFraction`: files whose deletion vector covers more than this
    * fraction of their physical rows are rewritten too (alone if need
    * be) — OPTIMIZE is how vectors are purged, and a file half-shadowed
    * by its vector pays the anti-join on every read for rows that are
    * mostly dead. */
  def optimize(minRows: Long = 1L << 20,
      zorderBy: Option[(String, String)] = None,
      zPartitions: Int = 8, zBits: Int = 10,
      dvFraction: Double = graft.ScaleConfig.dvRewriteFraction,
      minCubeRows: Long = graft.ScaleConfig.minCubeRows): Long =
    retrying("optimize") { _ =>
      // bin-packing plans only files that could possibly be doomed
      // (small, or vector-carrying) — a routine OPTIMIZE of a mostly
      // compact million-file table collects its stragglers, not its
      // live set. Z-ORDER (explicit, or implied by the table's stored
      // CLUSTER BY columns) is a global re-cluster and reads everything.
      val (mSnap, complete) = metaSnapshot()
      gateWriter(mSnap.meta)
      val zCols: Option[Seq[String]] =
        zorderBy.map(t => Seq(t._1, t._2))
          .orElse(Some(mSnap.meta.clusterCols).filter(_.nonEmpty))
      // stored-cluster maintenance is INCREMENTAL: only unstamped /
      // undersized-cube / vector-carrying files are candidates, so its
      // planning snapshot prunes distributed too; an explicit ZORDER BY
      // is the global re-cluster and reads everything
      val incremental = zorderBy.isEmpty && zCols.isDefined
      val smallCubes: Set[String] =
        if (!incremental) Set.empty
        else if (complete)
          mSnap.adds.filter(_.zcube.isDefined).groupBy(_.zcube.get)
            .collect { case (c, as) if as.map(_.rows).sum < minCubeRows => c }
            .toSet
        else TxLog.undersizedCubes(fs, root, minCubeRows)
      val snap =
        if (complete) mSnap
        else if (incremental) TxLog.prunedSnapshot(fs, root, None, _ =>
          col("zcube").isNull ||
            (if (smallCubes.isEmpty) lit(false)
             else col("zcube").isin(smallCubes.toSeq: _*)) ||
            col("dvFile").isNotNull || col("dv").isNotNull)
        else if (zCols.isDefined) TxLog.snapshot(fs, root)
        else TxLog.prunedSnapshot(fs, root, None, _ =>
          col("rows") < lit(minRows) ||
            col("dvFile").isNotNull || col("dv").isNotNull)
      gateWriter(snap.meta)
      def dvHeavyAdd(a: Add): Boolean = a.hasDv &&
        a.dvSize.toDouble / (a.rows + a.dvSize) > dvFraction
      val doomed =
        if (incremental) snap.adds.filter(a => a.zcube.isEmpty ||
          a.zcube.exists(smallCubes) || dvHeavyAdd(a))
        else zCols match {
          case Some(_) => snap.adds // global re-cluster
          case None =>
            val small = snap.adds
              .filter(_.rows < minRows)
              .groupBy(_.partitionValues)
              .filter(_._2.size >= 2)
              .values.flatten
            val dvHeavy = snap.adds.filter(dvHeavyAdd)
            (small ++ dvHeavy).toVector.distinctBy(_.path)
        }
      // convergence: a lone undersized cube with nothing to merge INTO
      // it and no vectors to purge is as merged as the data allows —
      // rewriting it would change nothing and never terminate
      if (doomed.isEmpty || (incremental && doomed.forall(a =>
          a.zcube.isDefined && !dvHeavyAdd(a)) &&
          doomed.flatMap(_.zcube).distinct.size == 1))
        Some(snap.version) // already compact
      else {
        // a pure rewrite must carry row identity through verbatim
        val packed = zCols match {
          case Some(cs) => graft.ext.ZOrderLayout.zOrderedN(
            readFiles(snap, doomed.map(_.path),
              withRowId = snap.meta.tracksRows), cs, zBits, zPartitions)
          case None => readFiles(snap, doomed.map(_.path),
            withRowId = snap.meta.tracksRows).hint("rebalance")
        }
        val adds0 = stageWrite(packed, snap.meta)
        // a stored-cluster pass stamps its outputs so the NEXT pass
        // leaves them alone; ad-hoc ZORDER BY columns may differ from the
        // stored spec, so those outputs stay unstamped
        val adds =
          if (incremental) {
            val cube = java.util.UUID.randomUUID.toString.take(8)
            adds0.map(_.copy(zcube = Some(cube)))
          } else adds0
        // a pure rewrite changes no row: an EMPTY capture (marked in the
        // Info line) tells readChanges to emit nothing for this commit
        // instead of diffing the whole rewritten file set
        val entries = doomed.map(a => LogEntry(remove = Some(Remove(a.path, Some(a.rows), a.bytes)))) ++
          adds.map(a => LogEntry(add = Some(a))) :+
          LogEntry(info = Some(Info("OPTIMIZE", snap.version,
            cdfCaptured = if (snap.meta.cdf) Some(true) else None)))
        // pure rewrite: ANY pure blind append rebases — the new files
        // simply stay candidates for the next maintenance pass
        commitRebasingWhere(snap, entries, _ => true)
      }
    }

  /** REORG ... APPLY (PURGE) (Delta's REORG TABLE): materialize
    * deletion vectors — rewrite EXACTLY the DV-carrying files to their
    * survivor rows (row ids carried through verbatim) and drop the
    * vectors, leaving every clean file untouched. [[optimize]] only
    * rewrites files whose vector is HEAVY (past `dvRewriteFraction`);
    * PURGE is the explicit "no vectors remain at all" maintenance pass
    * a user runs before vacuuming DV sidecars away or handing the table
    * to a reader without DV support. Planning resolves pruned to the
    * vector-carrying files (O(affected) on the driver); a no-vector
    * table no-ops without a commit. Pure rewrite: content-preserving,
    * so a lost race against ANY blind append rebases, and the change
    * feed records nothing.
    */
  def reorgPurge(): Long =
    retrying("reorgPurge") { _ =>
      val snap = TxLog.prunedSnapshot(fs, root, None, _ =>
        col("dvFile").isNotNull || col("dv").isNotNull)
      gateWriter(snap.meta)
      val doomed = snap.adds.filter(_.hasDv)
      if (doomed.isEmpty) Some(snap.version) // nothing shadowed
      else {
        val survivors = readFiles(snap, doomed.map(_.path),
          withRowId = snap.meta.tracksRows)
        val adds = stageWrite(survivors, snap.meta)
        val entries =
          doomed.map(a => LogEntry(remove = Some(Remove(a.path, Some(a.rows), a.bytes)))) ++
          adds.map(a => LogEntry(add = Some(a))) :+
          LogEntry(info = Some(Info("REORG_PURGE", snap.version,
            cdfCaptured = if (snap.meta.cdf) Some(true) else None)))
        commitRebasingWhere(snap, entries, _ => true)
      }
    }

  /** Validate table state against the commit's stored checksum
    * ([[TxLog.Crc]], Delta's `.crc` VersionChecksum). Resolves the full
    * snapshot (deliberately O(files) — this IS the validation pass) and
    * compares live file count / row total / byte total. Returns false
    * when no checksum exists for the version (pre-checksum history, or
    * a chain gap awaiting its checkpoint re-seed); throws when one
    * exists and the snapshot disagrees — replay corruption, a torn
    * checkpoint, a vacuumed live file, or a hand-edited log. */
  def verifyChecksum(asOf: Option[Long] = None): Boolean = {
    val snap = TxLog.snapshot(fs, root, asOf)
    TxLog.readCrc(fs, root, snap.version) match {
      case None => false
      case Some(crc) =>
        val got = TxLog.crcOf(snap)
        if (got != crc) throw new IllegalStateException(
          s"checksum mismatch at $root v${snap.version}: " +
            s"stored $crc, resolved $got")
        true
    }
  }

  /** `minAgeMs < 0` (the default) resolves the age guard from the
    * table's own `txlog.retention.hours` property when set (Delta's
    * `delta.deletedFileRetentionDuration` — the table owner's
    * persisted, auditable opt-in, so a short window needs no session
    * conf), else the 168 h global default. An EXPLICIT `minAgeMs`
    * still wins, checked against the table-level floor. */
  def vacuum(keepVersions: Int,
      minAgeMs: Long = -1L,
      dryRun: Boolean = false): Seq[String] = {
    val propMs = metaSnapshot()._1.meta.config
      .get(TxLog.propRetentionHours).map(_.trim.toLong * 3600000L)
    val floor = propMs.getOrElse(TxLog.vacuumDefaultMinAgeMs)
    val resolved = if (minAgeMs >= 0) minAgeMs else floor
    TxLog.vacuum(fs, root, keepVersions, resolved, dryRun, floorMs = floor)
  }

  /** Log retention ([[TxLog.cleanLog]]): reclaim commit files and
    * checkpoints behind the kept versions' replay floor. */
  def vacuumLog(keepVersions: Int): Seq[String] =
    TxLog.cleanLog(fs, root, keepVersions)

  /** Shallow CLONE (Delta's CLONE ... SHALLOW): a NEW table whose log
    * REFERENCES this table's data files by absolute path — zero bytes
    * copied, ready in O(files) metadata. `asOf` clones an OLDER version
    * (Delta's CLONE ... VERSION AS OF — branch a dev table off
    * yesterday's state). Writes to the clone land in the clone's own
    * directory (copy-on-write rewrites reference nothing from the
    * source), so source and clone diverge freely; the standard
    * dev/test-against-production workflow. Caveat (Delta's too): the
    * clone's referenced files live under the SOURCE — a source-side
    * vacuum past the cloned version breaks the clone.
    */
  /** `deep = true` (Delta's default CLONE): every referenced byte —
    * data files, deletion-vector and bloom sidecars — is COPIED into
    * the clone's own directory under the same relative paths, so the
    * clone survives source-side vacuum or drop. The copy is
    * DISTRIBUTED: one Spark job streams the files executor-side
    * (FileUtil.copy per file, Hadoop conf rebuilt from a broadcast —
    * no bytes through the driver), then the log lands as one commit
    * whose Adds are the source's verbatim (stats, vectors, cubes, row
    * ids all carry over; zero recompute). A source Add that is itself
    * an absolute reference (a shallow clone being deep-cloned) is
    * materialized under a fresh `data/deep/` name. */
  def cloneTo(destRoot: String, asOf: Option[Long] = None,
      deep: Boolean = false): TxTable = {
    val snap = TxLog.snapshot(fs, root, asOf)
    val dest = new Path(destRoot)
    val dfs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dfs.exists(dest)) dfs.delete(dest, true)
    dfs.mkdirs(dest)
    val cloneAdds: Vector[Add] =
      if (!deep)
        snap.adds.map(a => a.copy(
          path = new Path(root, a.path).toUri.getPath,
          dvFile = a.dvFile.map(r => new Path(root, r).toUri.getPath),
          bloom = a.bloom.map(_.map { case (c, r) =>
            c -> new Path(root, r).toUri.getPath })))
      else {
        // relative refs keep their path; absolute ones (shallow-clone
        // inheritance) get a fresh local home
        def local(ref: String, kind: String): String =
          if (!ref.startsWith("/")) ref
          else s"data/deep/${kind}_" +
            java.util.UUID.randomUUID.toString.take(8) + "_" +
            new Path(ref).getName
        val mapped = snap.adds.map { a =>
          val pairs = scala.collection.mutable.ArrayBuffer[(String, String)]()
          def m(ref: String, kind: String): String = {
            val to = local(ref, kind)
            val from = if (ref.startsWith("/")) ref
              else new Path(root, ref).toUri.getPath
            pairs += from -> to
            to
          }
          val a2 = a.copy(
            path = m(a.path, "d"),
            dvFile = a.dvFile.map(m(_, "dv")),
            bloom = a.bloom.map(_.map { case (c, r) => c -> m(r, "b") }))
          (a2, pairs.toSeq)
        }
        val copies = mapped.flatMap(_._2)
        val destStr = dest.toUri.getPath
        val confMap = {
          val b = Map.newBuilder[String, String]
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
          b.result()
        }
        val bcConf = spark.sparkContext.broadcast(confMap)
        spark.sparkContext
          .parallelize(copies, math.max(1, math.min(copies.size, 64)))
          .foreachPartition { it =>
            val conf = new org.apache.hadoop.conf.Configuration()
            bcConf.value.foreach { case (k, v) => conf.set(k, v) }
            it.foreach { case (from, to) =>
              val src = new Path(from)
              val dst = new Path(destStr, to)
              val sfs = src.getFileSystem(conf)
              val tfs = dst.getFileSystem(conf)
              org.apache.hadoop.fs.FileUtil.copy(sfs, src, tfs, dst,
                false, true, conf)
              ()
            }
          }
        mapped.map(_._1)
      }
    val entries = LogEntry(meta = Some(snap.meta)) +:
      cloneAdds.map(a => LogEntry(add = Some(a))) :+
      LogEntry(info = Some(Info(if (deep) "CLONE_DEEP" else "CLONE",
        snap.version)))
    require(TxLog.tryCommit(dfs, dest, 0L, entries),
      s"clone target $destRoot already has a log")
    new TxTable(spark, destRoot)
  }

  /** RESTORE to an older version as a NEW commit (Delta's RESTORE):
    * the live file set (and metadata) become `toVersion`'s again, while
    * history keeps every commit — the undo for a bad delete/merge that
    * is itself time-travelable. Fails clearly if vacuum already
    * reclaimed a file the old version needs.
    *
    * Diff by FULL Add payload, not path: a merge-on-read delete re-adds
    * the SAME path with a different deletion vector, so a path-only
    * diff would leave the newer vector live and the restored table
    * would silently miss rows the target version had. Any path whose
    * current Add differs from the target's gets remove+re-add (the
    * remove lands first in the entry order, so replay ends on the
    * target's payload).
    *
    * BOUNDED DRIVER: above the file-count threshold both versions
    * resolve as checkpoint-backed DataFrames and the payload diff is a
    * distributed join on canonical fingerprints — only the DIFFERING
    * entries (which the commit must carry anyway) ever reach the
    * driver, so undoing a few commits on a million-file table collects
    * a few commits' worth of files, not two full live sets. The vacuum
    * existence check runs on exactly the re-added diff for the same
    * reason (a file live in the CURRENT version cannot have been
    * vacuumed).
    */
  def restore(toVersion: Long): Long =
    retrying("restore") { _ =>
      val resolved
          : Option[(Long, TxLog.Meta, TxLog.Meta, Seq[TxLog.Remove], Vector[Add])] =
        TxLog.liveAddsFrame(fs, root, None).flatMap {
          case (curF, curMeta, curV, _) =>
            require(toVersion <= curV,
              s"version $toVersion out of range [0, $curV] at $root")
            TxLog.addsFrameAt(fs, root, toVersion).map { case (tgtF, tgtMeta) =>
              val c = curF.withColumn("__canon", TxLog.addCanon)
              val t = tgtF.withColumn("__canon", TxLog.addCanon)
              val removes = c.join(
                t.select(col("path"), col("__canon").as("__tc")),
                Seq("path"), "left")
                .where(col("__tc").isNull || col("__tc") =!= col("__canon"))
                .select("path", "rows", "bytes").collect().map(r =>
                  TxLog.Remove(r.getString(0), Some(r.getLong(1)),
                    if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
              val addsBack = TxLog.collectAdds(t.join(
                c.select(col("path"), col("__canon").as("__cc")),
                Seq("path"), "left")
                .where(col("__cc").isNull || col("__cc") =!= col("__canon"))
                .drop("__cc", "__canon"))
              TxLog.lastResolve.set(("distributed-prune",
                (removes.size + addsBack.size).toLong))
              (curV, curMeta, tgtMeta, removes, addsBack)
            }
        }
      val (curVersion, curMeta, tgtMeta, removed, addedBack) =
        resolved match {
          case Some(r) => r
          case None =>
            val old = TxLog.snapshot(fs, root, Some(toVersion))
            val snap = TxLog.snapshot(fs, root)
            val curByPath = snap.adds.map(a => a.path -> a).toMap
            val tgtByPath = old.adds.map(a => a.path -> a).toMap
            (snap.version, snap.meta, old.meta,
              snap.adds.filterNot(a => tgtByPath.get(a.path).contains(a))
                .map(a => TxLog.Remove(a.path, Some(a.rows), a.bytes)),
              old.adds.filterNot(a => curByPath.get(a.path).contains(a)))
        }
      gateWriter(curMeta)
      gateAppendOnly(curMeta, "RESTORE")
      // vacuum check on exactly the re-added diff: a file the current
      // version still references cannot have been vacuumed
      addedBack.foreach { a =>
        require(fs.exists(new Path(root, a.path)),
          s"cannot restore to v$toVersion: ${a.path} was vacuumed")
      }
      val entries =
        (if (tgtMeta != curMeta) Seq(LogEntry(meta = Some(tgtMeta))) else Nil) ++
        removed.map(r => LogEntry(remove = Some(r))) ++
        addedBack.map(a => LogEntry(add = Some(a))) :+
        LogEntry(info = Some(Info("RESTORE", curVersion)))
      tryClaim(curVersion, entries)
    }

  /** ADD CONSTRAINT: a SQL CHECK expression every future write must
    * satisfy (NULL passes, SQL's CHECK rule). Existing rows are
    * validated first — a table already violating the constraint refuses
    * it, like Delta. The constraint rides in the log's metaData, so
    * every writer (including one that opened the table later) enforces
    * it from its snapshot.
    */
  def addConstraint(checkExpr: String): Long =
    alterMeta("ADD_CONSTRAINT", withFiles = true) { snap =>
      val bad = readSnapshot(snap)
        .where(!coalesce(expr(checkExpr), lit(true))).limit(1).count()
      require(bad == 0,
        s"existing rows violate CHECK ($checkExpr) — constraint refused")
      Some(snap.meta.copy(
        constraints = Some(snap.meta.checkExprs :+ checkExpr))
        .withWriterFeature("checkConstraints"))
    }

  /** ALTER ... ADD COLUMN (Delta's additive evolution as an explicit
    * DDL commit): METADATA-ONLY — the new nullable column lands in the
    * log through the same [[evolve]] path appends use (fresh physical
    * name if the identity name was retired by a DROP), and existing
    * files null-fill on read. Zero data IO at any table size. */
  def addColumn(colName: String, typeDdl: String): Long = {
    val dt = DataType.fromDDL(typeDdl)
    alterMeta("ADD_COLUMN") { snap =>
      require(!snap.meta.schema.fieldNames.contains(colName),
        s"column $colName already exists on $root")
      Some(evolve(snap.meta, StructType(snap.meta.schema.fields :+
        StructField(colName, dt, nullable = true))))
    }
  }

  /** ALTER ... ALTER COLUMN ... TYPE (Delta's typeWidening feature as
    * EXPLICIT DDL, not just write-time merge): METADATA-ONLY — routes
    * through the same [[evolve]] widening path schema-merge writes use
    * (the strictly-wider chain, the bloom-hash-family guard, the
    * reader+writer `typeWidening` feature stamps), so the DDL and the
    * merge path cannot drift. Zero data IO at any table size: parquet
    * natively upcasts a narrower physical column into the wider
    * declared type on read. Non-widening changes refuse with evolve's
    * message; same-type is idempotent. */
  def widenColumnType(colName: String, typeDdl: String): Long = {
    val to = DataType.fromDDL(typeDdl)
    alterMeta("WIDEN_COLUMN") { snap =>
      val cur = snap.meta.schema
      require(cur.fieldNames.contains(colName),
        s"no column $colName in $root")
      Option.when(cur(colName).dataType != to)(evolve(snap.meta,
        StructType(cur.fields.map(f =>
          if (f.name == colName) f.copy(dataType = to) else f))))
    }
  }

  /** ALTER ... ALTER COLUMN ... COMMENT — metadata-only; the comment
    * rides the schema field's metadata (where DESCRIBE reads it),
    * preserving every other metadata key (column-mapping physical
    * names, identity/generated specs). */
  def setColumnComment(colName: String, comment: String): Long =
    alterMeta("COMMENT_COLUMN") { snap =>
      val cur = snap.meta.schema
      require(cur.fieldNames.contains(colName),
        s"no column $colName in $root")
      val updated = StructType(cur.fields.map(f =>
        if (f.name == colName) f.withComment(comment) else f))
      Some(snap.meta.copy(schemaJson = updated.json))
    }

  /** NOT NULL constraint (Delta's column invariant): every future
    * write must carry the column, non-null in every row — the one
    * constraint CHECK cannot express (SQL's CHECK rule passes NULL).
    * Existing rows validate first, like [[addConstraint]]; the
    * `notNullConstraints` WRITER feature stamps so a version-skewed
    * writer that doesn't know to refuse nulls refuses the table
    * instead. Idempotent. */
  def addNotNull(colName: String): Long =
    alterMeta("ADD_NOT_NULL", withFiles = true) { snap =>
      require(snap.meta.schema.fieldNames.contains(colName),
        s"no column $colName in $root")
      Option.when(!snap.meta.requiredCols.contains(colName)) {
        val bad = readSnapshot(snap).where(col(colName).isNull)
          .limit(1).count()
        require(bad == 0,
          s"existing rows hold NULL in $colName — NOT NULL refused")
        snap.meta.copy(notNullCols = Some(snap.meta.requiredCols :+ colName))
          .withWriterFeature("notNullConstraints")
      }
    }

  /** Lift a NOT NULL constraint — metadata-only, idempotent. */
  def dropNotNull(colName: String): Long =
    alterMeta("DROP_NOT_NULL", withFiles = true) { snap =>
      val left = snap.meta.requiredCols.filterNot(_ == colName)
      Option.when(snap.meta.requiredCols.contains(colName))(snap.meta.copy(
        notNullCols = if (left.isEmpty) None else Some(left)))
    }

  /** TABLE PROPERTIES (Delta's `ALTER TABLE ... SET TBLPROPERTIES` /
    * `Metadata.configuration`): a METADATA-ONLY commit merging `props`
    * into the table's persisted configuration. Keys under the
    * `txlog.` namespace carry engine semantics and VALIDATE here —
    * `txlog.appendOnly` (boolean; `true` stamps the `appendOnly`
    * writer feature so a version-skewed writer that doesn't know to
    * refuse deletes refuses the whole table instead),
    * `txlog.retention.hours` (non-negative — the table-level vacuum
    * default), `txlog.autoCompact[.minFiles|.minRows]` (the post-
    * commit hook's table-level switch). An UNKNOWN `txlog.*` key
    * refuses: a typo'd semantic key must not silently become inert
    * user metadata. Everything else (comments, owners, pipeline tags)
    * stores verbatim. Time travel serves each version's own
    * configuration, like any other metadata. */
  def setTblProperties(props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    TxTable.validateTblProperties(props)
    val wantsAppendOnly = props.get(TxLog.propAppendOnly)
      .exists(_.trim.toBoolean)
    val wantsCdf = props.get(TxLog.propEnableCdf)
      .exists(_.trim.toBoolean)
    alterMeta("SET_TBLPROPERTIES") { snap =>
      val merged = snap.meta.config ++ props
      val base0 = snap.meta.copy(configuration =
        if (merged.isEmpty) None else Some(merged))
      val base =
        if (wantsCdf && !base0.cdf)
          base0.copy(cdfEnabled = Some(true))
            .withWriterFeature("changeDataFeed")
        else base0
      val meta =
        if (wantsAppendOnly) base.withWriterFeature("appendOnly") else base
      Option.when(meta != snap.meta)(meta) // idempotent no-op
    }
  }

  /** Remove table properties — metadata-only, idempotent. Absent keys
    * are ignored (Spark's UNSET IF EXISTS semantics; refusing would
    * make concurrent unsets racy for no benefit). The `appendOnly`
    * WRITER FEATURE stamp survives an unset of `txlog.appendOnly`
    * (this client and any peer that understands the stamp re-reads
    * the configuration and allows mutation again; a pre-feature
    * writer keeps refusing — exactly the protection the stamp is
    * for). */
  def unsetTblProperties(keys: Seq[String]): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    alterMeta("UNSET_TBLPROPERTIES") { snap =>
      val left = snap.meta.config -- keys
      Option.when(left != snap.meta.config)(snap.meta.copy(configuration =
        if (left.isEmpty) None else Some(left)))
    }
  }

  /** RENAME COLUMN — a METADATA-ONLY commit (Delta's column-mapping
    * rename): the logical schema name changes, the physical parquet
    * column keeps its first-write name forever, and the log's
    * logical→physical map routes every read and write; not one data
    * file is touched. Time travel before the rename serves the old
    * logical name from that version's own metadata. Refused for
    * partition columns (their values ride in directory names and
    * partitionValues under the physical spelling) and for columns a
    * CHECK constraint references (the stored expression text would
    * silently stop binding).
    */
  def renameColumn(oldName: String, newName: String): Long =
    alterMeta("RENAME_COLUMN") { snap =>
      val schema = snap.meta.schema
      require(schema.fieldNames.contains(oldName),
        s"RENAME: no column $oldName in $root")
      require(!schema.fieldNames.contains(newName),
        s"RENAME: column $newName already exists in $root")
      require(!snap.meta.partitionCols.contains(oldName),
        s"RENAME: $oldName is a partition column of $root")
      require(!snap.meta.checkExprs.exists(
          _.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*")),
        s"RENAME: a CHECK constraint references $oldName — drop it first")
      require(!generatedTouches(snap.meta, oldName),
        s"RENAME: $oldName is a generated column or read by one — its " +
          "expression text would dangle under the new name")
      require(!snap.meta.identities.contains(oldName) &&
        !snap.meta.defaults.contains(oldName),
        s"RENAME: $oldName is an identity/DEFAULT column — its " +
          "declaration would dangle under the new name")
      val renamed = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val mapping = snap.meta.columnMapping.getOrElse(Map.empty) -
        oldName + (newName -> snap.meta.physicalOf(oldName))
      Some(snap.meta.copy(schemaJson = renamed.json,
        columnMapping = Some(mapping),
        // a NOT NULL constraint follows its column through the rename
        notNullCols = snap.meta.notNullCols.map(_.map(c =>
          if (c == oldName) newName else c)))
        .withReaderFeature("columnMapping")
        .withWriterFeature("columnMapping"))
    }

  /** DROP COLUMN — a METADATA-ONLY commit, the column-mapping twin of
    * [[renameColumn]]: the field leaves the logical schema, the
    * physical parquet column stays in every existing file and is simply
    * never projected again; not one data file is touched. The physical
    * name is RETIRED in the log, so a later re-add of the same logical
    * name (via additive evolution) maps to a fresh physical name —
    * pre-drop files then serve NULL in the re-added column instead of
    * resurrecting the dropped bytes. Time travel before the drop serves
    * the column from that version's own metadata. Refused for partition
    * columns, constraint-referenced columns (same grounds as rename),
    * and the last remaining column.
    */
  def dropColumn(name: String): Long =
    alterMeta("DROP_COLUMN") { snap =>
      val schema = snap.meta.schema
      require(schema.fieldNames.contains(name),
        s"DROP: no column $name in $root")
      require(schema.fields.length > 1,
        s"DROP: $name is the last column of $root")
      require(!snap.meta.partitionCols.contains(name),
        s"DROP: $name is a partition column of $root")
      require(!snap.meta.checkExprs.exists(
          _.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(name)}\\b.*")),
        s"DROP: a CHECK constraint references $name — drop it first")
      require(!generatedTouches(snap.meta, name),
        s"DROP: $name is a generated column or read by one — drop " +
          "would orphan the expression")
      require(!snap.meta.identities.contains(name) &&
        !snap.meta.defaults.contains(name),
        s"DROP: $name is an identity/DEFAULT column — drop would " +
          "orphan its declaration")
      val dropped = StructType(schema.fields.filterNot(_.name == name))
      Some(snap.meta.copy(
        notNullCols = snap.meta.notNullCols
          .map(_.filterNot(_ == name)).filter(_.nonEmpty),
        schemaJson = dropped.json,
        columnMapping = snap.meta.columnMapping.map(_ - name),
        retiredPhysical =
          Some((snap.meta.retired :+ snap.meta.physicalOf(name)).distinct))
        .withReaderFeature("columnMapping")
        .withWriterFeature("columnMapping"))
    }

  /** PARTITION EVOLUTION (Iceberg's flagship metadata operation — Delta
    * has no equivalent): change the table's partition spec as a
    * METADATA-ONLY commit. Existing files keep their old layout and
    * stay fully readable — each file's OWN partitionValues decide which
    * columns read from the log vs the bytes ([[readFiles]]), and
    * [[candidateFiles]] prunes old-layout files by their stats/values
    * and new-layout files by the new directory values — while every
    * write from this commit on lands under the new spec. No data is
    * rewritten until (and unless) [[repartitionRewrite]] or a routine
    * OPTIMIZE migrates old files. Refused for renamed (column-mapped)
    * columns: directory names carry the physical spelling forever and a
    * mapped column's two spellings would collide.
    *
    * Caveats of a mixed-layout table (all Iceberg-shared):
    * [[overwritePartition]] refuses until the layout is homogeneous (a
    * value's rows could hide in old-layout files it would not replace),
    * and [[readLatestPartition]] sees only files whose layout carries
    * the column.
    */
  def repartitionBy(newPartitionCols: Seq[String]): Long =
    alterMeta("REPARTITION") { snap =>
      newPartitionCols.foreach { c =>
        require(snap.meta.schema.fieldNames.contains(c),
          s"REPARTITION: no column $c in $root")
        require(snap.meta.physicalOf(c) == c,
          s"REPARTITION: $c is renamed (logical != physical) — directory " +
            "values would carry a colliding spelling")
      }
      // already this spec: no commit
      Option.when(snap.meta.partitionCols != newPartitionCols.toList)(
        snap.meta.copy(partitionCols = newPartitionCols.toList))
    }

  /** Migrate every file NOT in the current partition spec to it — one
    * atomic commit rewriting only the stale-layout files (a no-op on a
    * homogeneous table). The explicit form of what routine OPTIMIZE
    * does gradually; run it before [[overwritePartition]] on an evolved
    * table. Under CDF the commit marks a pure rewrite (no logical
    * change, empty feed).
    */
  def repartitionRewrite(): Long =
    retrying("repartitionRewrite") { _ =>
      // only stale-layout files are candidates — collected exactly
      val snap = TxLog.prunedSnapshot(fs, root, None, m =>
        sort_array(map_keys(col("partitionValues"))) =!=
          array(m.partitionCols.sorted.map(lit): _*))
      gateWriter(snap.meta)
      val target = snap.meta.partitionCols.toSet
      val stale = snap.adds.filter(_.partitionValues.keySet != target)
      if (stale.isEmpty) Some(snap.version)
      else {
        val adds = stageWrite(readFiles(snap, stale.map(_.path),
          withRowId = snap.meta.tracksRows), snap.meta)
        val entries = stale.map(a => LogEntry(remove = Some(Remove(a.path, Some(a.rows), a.bytes)))) ++
          adds.map(a => LogEntry(add = Some(a))) :+
          LogEntry(info = Some(Info("REPARTITION_REWRITE", snap.version,
            cdfCaptured = if (snap.meta.cdf) Some(true) else None)))
        // pure rewrite — but homogeneity is this op's POST-CONDITION, so
        // only a winner already in the current layout may rebase; an
        // old-layout straggler forces the recompute that sweeps it up
        commitRebasingWhere(snap, entries,
          _.partitionValues.keySet == snap.meta.partitionCols.toSet)
      }
    }

  /** CREATE BLOOMFILTER INDEX (Delta's bloom filter index): from this
    * commit on, every data file carries a `_bloom/<uuid>.bin` sidecar —
    * a per-file bloom filter over xxhash64 of `colName` — and existing
    * live files are BACKFILLED in one distributed pass (one
    * `groupBy(_metadata.file_path)` aggregation over the live set, one
    * commit re-adding each file with its sidecar reference; never a job
    * per file). Point lookups ([[readEquals]]) then skip every file
    * whose filter excludes the key — the needle-in-100-TB read min/max
    * stats cannot serve when the column is uncorrelated with file
    * layout (a uuid/user-id spread across every file's full range).
    * Refused for partition columns: their single value rides in
    * partitionValues and prunes exactly already.
    *
    * INCREMENTAL: a re-run with the same fpp indexes only the files
    * LACKING a sidecar for the column (appends since the last run), so
    * routine index maintenance on a 100 TB table reads the new data,
    * not the corpus — and its planning snapshot prunes distributed to
    * exactly those files. A re-run with a DIFFERENT fpp rebuilds
    * everything (the recorded spec changes, stale-fpp sidecars would
    * silently under- or over-filter).
    */
  def addBloomIndex(colName: String, fpp: Double = 0.01): Long = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    retrying("addBloomIndex") { _ =>
      val (mSnap, complete) = metaSnapshot()
      gateWriter(mSnap.meta)
      require(mSnap.meta.schema.fieldNames.contains(colName),
        s"BLOOM INDEX: no column $colName in $root")
      require(!mSnap.meta.partitionCols.contains(colName),
        s"BLOOM INDEX: $colName is a partition column — partitionValues " +
          "prune it exactly already")
      val phys = mSnap.meta.physicalOf(colName)
      val sameSpec = mSnap.meta.bloomCols.get(colName).contains(fpp)
      val snap =
        if (complete) mSnap
        else if (sameSpec) TxLog.prunedSnapshot(fs, root, None, _ =>
          col("bloom").isNull || col("bloom").getItem(phys).isNull)
        else TxLog.snapshot(fs, root)
      gateWriter(snap.meta)
      val candidates =
        if (sameSpec) snap.adds.filter(a => !a.bloom.exists(_.contains(phys)))
        else snap.adds
      if (sameSpec && candidates.isEmpty)
        Some(snap.version) // fully indexed already — no commit
      else {
        val pcols = snap.meta.partitionCols
        val dataSchema = StructType(
          snap.meta.schema.fields.filterNot(f => pcols.contains(f.name))
            .map(f => f.copy(name = snap.meta.physicalOf(f.name))))
        val maxRows = candidates.map(_.rows).maxOption.getOrElse(0L)
        val blooms = perFileBlooms(
          candidates.map(a => new Path(root, a.path).toString),
          Some(dataSchema), phys, maxRows, fpp)
        val updated = candidates.flatMap { a =>
          blooms.get(a.path).map { bytes =>
            a.copy(bloom = Some(a.bloom.getOrElse(Map.empty) +
              (phys -> writeBloomSidecar(bytes))))
          }
        }
        val meta = snap.meta.copy(
          bloomIndex = Some(snap.meta.bloomCols + (colName -> fpp)))
        // remove-then-re-add per path (replay ends on the new payload);
        // under CDF the marker says "pure rewrite, no logical change" so
        // feed readers skip this commit instead of diffing it. The meta
        // entry rides only when the recorded spec actually changes — an
        // incremental repair is then meta-free and can rebase
        val metaEntry =
          if (meta != snap.meta) Seq(LogEntry(meta = Some(meta))) else Nil
        val entries = metaEntry ++
          (updated.map(a => LogEntry(remove = Some(Remove(a.path, Some(a.rows), a.bytes)))) ++
            updated.map(a => LogEntry(add = Some(a)))) :+
          LogEntry(info = Some(Info("ADD_BLOOM_INDEX", snap.version,
            cdfCaptured = if (snap.meta.cdf) Some(true) else None)))
        // pure rewrite: a winner blind append rebases — on an indexed
        // table its files carry sidecars from stageWrite already, and any
        // that do not are the NEXT incremental run's candidates
        commitRebasingWhere(snap, entries, _ => true)
      }
    }
  }

  /** Turn on commit-time change capture from the NEXT commit on (the
    * ALTER TABLE SET TBLPROPERTIES form of [[create]]'s flag). Commits
    * before this one keep resolving their feed via the file-diff
    * fallback — [[readChanges]] handles mixed histories per commit.
    */
  def enableChangeDataFeed(): Long =
    alterMeta("ENABLE_CDF") { snap => // already on: no commit
      Option.when(!snap.meta.cdf)(snap.meta.copy(cdfEnabled = Some(true))
        .withWriterFeature("changeDataFeed"))
    }

  /** Candidate live paths for a KEYED mutation's match scan: the files
    * whose stats cannot exclude the key frame's [min, max] on the
    * LEADING key column — a file outside the range cannot hold any
    * matching key, so [[hitFiles]] reads only the overlap instead
    * of scanning the whole table to find affected files (at 100 TB the
    * difference between a bounded upsert and a full-table scan per
    * merge; on a clustered/z-ordered table the overlap is tiny).
    * One tiny agg job on the (cached) key frame decides the range.
    * Conservative fallbacks keep everything: a non-prunable key type,
    * an all-null key set — and, under null-SAFE matching, ANY null key
    * in the frame (stats say nothing about nulls, and a null-keyed row
    * may live in a file the range excludes).
    */
  private def keyScanPaths(snap: Snapshot, keyCols: Seq[String],
      keys: DataFrame, nullSafe: Boolean): Seq[String] = {
    val k = keyCols.head
    // below a handful of files the range-agg job costs more than the
    // scan it could save — engage only where pruning can matter (the
    // checkpoint-format lesson: scale-right designs must not tax toy
    // tables with fixed Spark jobs)
    if (snap.adds.size < 16) return snap.adds.map(_.path)
    if (!keyPrunable(snap.meta, k)) return snap.adds.map(_.path)
    keyRange(keys, k, nullSafe) match {
      case None           => snap.adds.map(_.path)
      case Some((lo, hi)) => candidateFiles(snap, k, lo, hi).map(_.path)
    }
  }

  /** Can the leading key column's stats order a range prune? `_row_id`
    * is not in the logical schema but carries long stats like any data
    * column, so id-keyed mutations ([[applyChangesById]]) prune too. */
  private def keyPrunable(meta: Meta, k: String): Boolean =
    (if (k == RowIdCol) Some(LongType: DataType)
     else meta.schema.find(_.name == k).map(_.dataType))
      .exists(TxSkipping.skippable)

  /** The key frame's [min, max] — None when no prune is sound (empty /
    * all-null keys; under null-SAFE matching, ANY null key: stats say
    * nothing about nulls). One tiny agg job on the (cached) frame. */
  private def keyRange(keys: DataFrame, k: String,
      nullSafe: Boolean): Option[(Any, Any)] = {
    val r = keys.agg(min(col(k)), max(col(k)),
      sum(when(col(k).isNull, 1L).otherwise(0L))).collect().head
    if (r.isNullAt(0) || (nullSafe && !r.isNullAt(2) && r.getLong(2) > 0))
      None
    else Some((r.get(0), r.get(1)))
  }

  /** Cheapest snapshot still carrying meta/version/txns, for code that
    * must inspect the table BEFORE it can name its candidate files: on
    * the distributed path no Add entries are collected (`adds` empty,
    * `_2 = false`); below the threshold it is the ordinary full fold
    * (`_2 = true`) and serves as the mutation's own snapshot. */
  private def metaSnapshot(): (Snapshot, Boolean) = {
    val s = TxLog.prunedSnapshot(fs, root, None, _ => lit(false))
    (s, TxLog.lastResolve.get()._1 == "driver-fold")
  }

  /** Planning snapshot for a PARTITION OVERWRITE: keeps the target
    * value's files AND any file whose decoded layout differs from the
    * current partition spec, so both the mixed-layout refusal and the
    * doomed set are exact on the collected subset — an overwrite of
    * one partition in a million-file table collects one partition. */
  private def partitionOverwriteSnapshot(partCol: String,
      value: String): Snapshot =
    TxLog.prunedSnapshot(fs, root, None, m => {
      val expect = array(m.partitionCols.sorted.map(lit): _*)
      (sort_array(map_keys(col("partitionValues"))) =!= expect) ||
        col("partitionValues").getItem(partCol) === lit(value)
    })

  /** Planning snapshot for a KEYED mutation — the distributed twin of
    * [[keyScanPaths]]: above the driver threshold the key frame's
    * [min, max] agg runs first and the checkpoint is filtered
    * DISTRIBUTED on the leading key's stats, so a keyed mutation
    * ([[keyedReplace]], the keyed [[MergeInto]]) on a million-file table
    * collects only the candidate Adds; below it the
    * full fold serves and [[keyScanPaths]] prunes driver-side exactly
    * as before (same conservatism, same null-safety fallbacks). */
  private def keyedMutationSnapshot(keyCols: Seq[String], keys: DataFrame,
      nullSafe: Boolean): Snapshot =
    TxLog.prunedSnapshot(fs, root, None, m => {
      val k = keyCols.head
      if (!keyPrunable(m, k)) lit(true)
      else keyRange(keys, k, nullSafe) match {
        case None           => lit(true)
        case Some((lo, hi)) =>
          TxSkipping.column(spark, m, col(k).between(lit(lo), lit(hi)))
      }
    })

  /** Planning snapshot for a PREDICATE mutation: the WHERE clause's
    * candidate files ([[TxSkipping.snapshot]]) — distributed over the
    * checkpoint on a million-file table, so an `UPDATE ... WHERE day =
    * X` never collects the full Add list; folded in memory on a small
    * one. The match scan's own index then skips with the same
    * evaluator. */
  private def mutationSnapshot(cond: Column): Snapshot =
    TxSkipping.snapshot(spark, root, None, cond)

  /** The one optimistic-commit loop: `attempt(i)` (i = 0, 1, ...) plans
    * and tries one commit and yields the committed version — or the
    * current one when there is nothing to commit — and None when it
    * lost the version race, which runs the next attempt. */
  private def retrying(op: String)(attempt: Int => Option[Long]): Long = {
    val v = Iterator.range(0, maxRetries).flatMap(attempt(_)).nextOption()
    require(v.isDefined, s"$op on $root lost $maxRetries races")
    v.get
  }

  /** Claims version `base + 1` with `entries`; None when another writer
    * already holds it. */
  private def tryClaim(base: Long, entries: Seq[LogEntry]): Option[Long] =
    Some(base + 1).filter(TxLog.tryCommit(fs, root, _, entries))

  /** A metadata-only DDL commit (no data file touched): `change` yields
    * the new meta, or None when the table already has it (no commit;
    * the current version returns). `withFiles` resolves the full
    * snapshot, for a change that must validate the existing rows. */
  private def alterMeta(op: String, withFiles: Boolean = false)(
      change: Snapshot => Option[Meta]): Long =
    retrying(op) { _ =>
      val snap = if (withFiles) TxLog.snapshot(fs, root) else metaSnapshot()._1
      gateWriter(snap.meta)
      change(snap).fold(Option(snap.version))(meta =>
        tryClaim(snap.version, Seq(LogEntry(meta = Some(meta)),
          LogEntry(info = Some(Info(op, snap.version))))))
    }

  /** Has the log already absorbed this writer transaction (appId,
    * version)? Then the write is an idempotent no-op. */
  private def absorbed(snap: Snapshot, txn: Option[Txn]): Boolean =
    txn.exists(t => snap.txns.get(t.appId).exists(_ >= t.version))

  /** Conflict-checked retry for a staged PREDICATE mutation (the
    * WriteSerializable slice of Delta's ConflictChecker): when the
    * staged commit loses the version race, examine the WINNER instead
    * of redoing the scan+rewrite. A winner that is a pure blind
    * APPEND — add/info/txn entries only, no removes, no metadata
    * change — whose EVERY added file is provably disjoint from `cond`
    * (the same stats mining data skipping uses; at least one mined
    * conjunct must exclude each file) cannot invalidate the staged
    * work: rows the mutation must process cannot live in those files,
    * and the staged removes touch none of them, so appending first or
    * mutating first serialize to the same table. The commit REBASES
    * one version forward with the SAME entries — a metadata-only retry
    * where the fallback recomputes a 100 TB scan+rewrite. Anything
    * unprovable (meta-carrying winner, any remove, a predicate with no
    * skippable conjunct, stats-less add, a tracked/identity append —
    * those carry meta by construction) returns None and the caller
    * recomputes from a fresh snapshot, exactly the old behavior.
    * Winner commits are read one at a time — O(lost races), never a
    * log replay. `cond` is by-name: it is computed only if a race is
    * actually lost.
    */
  private[lake] def commitRebasing(snap: Snapshot, entries: Seq[LogEntry],
      cond: => Column): Option[Long] = {
    lazy val keep = TxSkipping.keeper(spark, root, snap.meta, cond)
    commitRebasingWhere(snap, entries, a => !keep(a))
  }

  /** The keyed mutations' rebase: a winner blind append whose files
    * cannot hold any key of `keys` (by the key frame's range on each
    * prunable key column) cannot change what the commit replaces. Under
    * null-safe matching a null key yields no constraint, so any winner
    * falls back to the recompute. */
  private def commitRebasingOnKeys(snap: Snapshot, entries: Seq[LogEntry],
      keyCols: Seq[String], keys: DataFrame, nullSafe: Boolean)
      : Option[Long] =
    commitRebasing(snap, entries,
      keyCols.filter(keyPrunable(snap.meta, _)).flatMap { k =>
        keyRange(keys, k, nullSafe)
          .map { case (lo, hi) => col(k).between(lit(lo), lit(hi)) } }
        .foldLeft(lit(true))(_ && _))

  /** The rebase core: `safeAdd` decides whether one winner-added file
    * provably cannot affect the staged work. Predicate/keyed mutations
    * prove stats disjointness; PURE REWRITES (optimize,
    * repartitionRewrite, bloom backfill — content-preserving, their
    * correctness never depends on having seen every live file) pass
    * `_ => true`: any pure blind append is safe, the new files simply
    * stay candidates for the NEXT maintenance pass. */
  private[lake] def commitRebasingWhere(snap: Snapshot,
      entries: Seq[LogEntry], safeAdd: Add => Boolean): Option[Long] = {
    // a meta-carrying staged commit (schema evolution, row-id/identity
    // watermarks, protocol stamps) must re-gate against the head — no
    // rebase
    if (entries.exists(_.meta.isDefined))
      return tryClaim(snap.version, entries)
    val ourApps = entries.flatMap(_.txn).map(_.appId).toSet
    var v = snap.version + 1
    var rebases = 0
    while (rebases <= maxRetries) {
      if (TxLog.tryCommit(fs, root, v, entries)) return Some(v)
      val winner = scala.util.Try(TxLog.commitEntries(fs, root, v))
        .getOrElse(return None)
      val blindAppend = winner.forall(e =>
        e.remove.isEmpty && e.meta.isEmpty)
      // a winner advancing OUR app's idempotence watermark may be this
      // very batch's duplicate (a streaming retry racing itself — an
      // insert-only twin looks exactly like a disjoint blind append);
      // rebasing past it would apply the batch TWICE. Fall back to the
      // recompute, whose fresh snapshot sees the watermark and skips.
      val txnClash = winner.flatMap(_.txn).exists(t => ourApps(t.appId))
      if (!blindAppend || txnClash || !winner.flatMap(_.add).forall(a =>
          scala.util.Try(safeAdd(a)).getOrElse(false)))
        return None
      v += 1
      rebases += 1
    }
    None
  }

  /** Keyed join on `keys`: plain equality (a NULL key never matches),
    * or with `nullSafe` `<=>` per key (SQL's IS NOT DISTINCT FROM: a
    * NULL key value matches a NULL key value). For the null-safe form
    * the right side's key columns are renamed before joining, so
    * semi/anti/left outputs never carry ambiguous names; a left join's
    * borrowed key copies are dropped on the way out. */
  private def keyJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      nullSafe: Boolean, how: String): DataFrame =
    if (!nullSafe) left.join(right, keys, how)
    else {
      val r = right.select(right.columns.map(c =>
        if (keys.contains(c)) col(c).as(s"__ns_$c") else col(c))
        .toIndexedSeq: _*)
      left.join(r, keys.map(k => col(k) <=> col(s"__ns_$k")).reduce(_ && _),
        how).drop(keys.map(k => s"__ns_$k"): _*)
    }

  /** `df`'s rows under `meta`'s columns, in schema order: a column `df`
    * lacks (older files, before an evolution) null-fills; `_row_id`
    * rides along when `df` carries it. */
  private def aligned(meta: Meta, df: DataFrame): DataFrame =
    df.select(meta.schema.fields.map(f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq ++
      (if (df.columns.contains(RowIdCol)) Seq(col(RowIdCol)) else Nil): _*)

  /** Write-side protocol gate ([[TxLog.supportedWriterFeatures]], the
    * twin of [[TxLog.snapshot]]'s reader gate): refuse to mutate a
    * table whose stamped writer features this client does not
    * implement — an old writer would silently break the invariant the
    * feature protects (unenforced CHECK constraints, diverging
    * generated columns, dropped deletion vectors, logically-named
    * files, an incomplete change feed). Reading never consults it.
    */
  private def gateWriter(meta: Meta): Unit = {
    val alien = meta.writerFeats.filterNot(TxLog.supportedWriterFeatures)
    require(alien.isEmpty,
      s"table at $root requires writer feature(s) " +
        s"${alien.mkString(", ")} this client does not implement " +
        s"(supported: ${TxLog.supportedWriterFeatures.toSeq.sorted
          .mkString(", ")}) — upgrade the writer; reads are unaffected")
  }

  /** `txlog.appendOnly` (Delta's `delta.appendOnly`) enforcement:
    * row-removing mutations refuse. DELETE/UPDATE/overwrite/RESTORE
    * refuse up front (Delta's assertRemovable); MERGE refuses only
    * when it would actually rewrite target files (an insert-only
    * merge hitting no keys is a pure append — allowed, Delta's
    * commit-time rule). OPTIMIZE/CLUSTER/auto-compaction never call
    * this: they preserve every live row. */
  private def gateAppendOnly(meta: Meta, op: String): Unit =
    require(!meta.appendOnly,
      s"$op on $root refused: ${TxLog.propAppendOnly} = true — the " +
        "table accepts appends and file-preserving maintenance only " +
        s"(ALTER ... UNSET TBLPROPERTIES ('${TxLog.propAppendOnly}') " +
        "to lift)")

  /** GENERATED ALWAYS AS maintenance on an ingest frame: an absent
    * generated column is COMPUTED from its expression; a present one is
    * VALIDATED against it (null-safe equality, one limit-1 probe per
    * column) and refused on the first disagreement — a writer can
    * never land a row where the derived key lies about the row. */
  private def applyGenerated(df: DataFrame, meta: Meta): DataFrame =
    meta.generated.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        val want =
          if (meta.schema.fieldNames.contains(c))
            expr(e).cast(meta.schema(c).dataType)
          else expr(e)
        val bad = d.where(!(col(c) <=> want)).limit(1).count()
        require(bad == 0,
          s"generated column $c: incoming values disagree with ($e)")
        d
      }
    }

  /** Word-boundary reference test — the same rule CHECK constraints use
    * for rename safety. Conservative: a false positive refuses an op,
    * never corrupts one. */
  private def generatedTouches(meta: Meta, colName: String): Boolean =
    meta.generated.contains(colName) || meta.generated.values.exists(
      _.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(colName)}\\b.*"))

  /** Fail (BEFORE any file is staged) if a row of `df` violates a table
    * CHECK constraint. One limit-1 probe per constraint over the new
    * rows only. */
  private def enforceConstraints(df: DataFrame, meta: Meta): Unit = {
    // NOT NULL first: a frame that OMITS a required column would land
    // nulls through additive evolution — refuse before any scan
    val required = meta.requiredCols
    required.foreach { c =>
      require(df.columns.contains(c),
        s"write omits NOT NULL column $c — commit refused")
    }
    // ONE conditional-aggregation pass probes every constraint at once
    // (the previous shape scanned the frame once per CHECK plus once for
    // NOT NULL — K clean scans for K constraints; violation-free data,
    // the common case, pays the full scan either way, so a single pass
    // is strictly cheaper at any scale). Per-constraint error messages
    // are preserved via one flag column each.
    val present = required.filter(df.columns.contains)
    val probes: Seq[(Column, String)] =
      (if (present.isEmpty) Nil
       else Seq(present.map(col(_).isNull).reduce(_ || _) ->
         (s"write carries NULL in NOT NULL column(s) " +
           s"${present.mkString(",")} — commit refused"))) ++
      meta.checkExprs.map(c => (!coalesce(expr(c), lit(true))) ->
        s"write violates CHECK ($c) — commit refused")
    if (probes.nonEmpty) {
      val aggs = probes.zipWithIndex.map { case ((c, _), i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"__viol_$i") }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      probes.zipWithIndex.foreach { case ((_, msg), i) =>
        require(row.isNullAt(i) || row.getLong(i) == 0L, msg) }
    }
  }

  /** DESCRIBE HISTORY: one row per commit — version, operation, the
    * snapshot version the writer based its work on, and the commit's
    * operation metrics (Delta's operationMetrics: added/removed file
    * counts, output rows/bytes, feed footprint — stamped at commit
    * time from the commit's own entries). Pure log metadata.
    */
  def history(): DataFrame = {
    val latest = version
    require(latest >= 0, s"no transaction log at $root")
    // a log-cleaned table's ledger starts at its earliest RETAINED commit
    val rows = (TxLog.earliestVersion(fs, root) to latest).map { v =>
      val info = TxLog.commitInfoFast(fs, root, v)
      Row(v, info.map(_.op).getOrElse("UNKNOWN"),
        info.map(_.readVersion).getOrElse(-1L),
        info.flatMap(_.tsMillis).map(Long.box).orNull,
        info.flatMap(_.metrics).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("read_version", LongType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = true),
      StructField("operation_metrics", MapType(StringType, LongType),
        nullable = true))))
  }

  /** DESCRIBE DETAIL (Delta's one-row table summary), resolved purely
    * from log metadata — zero data files opened: live file/row/byte
    * totals (bytes from the Add entries' recorded sizes; legacy entries
    * without one fall back to a getFileStatus each), DV shadow count,
    * partition spec, stamped reader features, generated columns, and
    * the CDF flag. The at-a-glance operational surface a table owner
    * checks before an OPTIMIZE or a vacuum. */
  def detail(asOf: Option[Long] = None): DataFrame = {
    val snap = TxLog.snapshot(fs, root, asOf)
    val bytes = snap.adds.map(a => a.bytes.getOrElse(
      fs.getFileStatus(new Path(root, a.path)).getLen)).sum
    // change-feed footprint: at HEAD, one recursive listing of
    // `_change_data/` — O(feed files), never O(history); the on-disk
    // truth, including any failed commit's orphaned staging (vacuum's
    // to reclaim). A time-travel detail keeps the exact per-commit
    // walk (bounded by the requested version) — replaying a long
    // history is the point of asking about it.
    val (feedCount, feedBytes) = asOf match {
      case None =>
        val dirP = new Path(root, "_change_data")
        if (!fs.exists(dirP)) (0L, 0L)
        else {
          var n = 0L; var b = 0L
          val it = fs.listFiles(dirP, true)
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet")) {
              n += 1; b += f.getLen
            }
          }
          (n, b)
        }
      case Some(_) =>
        val feedPaths = (0L to snap.version).flatMap(v =>
          TxLog.commitEntries(fs, root, v).flatMap(_.cdf).map(_.path))
        val sizes = feedPaths.flatMap { rel =>
          val p = new Path(root, rel)
          if (fs.exists(p)) Some(fs.getFileStatus(p).getLen) else None
        }
        (sizes.size.toLong, sizes.sum)
    }
    val row = Row(rootStr, snap.version, snap.adds.size.toLong,
      snap.adds.map(_.rows).sum, bytes,
      snap.adds.map(_.dvSize).sum,
      snap.meta.partitionCols, snap.meta.clusterCols,
      snap.meta.features, snap.meta.writerFeats,
      snap.meta.generated, snap.meta.cdf,
      snap.meta.checkExprs.size.toLong,
      feedCount, feedBytes, snap.meta.config)
    spark.createDataFrame(Seq(row).asJava, StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("dv_shadowed_rows", LongType, nullable = false),
      StructField("partition_columns", ArrayType(StringType), nullable = false),
      StructField("clustering_columns", ArrayType(StringType), nullable = false),
      StructField("reader_features", ArrayType(StringType), nullable = false),
      StructField("writer_features", ArrayType(StringType), nullable = false),
      StructField("generated_columns", MapType(StringType, StringType),
        nullable = false),
      StructField("cdf_enabled", BooleanType, nullable = false),
      StructField("num_constraints", LongType, nullable = false),
      StructField("cdf_feed_files", LongType, nullable = false),
      StructField("cdf_feed_bytes", LongType, nullable = false),
      StructField("properties", MapType(StringType, StringType),
        nullable = false))))
  }

  // ---- reads ----

  /** Snapshot read; `asOf` time-travels to an older version.
    *
    * Driver posture: planning a FULL scan materializes the live Add
    * list on the driver — deliberately. The collection is O(files) but
    * so is the scan it plans; a reader about to touch every file can
    * afford its path list (Delta's filesForScan collects AddFiles the
    * same way). Every SELECTIVE path — [[readBetween]], [[readEquals]],
    * partition-pinned and latest-partition reads, all mutations'
    * planning — resolves through the pruned/distributed snapshot
    * machinery instead and never pays this.
    */
  def read(asOf: Option[Long] = None): DataFrame =
    readSnapshot(TxLog.snapshot(fs, root, asOf))

  /** Snapshot read WITH the stable `_row_id` column (row tracking must
    * be enabled at [[create]]): ids are unique across the table's life,
    * preserved verbatim through UPDATE/OPTIMIZE/DELETE-survivor/
    * MERGE-update rewrites, inherited by keyed upserts
    * ([[applyChanges]], [[merge]] matches), and fresh for genuinely new
    * rows — exact row lineage without key assumptions. */
  def readWithRowIds(asOf: Option[Long] = None): DataFrame = {
    val snap = TxLog.snapshot(fs, root, asOf)
    require(snap.meta.tracksRows,
      s"row tracking is not enabled on $root (create(enableRowTracking))")
    readFiles(snap, snap.adds.map(_.path), withRowId = true)
  }

  /** TIMESTAMP AS OF: the newest version whose in-commit timestamp is
    * ≤ `tsMillis` (Delta's resolution rule). Binary search over the
    * version range — O(log history) commit-file reads, never a replay.
    * Commits from before in-commit timestamps existed sort earliest
    * (they have no stamp). Refuses a timestamp before the first commit.
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val latest = version
    require(latest >= 0, s"no transaction log at $root")
    def tsOf(v: Long): Long =
      TxLog.commitInfoFast(fs, root, v).flatMap(_.tsMillis)
        .getOrElse(Long.MinValue)
    // a log-cleaned table resolves from its earliest retained commit
    val earliest = TxLog.earliestVersion(fs, root)
    require(tsOf(earliest) <= tsMillis,
      s"timestamp $tsMillis is before the first retained commit of " +
        s"$root (v$earliest at ${tsOf(earliest)})")
    var lo = earliest
    var hi = latest
    while (lo < hi) { // invariant: tsOf(lo) <= tsMillis
      val mid = lo + (hi - lo + 1) / 2
      if (tsOf(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Snapshot read at a wall-clock instant ([[versionAtTimestamp]]). */
  def readAsOfTimestamp(tsMillis: Long): DataFrame =
    read(asOf = Some(versionAtTimestamp(tsMillis)))

  /** First commit whose in-commit stamp is AT OR AFTER `tsMillis` —
    * what a stream's `startingTimestamp` means: the returned version's
    * rows happened after the instant (Delta's startingTimestamp rule).
    * Binary search over the same monotonic stamps as
    * [[versionAtTimestamp]]. Refuses an instant PAST the newest
    * commit's stamp (Delta refuses too — "future start" would silently
    * deliver nothing), and an instant at or before a log-cleaned
    * table's retention floor (the true start is unresolvable; on a
    * full log an instant before v0 simply starts at 0). */
  def versionAtOrAfterTimestamp(tsMillis: Long): Long = {
    val latest = version
    require(latest >= 0, s"no transaction log at $root")
    val earliest = TxLog.earliestVersion(fs, root)
    // UNSTAMPED (pre-feature legacy) commits carry their nearest
    // EARLIER stamped commit's instant forward — the same rule the
    // readChangesBetweenTimestamps walk applies — so a legacy commit
    // between stamped ones keeps the sequence monotone (a raw
    // MinValue in the middle would break the binary-search invariant
    // and return a wrong start), and an unstamped NEWEST commit no
    // longer makes the future-instant guard refuse instants that
    // earlier stamped commits satisfy.
    // per-call memo of raw stamps: the carry-forward walk revisits the
    // same versions across binary-search probes — without it a long
    // unstamped legacy prefix costs O(n log n) commit reads; memoized,
    // each version's stamp is read at most ONCE (O(n) worst case, the
    // usual O(log n) when commits are stamped)
    val rawMemo = scala.collection.mutable.HashMap.empty[Long, Option[Long]]
    def rawTs(v: Long): Option[Long] = rawMemo.getOrElseUpdate(v,
      TxLog.commitInfoFast(fs, root, v).flatMap(_.tsMillis))
    val tsMemo = scala.collection.mutable.HashMap.empty[Long, Long]
    def tsOf(v: Long): Long = tsMemo.get(v) match {
      case Some(t) => t
      case None =>
        var x = v
        var found = Long.MinValue
        var looking = true
        while (looking && x >= earliest) {
          tsMemo.get(x).orElse(rawTs(x)) match {
            case Some(t) => found = t; looking = false
            case None => x -= 1
          }
        }
        // every version the walk crossed shares the carried stamp
        (x.max(earliest) to v).foreach(tsMemo(_) = found)
        found
    }
    require(tsOf(latest) >= tsMillis,
      s"startingTimestamp $tsMillis is after the newest stamped commit " +
        s"of $root (v$latest at ${tsOf(latest)}) — nothing to start from")
    if (earliest > 0 && tsOf(earliest) >= tsMillis)
      throw new IllegalArgumentException(
        s"startingTimestamp $tsMillis reaches behind the retention " +
          s"horizon of $root: commits before v$earliest were " +
          s"log-cleaned (earliest retained instant ${tsOf(earliest)})")
    var lo = earliest
    var hi = latest
    while (lo < hi) { // invariant: tsOf(hi) >= tsMillis
      val mid = lo + (hi - lo) / 2
      if (tsOf(mid) >= tsMillis) hi = mid else lo = mid + 1
    }
    hi
  }

  /** The in-commit timestamp of one version, if stamped. */
  def commitTimestamp(v: Long): Option[Long] =
    TxLog.commitInfoFast(fs, root, v).flatMap(_.tsMillis)

  /** Highest application-level version committed under `appId`
    * ([[appendIdempotent]] / [[merge]]'s txn watermark), if any. */
  def latestTxnVersion(appId: String): Option[Long] =
    metaSnapshot()._1.txns.get(appId) // no Add entries needed

  /** Latest-partition read in ONE log resolution: the max of `colName`
    * across the live files' partitionValues picks the newest load, and
    * the same snapshot serves the filtered read — half the log IO of a
    * separate max lookup plus `read` (which the medallion's hot read
    * path would otherwise do on every node). Falls back to the full snapshot
    * when the column has no decoded values (empty table / all-null
    * loads).
    */
  /** Above the driver threshold the max and the matched file list both
    * resolve DISTRIBUTED over the checkpoint (one small agg job + one
    * pruned collection, pinned to the same version) — the medallion's
    * hottest read stays bounded on a million-file table. Files without
    * a decoded partition value for the column (pre-evolution layout:
    * the column is data bytes there) are conservatively kept; the row
    * filter stays on for exactness either way. */
  def readLatestPartition(colName: String): DataFrame = {
    TxLog.liveAddsFrame(fs, root, None) match {
      case Some((live, meta, target, txns)) =>
        val pv = col("partitionValues").getItem(colName)
        val latestRow = live
          .where(pv.isNotNull && pv =!= "__HIVE_DEFAULT_PARTITION__")
          .agg(max(pv)).collect().head
        if (latestRow.isNullAt(0)) read(asOf = Some(target))
        else {
          val latest = latestRow.getString(0)
          // finish against the SAME resolution (no second log replay):
          // the max agg and the matched-file collection are pinned to
          // one target version by construction
          val snap = TxLog.collectPruned(live, meta, target, txns,
            pv.isNull || pv === lit(latest))
          readFiles(snap, snap.adds.map(_.path))
            .where(col(colName).cast("string") === lit(latest))
        }
      case None =>
        val snap = TxLog.snapshot(fs, root)
        snap.adds.flatMap(_.partitionValues.get(colName))
          .filterNot(_ == "__HIVE_DEFAULT_PARTITION__").maxOption match {
          case Some(latest) =>
            readSnapshot(snap)
              .where(col(colName).cast("string") === lit(latest))
          case None => readSnapshot(snap)
        }
    }
  }

  /** CHANGE DATA FEED (Delta's `table_changes`): row-level changes landed
    * by commits `fromVersion..toVersion`, each row tagged `_change_type`
    * ('insert' | 'delete' | 'update_preimage' | 'update_postimage' —
    * Delta's four change types; UPDATE/MERGE commits feed their old and
    * new row as the pre/post pair) and `_commit_version`. Per commit,
    * cheapest source first:
    *
    *   1. COMMIT-TIME CAPTURE: a commit marked `cdfCaptured` (the table
    *      had CDF enabled when it landed) reads its staged
    *      `_change_data` files and touches NO table data file — the feed
    *      is read, not recomputed; O(changed rows). An empty marked
    *      capture (OPTIMIZE) emits nothing.
    *   2. ADDS-ONLY / REMOVES-ONLY shortcuts: an append's feed IS its
    *      added files as inserts (a whole-file drop the reverse) — no
    *      diff needed.
    *   3. FILE-DIFF FALLBACK (pre-capture commits): multiset `exceptAll`
    *      of added vs removed files, so copy-on-write SURVIVORS cancel
    *      out and an UPDATE surfaces as a delete+insert pair. Cost is
    *      O(files the commit touched) per read — exactly what capture
    *      removes. A file diff cannot know WHY a row changed, so the
    *      fallback never emits the update_* types — only capture
    *      carries the four-type fidelity (Delta's fallback-less design
    *      sidesteps this by requiring CDF on from the start).
    *
    * Semantics note: capture records what the writer DID (a MERGE that
    * replaces a row with identical bytes still feeds its pre/postimage
    * pair — Delta's behavior); the fallback diff cancels such no-op
    * pairs. The scripted oracles change every matched row, so both
    * sources agree there. Columns ride under the range-head schema
    * — rows from before an additive evolution null-fill, like any
    * time-travel read. Commits whose files (data OR change data) were
    * vacuumed refuse loudly: the change horizon is the vacuum horizon,
    * Delta's rule too.
    */
  /** `withRowIds = true` (row-tracked tables only) projects each change
    * row's stable `_row_id` into the feed — identity-based lineage for
    * CDF consumers (Delta's motivation for row tracking): an update's
    * pre/postimage pair joins on id with zero key assumptions, and
    * [[applyChangesById]] maintains a replica from the feed alone.
    * Captured commits read ids from their `_change_data` files (staged
    * id-carrying since capture+tracking coexisted; older captures
    * surface null ids), file-backed fallbacks read the physical
    * `_row_id` column — which also makes the copy-on-write survivor
    * cancellation exact per identity. */
  /** Change feed by WALL-CLOCK range (Delta's table_changes with
    * timestamps): endpoints resolve through the in-commit timestamps —
    * `from` maps to the first commit AT OR AFTER it (its changes
    * happened after the instant), `to` to the last commit at or before
    * ([[versionAtTimestamp]]'s snapshot rule). An empty instant range
    * (from past the head's stamp) refuses like an out-of-range
    * version. */
  def readChangesBetweenTimestamps(fromMillis: Long, toMillis: Long,
      withRowIds: Boolean = false): DataFrame = {
    require(fromMillis <= toMillis,
      s"timestamp range [$fromMillis, $toMillis] is inverted")
    val hi = versionAtTimestamp(toMillis)
    // first version whose stamp is >= fromMillis: one bounded walk
    // down from hi (commitTimestamp is an O(1) tail read per version).
    // The walk stops at the log-retention floor (commits behind it were
    // cleaned — probing them would fail on a missing file), and an
    // UNSTAMPED legacy commit stops it too: a commit with no provable
    // instant is excluded explicitly, never pulled into the range by a
    // vacuous comparison.
    val floor = TxLog.earliestVersion(fs, root)
    var lo = hi
    while (lo > floor &&
        commitTimestamp(lo - 1).exists(_ >= fromMillis)) lo -= 1
    if (lo == floor && floor > 0 &&
        commitTimestamp(floor).exists(_ >= fromMillis))
      throw new IllegalArgumentException(
        s"timestamp $fromMillis reaches behind the retention horizon " +
          s"at $root: commits before v$floor were log-cleaned, so the " +
          "range start cannot be resolved; earliest retained instant " +
          s"is ${commitTimestamp(floor).get}")
    if (commitTimestamp(lo).forall(_ < fromMillis)) lo = hi + 1
    require(lo <= hi,
      s"no commit stamped inside [$fromMillis, $toMillis] at $root")
    readChanges(lo, hi, withRowIds)
  }

  def readChanges(fromVersion: Long, toVersion: Long,
      withRowIds: Boolean = false): DataFrame = {
    val latest = version
    require(latest >= 0, s"no transaction log at $root")
    require(0 <= fromVersion && fromVersion <= toVersion && toVersion <= latest,
      s"change range [$fromVersion, $toVersion] outside [0, $latest] at $root")
    val head = TxLog.snapshot(fs, root, Some(toVersion))
    require(!withRowIds || head.meta.tracksRows,
      s"row tracking is not enabled on $root (create(enableRowTracking))")
    val idExtra =
      if (withRowIds) Seq(col(RowIdCol)) else Nil
    // column identity across versions is the PHYSICAL name: a version's
    // frame (logical names of ITS meta) maps onto the head's logical
    // names through physicalOf on both sides, so a feed range crossing a
    // RENAME commit stays one coherent relation under the head spelling
    def alignFrom(df: DataFrame, vMeta: Meta,
        extra: Seq[Column]): DataFrame =
      df.select(head.meta.schema.fields.map { f =>
        val phys = head.meta.physicalOf(f.name)
        vMeta.schema.fieldNames.find(n => vMeta.physicalOf(n) == phys)
          .filter(df.columns.contains) match {
          case Some(n) => col(n).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toIndexedSeq ++ extra: _*)
    val perCommit = (fromVersion to toVersion).flatMap { v =>
      val entries = TxLog.commitEntries(fs, root, v)
      val captured = entries.flatMap(_.info).headOption
        .exists(_.cdfCaptured.contains(true))
      val cdfFiles = entries.flatMap(_.cdf)
      val addedPaths = entries.flatMap(_.add).map(_.path)
      val removedPaths = entries.flatMap(_.remove).map(_.path)
      def stamp(df: DataFrame): DataFrame =
        df.withColumn("_commit_version", lit(v))
      if (captured) {
        if (cdfFiles.isEmpty) None // marked pure rewrite: no logical change
        else {
          cdfFiles.foreach(c => require(fs.exists(new Path(root, c.path)),
            s"change data of commit $v at $root was vacuumed"))
          // change-data files store physical names directly. The read
          // schema is fully known from the head meta (physical names,
          // all nullable): a file captured before a column existed
          // reads null in it — exactly what the old per-file
          // schema-inference + null-padding produced, minus the footer
          // inference Spark job every feed read paid.
          val cdfSchema = StructType(
            head.meta.schema.fields.toSeq.map(f =>
              f.copy(name = head.meta.physicalOf(f.name),
                nullable = true)) ++
            (if (withRowIds) Seq(StructField(RowIdCol, LongType)) else Nil)
              :+ StructField("_change_type", StringType))
          val df = spark.read.schema(cdfSchema).parquet(
            cdfFiles.map(c => new Path(root, c.path).toString): _*)
          val idCol = if (withRowIds) Seq(col(RowIdCol)) else Nil
          val aligned = df.select(head.meta.schema.fields.map { f =>
            col(head.meta.physicalOf(f.name)).as(f.name)
          }.toIndexedSeq ++ idCol :+ col("_change_type"): _*)
          Some(stamp(aligned))
        }
      } else if (addedPaths.isEmpty && removedPaths.isEmpty) None
      else if (removedPaths.isEmpty) {
        val snapV = TxLog.snapshot(fs, root, Some(v))
        Some(stamp(alignFrom(
          readFiles(snapV, addedPaths, withRowId = withRowIds),
          snapV.meta, idExtra)
          .withColumn("_change_type", lit("insert"))))
      } else if (addedPaths.isEmpty) {
        val snapP = TxLog.snapshot(fs, root, Some(v - 1))
        Some(stamp(alignFrom(
          readFiles(snapP, removedPaths, withRowId = withRowIds),
          snapP.meta, idExtra)
          .withColumn("_change_type", lit("delete"))))
      } else {
        val snapV = TxLog.snapshot(fs, root, Some(v))
        val snapP = TxLog.snapshot(fs, root, Some(v - 1))
        val added = alignFrom(
          readFiles(snapV, addedPaths, withRowId = withRowIds),
          snapV.meta, idExtra)
        val removed = alignFrom(
          readFiles(snapP, removedPaths, withRowId = withRowIds),
          snapP.meta, idExtra)
        val ins = added.exceptAll(removed)
          .withColumn("_change_type", lit("insert"))
        val del = removed.exceptAll(added)
          .withColumn("_change_type", lit("delete"))
        Some(stamp(ins.unionAll(del)))
      }
    }
    if (perCommit.nonEmpty) perCommit.reduce(_ unionAll _)
    else alignFrom(readFiles(head, Nil, withRowId = withRowIds),
        head.meta, idExtra)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0L))
      .limit(0)
  }

  /** Range read with stats-based file skipping: only files whose
    * recorded [min,max] for `colName` overlaps [lo,hi] are handed to
    * Spark at all (the filter still applies for exactness). At 100 TB
    * this is the difference between listing every file and reading the
    * two that matter.
    */
  def readBetween(colName: String, lo: Any, hi: Any,
      asOf: Option[Long] = None): DataFrame =
    readWhere(asOf, col(colName).between(lit(lo), lit(hi)))

  /** Point lookup with bloom-index file skipping: stats prune first
    * (equality is the degenerate range), then each surviving file's
    * bloom sidecar is probed with the key's hash — only files whose
    * filter says "maybe" are handed to Spark. A bloom can only
    * false-POSITIVE, so no matching row is ever skipped; the equality
    * filter stays on for exactness.
    */
  def readEquals(colName: String, value: Any,
      asOf: Option[Long] = None): DataFrame =
    readWhere(asOf, col(colName) === lit(value))

  /** Multi-key point read: only the live files whose stats/bloom CANNOT
    * exclude `colName == ` one of `values` are planned — one Spark job
    * for the whole key set, never a job per key. The read backing
    * [[graft.ext.Ivm]]'s bounded min/max retraction (recompute JUST the
    * groups whose extremum was retracted), and any multi-key lookup.
    * A file is kept when some value passes both its stats and its bloom
    * sidecar, like [[readEquals]]. Past 256 values the keep's N-way OR
    * is itself the bottleneck: the live set is folded in memory rather
    * than pruned distributed. */
  def readEqualsAny(colName: String, values: Seq[Any],
      asOf: Option[Long] = None): DataFrame =
    if (values.isEmpty)
      readFiles(TxLog.prunedSnapshot(fs, root, asOf, _ => lit(false)), Nil)
    else readWhere(asOf, col(colName).isin(values: _*),
      distributed = values.size <= 256)

  /** `cond`'s rows at `asOf`, planned on its candidate files only
    * ([[TxSkipping.snapshot]]: stats, partition values, blooms). */
  private def readWhere(asOf: Option[Long], cond: Column,
      distributed: Boolean = true): DataFrame = {
    val snap = TxSkipping.snapshot(spark, root, asOf, cond, distributed)
    readFiles(snap, snap.adds.map(_.path)).where(cond)
  }

  /** The bloom + stats skipping decision, exposed for tests: candidate
    * files for `colName == value` after BOTH prunes. Files without a
    * sidecar for the column are kept (conservative). */
  def bloomCandidateFiles(snap: Snapshot, colName: String, value: Any)
      : Vector[Add] =
    TxSkipping.files(spark, root, snap, col(colName) === lit(value))

  /** The skipping decision, exposed for tests: files whose stats CANNOT
    * exclude [lo,hi] (missing stats keep the file — conservative).
    * Partition columns carry no per-file stats — their single value
    * rides in partitionValues and prunes exactly. */
  def candidateFiles(snap: Snapshot, colName: String, lo: Any, hi: Any): Vector[Add] =
    TxSkipping.files(spark, root, snap,
      col(colName).between(lit(lo), lit(hi)))

  private def readSnapshot(snap: Snapshot): DataFrame =
    readFiles(snap, snap.adds.map(_.path))

  /** Read from an ALREADY-RESOLVED snapshot — the relation/scan
    * surfaces resolve the log once and share the result across schema,
    * statistics, and the scan itself (one replay per query instead of
    * three, and snapshot isolation for free). */
  private[lake] def readAt(snap: Snapshot): DataFrame = readSnapshot(snap)

  /** Delta's read model: data files hold only the DATA columns;
    * partition columns are attached from the log's partitionValues, not
    * parsed from directories (per-commit staging dirs make the layout
    * inconsistent for Spark's own discovery — and the log is the source
    * of truth anyway). Every read goes through [[TxFileIndex]]: one
    * native scan per partition layout ([[readFiles]]).
    */
  /** Fresh row-id assignment from the watermark: unique and stable are
    * the contract, dense is not (Delta's rule too) —
    * `monotonically_increasing_id` embeds the partition ordinal, so a
    * write's ids may span gaps; the post-write watermark is the
    * MAX assigned + 1, read from the staged files' own `_row_id` stats
    * (computed by [[stageWrite]] like any data column — no extra pass,
    * and row-id point lookups prune for free). */
  private def assignRowIds(df: DataFrame, from: Long): DataFrame =
    df.withColumn(RowIdCol, lit(from) + monotonically_increasing_id())

  private def bumpWatermark(meta: Meta, adds: Seq[Add]): Meta = {
    val hi = adds.flatMap(_.stats.get(RowIdCol)).map(_.max.toLong)
    if (hi.isEmpty) meta
    else meta.copy(rowIdWatermark =
      Some(math.max(meta.nextRowId, hi.max + 1L)))
  }

  /** Post-write identity watermarks: each identity column's next value
    * moves past the write's own staged max — read from the files' stats
    * like the row-id watermark, no extra pass. */
  private def bumpIdentities(meta: Meta, adds: Seq[Add]): Meta =
    if (meta.identities.isEmpty) meta
    else {
      val upd = meta.identities.map { case (c, next) =>
        val hi = adds.flatMap(_.stats.get(meta.physicalOf(c)))
          .map(_.max.toLong)
        c -> (if (hi.isEmpty) next else math.max(next, hi.max + 1L))
      }
      if (upd == meta.identities) meta
      else meta.copy(identityColumns = Some(upd))
    }

  /** Allocate absent identity columns from their watermarks; REFUSE a
    * frame that supplies one (GENERATED ALWAYS, Delta's rule — an
    * explicit value would silently break the uniqueness the declaration
    * promises). */
  private def applyIdentities(df: DataFrame, meta: Meta): DataFrame = {
    refuseIdentityValues(df, meta)
    meta.identities.foldLeft(df) { case (d, (c, next)) =>
      d.withColumn(c, lit(next) + monotonically_increasing_id())
    }
  }

  private def refuseIdentityValues(df: DataFrame, meta: Meta): Unit =
    meta.identities.keys.foreach(c => require(!df.columns.contains(c),
      s"identity column $c is GENERATED ALWAYS — writers must not " +
        "supply it"))

  /** `df` as new rows: fresh `_row_id`s and identity values from the
    * snapshot's watermarks. Under CDF the nondeterministic assignment is
    * MATERIALIZED (localCheckpoint) so the staged files and the captured
    * feed record identical values — unlike a best-effort cache, a lost
    * block fails the job instead of recomputing different ids into the
    * feed. */
  private def freshRows(df: DataFrame, meta: Meta): DataFrame = {
    val fresh = applyIdentities(
      if (meta.tracksRows) assignRowIds(df, meta.nextRowId) else df, meta)
    if (meta.cdf && (meta.tracksRows || meta.identities.nonEmpty))
      fresh.localCheckpoint()
    else fresh
  }

  /** Fill absent DEFAULT columns with their expressions (cast to the
    * declared type); explicit values win — SQL DEFAULT semantics. */
  private def applyDefaults(df: DataFrame, meta: Meta): DataFrame =
    meta.defaults.foldLeft(df) { case (d, (c, sql)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c,
        expr(sql).cast(meta.schema(c).dataType))
    }

  /** `rels` (live at `snap`) as rows of `snap`'s logical schema, with
    * the requested extras ([[FileCol]], [[PosCol]], [[RowIdCol]])
    * appended. Files store PHYSICAL column names (stable across
    * renames); each file's OWN partitionValues — not the table's current
    * partition spec — decide which columns come from the log vs the
    * file bytes: after PARTITION EVOLUTION ([[repartitionBy]]) old- and
    * new-layout files coexist, so the read is ONE [[TxFileIndex]] scan
    * per layout (one in practice). Deletion-vectored files' deleted
    * positions leave through ONE broadcast anti-join on (file,
    * position) — the DV cardinality is writer-capped per file, so the
    * broadcast is bounded; positions decode on the driver from the
    * binary sidecar (or the legacy inline list).
    */
  private def readFiles(snap: Snapshot, rels: Seq[String],
      withFileCol: Boolean = false, withPos: Boolean = false,
      withRowId: Boolean = false): DataFrame = {
    if (rels.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(snap.meta.schema.fields ++
          (if (withFileCol) Seq(StructField(FileCol, StringType)) else Nil) ++
          (if (withPos) Seq(StructField(PosCol, LongType)) else Nil) ++
          (if (withRowId) Seq(StructField(RowIdCol, LongType)) else Nil)))
    val addByPath = snap.adds.map(a => a.path -> a).toMap
    val adds = rels.map(addByPath)
    val dvAdds = adds.filter(_.hasDv)
    val fileCols = withFileCol || withPos || dvAdds.nonEmpty
    val all = adds.groupBy(_.partitionValues.keySet).values.toSeq
      .sortBy(_.head.path)
      .map(TxFileIndex.scan(spark, root, snap, _, fileCols, withRowId))
      .reduce(_ unionAll _)
    val live =
      if (dvAdds.isEmpty) all
      else {
        import spark.implicits._
        val gone = dvAdds.flatMap { a =>
          val f = TxFileIndex.scanPath(spark, root, a)
          dvPositionsOf(a).map(f -> _)
        }.toDF("__dv_file", "__dv_pos")
        all.join(broadcast(gone), col(FileCol) === col("__dv_file") &&
          col(PosCol) === col("__dv_pos"), "left_anti")
      }
    live.drop((if (withFileCol) Nil else Seq(FileCol)) ++
      (if (withPos) Nil else Seq(PosCol)): _*)
  }

  // ---- write plumbing ----

  /** TYPE WIDENING (Delta's typeWidening feature): an incoming column
    * STRICTLY WIDER than the table's — the integral chain
    * byte→short→int→long, float→double, {byte,short,int}→double
    * (exactly representable in a 52-bit mantissa; long is NOT),
    * integral→decimal with room for every source digit,
    * decimal→wider decimal (scale and integer digits never shrink),
    * date→timestamp_ntz — evolves the schema IN PLACE, metadata-only:
    * not one old file is rewritten, because Spark's parquet reader
    * natively upcasts a narrower physical column into the wider
    * declared type (probed, and spec-pinned).
    * Stats keep working unchanged (integrals share stat kind "l",
    * floats "d"); bloom sidecars keep working because hashing is
    * width-normalized ([[TxSkipping.bloomNormType]]). Both protocol halves are
    * stamped — an old READER given the widened schema must upcast and
    * an old WRITER must not land narrow files after a second widening
    * it does not understand, so version-skewed clients refuse loudly.
    * Any non-widening type change still refuses.
    */
  private def widensTo(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // a double's 52-bit mantissa holds any int exactly; longs do
      // NOT qualify (values past 2^53 would silently round)
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      // integral → decimal with room for every digit of the source
      case (ByteType, d: DecimalType)    => d.precision - d.scale >= 3
      case (ShortType, d: DecimalType)   => d.precision - d.scale >= 5
      case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
      case (LongType, d: DecimalType)    => d.precision - d.scale >= 20
      // wider decimal: the scale never shrinks and the integer digits
      // never shrink — every old value re-reads exactly
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      case (DateType, TimestampNTZType) => true
      case _ => false
    }

  private[lake] def evolve(meta: Meta, incoming: StructType,
      preassigned: Map[String, String] = Map.empty): Meta = {
    val cur = meta.schema
    val curNames = cur.fieldNames.toSet
    var widened = List.empty[String]
    val updatedFields = cur.fields.map { cf =>
      incoming.fields.find(_.name == cf.name) match {
        case Some(f) if f.dataType == cf.dataType => cf
        case Some(f) if widensTo(cf.dataType, f.dataType) =>
          // a widening that changes the bloom hash FAMILY (int→double,
          // int→decimal, decimal→wider-decimal, date→timestamp) would
          // turn every pre-widening sidecar into a false-negative
          // machine — the width normalization only spans one family
          require(!meta.bloomCols.contains(cf.name) ||
              TxSkipping.bloomNormType(cf.dataType) ==
                TxSkipping.bloomNormType(f.dataType),
            s"column ${cf.name}: widening ${cf.dataType.simpleString} → " +
              s"${f.dataType.simpleString} crosses the bloom hash " +
              "family and would invalidate its index sidecars — drop " +
              "the bloom index, widen, then re-index")
          widened ::= cf.name
          cf.copy(dataType = f.dataType)
        case Some(f) =>
          throw new IllegalArgumentException(
            s"column ${cf.name}: incoming ${f.dataType} != table " +
              s"${cf.dataType} (only WIDENING changes — byte→short→int→" +
              "long, float→double, {byte,short,int}→double, " +
              "integral→decimal with room, decimal→wider decimal, " +
              "date→timestamp_ntz — evolve in place)")
        case None => cf
      }
    }
    val added = incoming.fields.filterNot(f => curNames(f.name))
    if (added.isEmpty && widened.isEmpty) meta
    else if (added.isEmpty) {
      meta.copy(schemaJson = StructType(updatedFields).json)
        .withReaderFeature("typeWidening")
        .withWriterFeature("typeWidening")
    } else {
      // a re-added column whose identity physical name was RETIRED by a
      // DROP gets a fresh physical name: old files' bytes for the
      // dropped column must read as NULL in the new column, never
      // resurrect (only the winning commit's UUID persists, so the
      // retry loop minting a new one per attempt is harmless)
      val retired = meta.retired.toSet
      val remapped = added.filter(f => retired.contains(f.name)).map(f =>
        f.name -> preassigned.getOrElse(f.name, f.name + "_r" +
          java.util.UUID.randomUUID.toString.take(8)))
      val mapping = meta.columnMapping.getOrElse(Map.empty) ++ remapped
      val m2 = meta.copy(
        schemaJson =
          StructType(updatedFields ++ added.map(_.copy(nullable = true))).json,
        columnMapping =
          if (mapping.isEmpty) meta.columnMapping else Some(mapping))
      if (widened.isEmpty) m2
      else m2.withReaderFeature("typeWidening")
        .withWriterFeature("typeWidening")
    }
  }

  /** Write `df` as new immutable files under `data/<uuid>/` and return
    * their add actions: relative path, partition values (from the
    * directory names), row count and per-column min/max / null count /
    * string HLL, computed by the writer tasks in ONE Spark action. */
  private def stageWrite(df: DataFrame, meta: Meta): Vector[Add] =
    stageWithFeed(df, None, meta)._1

  /** [[stageWrite]] plus, when `changes` is given, the commit's change
    * rows (table columns + `_change_type`) landed flat under
    * `_change_data/<uuid>/` IN THE SAME Spark action (Delta's
    * commit-time CDF design: the committer already has the changed rows
    * in hand, so every later [[readChanges]] just reads them). Both
    * sides store PHYSICAL names, so a feed slice written before a
    * rename reads back under any later logical spelling. Lost-race
    * restagings orphan their files and [[vacuum]] mops them. */
  private def stageWithFeed(df: DataFrame, changes: Option[DataFrame],
      meta: Meta): (Vector[Add], Vector[Cdf]) = {
    def phys(d: DataFrame) = d.select(d.columns.map(c =>
      if (c == "_change_type") col(c)
      else col(c).as(meta.physicalOf(c))).toIndexedSeq: _*)
    def stageDir(kind: String) = new Path(root,
      kind + "/" + java.util.UUID.randomUUID.toString.take(8)).toString
    val present = df.schema.fieldNames.toSet
    val statCols = statColsOf(meta, df.schema)
    // root as a URI PATH (scheme-stripped) — [[relPath]]'s spelling, so
    // the returned rel paths match the hit sets deleteWhere/update build
    val rootAbs = root.toUri.getPath
    val stats = changes match {
      case None =>
        StageWrite.stage(spark, phys(df), stageDir("data"), rootAbs,
          meta.partitionCols, statCols, TxTable.statHllLgK)
      case Some(ch) =>
        StageWrite.stageWithCapture(spark, phys(df), phys(ch),
          stageDir("data"), stageDir("_change_data"), rootAbs,
          meta.partitionCols, statCols, TxTable.statHllLgK)
    }
    val (cdfs, data) = stats.partition(_.cdf)
    (withBloomSidecars(addsFromStats(data, statCols), meta, present),
      cdfs.map(c => Cdf(c.rel, c.rows, bytes = Some(c.bytes))))
  }

  /** The one staging kernel behind every row-rewriting DML verb: lands
    * `rows` (when given) and, on a change-feed table, the `changes`
    * rows in ONE [[stageWithFeed]] action, then returns the commit's
    * entries: the meta entry when `meta` (evolved, protocol-stamped, or
    * watermark-bumped past the landed ids/identities) differs from the
    * snapshot's, `extra` entries, Removes for `doomed`, Adds, Cdf
    * actions, and the Info line marked `cdfCaptured` exactly when the
    * table captures (the marker lets [[readChanges]] trust an empty
    * capture, a pure rewrite, instead of falling back). Each verb keeps
    * its own match logic, gates and rebase choice. */
  private def stageCommit(snap: Snapshot, meta: Meta, op: String,
      doomed: Seq[Add], rows: Option[DataFrame], changes: => DataFrame,
      extra: Seq[LogEntry] = Nil): Seq[LogEntry] = {
    val (adds, cdfs) = stageRows(snap, meta, rows, changes)
    commitEntries(snap, meta, op, doomed, adds, cdfs, extra)
  }

  /** [[stageCommit]]'s staging half, for a verb that must look at the
    * staged files before it can name its Removes. */
  private def stageRows(snap: Snapshot, meta: Meta, rows: Option[DataFrame],
      changes: => DataFrame): (Vector[Add], Vector[Cdf]) =
    if (meta.cdf)
      stageWithFeed(rows.getOrElse(
        readFiles(snap, Nil, withRowId = meta.tracksRows)),
        Some(changes), meta)
    else (rows.fold(Vector.empty[Add])(stageWrite(_, meta)), Vector.empty)

  /** Best-effort delete of staged files no commit will reference (data,
    * their bloom sidecars, change data) — a refused attempt's debris,
    * reclaimed now instead of at the next [[vacuum]]. */
  private def discardStaged(adds: Seq[Add], cdfs: Seq[Cdf]): Unit =
    (adds.flatMap(a => a.path +: a.bloom.toSeq.flatMap(_.values)) ++
      cdfs.map(_.path)).foreach(p =>
      scala.util.Try(fs.delete(new Path(root, p), false)): Unit)

  /** [[stageCommit]]'s entry half: the staged files as one commit. */
  private def commitEntries(snap: Snapshot, meta: Meta, op: String,
      doomed: Seq[Add], adds: Vector[Add], cdfs: Vector[Cdf],
      extra: Seq[LogEntry] = Nil): Seq[LogEntry] = {
    val newMeta = bumpIdentities(
      if (meta.tracksRows) bumpWatermark(meta, adds) else meta, adds)
    (if (newMeta != snap.meta) Seq(LogEntry(meta = Some(newMeta))) else Nil) ++
      extra ++
      doomed.map(a =>
        LogEntry(remove = Some(Remove(a.path, Some(a.rows), a.bytes)))) ++
      adds.map(a => LogEntry(add = Some(a))) ++
      cdfs.map(c => LogEntry(cdf = Some(c))) :+
      LogEntry(info = Some(Info(op, snap.version,
        cdfCaptured = if (meta.cdf) Some(true) else None)))
  }

  /** Add actions from writer-computed stats; `statCols` is the spec the
    * files were staged under ([[TxTable.statColsOf]]). Stats are keyed
    * by PHYSICAL names: the physical name never changes, so a file's
    * stats stay addressable through any sequence of renames. */
  private[lake] def addsFromStats(stats: Vector[StagedStat],
      statCols: Seq[(String, DataType, String)]): Vector[Add] =
    stats.map { s =>
      val st = statCols.zipWithIndex.flatMap { case ((p, _, kind), i) =>
        val mn = s.mins(i)
        val mx = s.maxs(i)
        if (mn == null || mx == null) None
        else Some(p -> Stat(kind, mn, mx, nulls = Some(s.nulls(i)),
          hll =
            if (kind != "s") None
            else Option(s.hlls(i))
              .map(java.util.Base64.getEncoder.encodeToString)))
      }.toMap
      Add(s.rel, s.rows, partValues(s.rel), st, bytes = Some(s.bytes))
    }

  /** Bloom sidecars for indexed columns — the one remaining read-back
    * pass, only on tables that declare bloom indexes (the filter is
    * sized by the LARGEST staged file's rows, unknowable mid-write). */
  private[lake] def withBloomSidecars(baseAdds: Vector[Add], meta: Meta,
      present: Set[String]): Vector[Add] = {
    val indexed = meta.bloomCols.filter { case (c, _) =>
      present.contains(c) && !meta.partitionCols.contains(c)
    }
    if (indexed.isEmpty || baseAdds.isEmpty) baseAdds
    else {
      val maxRows = baseAdds.map(_.rows).max
      indexed.foldLeft(baseAdds) { case (adds, (c, fpp)) =>
        val phys = meta.physicalOf(c)
        val blooms = perFileBlooms(
          adds.map(a => new Path(root, a.path).toString), None,
          phys, maxRows, fpp)
        adds.map(a => blooms.get(a.path).fold(a) { bytes =>
          a.copy(bloom = Some(a.bloom.getOrElse(Map.empty) +
            (phys -> writeBloomSidecar(bytes))))
        })
      }
    }
  }

  /** Commit already-staged files as one atomic APPEND under a
    * writer-transaction watermark — the DSv2 streaming sink's commit
    * half ([[graft.lake.TxStreamingWrite]]): executor tasks landed the
    * parquet through [[StageTaskWriter]] and reported its stats, the
    * caller built the Add actions from them, and this claims the
    * version. Same optimistic loop as
    * [[append]]: a replayed (appId, txnVersion) is a log-enforced
    * no-op, a lost race re-checks against the fresh snapshot, staged
    * orphans of an abandoned attempt are vacuum's to reclaim.
    *
    * `stagedSchema` carries the staged data's LOGICAL names — additive
    * columns evolve the schema exactly like a DataFrame append
    * (`_row_id` must NOT appear in it: the sink strips it, the
    * watermark bump reads it from the adds' stats instead), and
    * `physical` the name each column was staged under: a re-added
    * column keeps the fresh physical name the caller's own
    * [[evolve]] gave it ([[append]]'s `preassigned` rule). A column
    * whose mapping moved since staging (dropped, or re-added by
    * another writer) refuses instead of landing unreadable bytes. The
    * caller enforces the row-level ingest gates (constraints,
    * generated / identity / default / row-id allocation) in its own
    * writer tasks BEFORE any file is staged.
    */
  private[lake] def commitStagedAppend(stagedSchema: StructType,
      physical: Map[String, String], adds: Vector[Add], txn: Txn): Long =
    retrying("streaming append") { _ =>
      val snap = metaSnapshot()._1
      gateWriter(snap.meta)
      if (absorbed(snap, Some(txn))) Some(snap.version)
      else {
        val evolved = evolve(snap.meta, stagedSchema, preassigned = physical)
        stagedSchema.fieldNames.foreach { n =>
          val p = physical.getOrElse(n, n)
          require(evolved.physicalOf(n) == p && !snap.meta.retired.contains(p),
            s"column $n was staged as $p, but the table at $root now " +
              s"stores it as ${evolved.physicalOf(n)} (dropped or re-added " +
              "since the query started) — restart the query")
        }
        // identity and row-id watermarks move past the staged max (from
        // the files' own stats — the DSv2 sink allocates identity values
        // and `_row_id`s in its writer tasks, and the NEXT epoch's
        // factory reads this bump)
        val merged = bumpWatermark(bumpIdentities(evolved, adds), adds)
        val metaEntry =
          if (merged != snap.meta) Seq(LogEntry(meta = Some(merged)))
          else Nil
        val entries = metaEntry ++ adds.map(a => LogEntry(add = Some(a))) :+
          LogEntry(txn = Some(txn)) :+
          LogEntry(info = Some(Info("STREAMING UPDATE", snap.version)))
        val v = tryClaim(snap.version, entries)
        v.foreach(_ => maybeAutoCompact(merged))
        v
      }
    }

  /** Per-file bloom filters in ONE distributed aggregation: hash the
    * column, group by `_metadata.file_path`, aggregate with Catalyst's
    * native BloomFilterAggregate ([[graft.functions.BloomAgg]]) — the
    * serialized filters come back as one row per file (bytes bounded by
    * the bits budget), never a job per file. `schemaOpt` carries the
    * PHYSICAL data schema for live-set backfills (files may predate an
    * additive evolution); staged reads infer (the staging dir is
    * self-consistent). Sized for the LARGEST file at `fpp` — smaller
    * files get a lower rate, never a higher one.
    */
  private def perFileBlooms(absPaths: Seq[String],
      schemaOpt: Option[StructType], phys: String, maxRows: Long,
      fpp: Double): Map[String, Array[Byte]] = {
    if (absPaths.isEmpty || maxRows <= 0) return Map.empty
    graft.functions.BloomAgg.register(spark)
    val items = math.max(1L, maxRows)
    val bits = org.apache.spark.util.sketch.BloomFilter
      .create(items, fpp).bitSize()
    val reader = schemaOpt.fold(spark.read)(s => spark.read.schema(s))
    val pdf = reader.parquet(absPaths: _*)
    // width-normalized hash (see [[TxSkipping.bloomNormType]]):
    // sidecars stay valid across a type widening
    val hashCol = pdf.schema.find(_.name == phys)
      .map(f => col(phys).cast(TxSkipping.bloomNormType(f.dataType)))
      .getOrElse(col(phys))
    pdf
      .select(col("_metadata.file_path").as("__f"),
        xxhash64(hashCol).as("__h"))
      .groupBy(col("__f"))
      .agg(expr(s"bloom_filter_agg(__h, CAST($items AS BIGINT), " +
        s"CAST($bits AS BIGINT))").as("__b"))
      .collect()
      .map(r => relPath(r.getAs[String]("__f")) -> r.getAs[Array[Byte]]("__b"))
      .toMap
  }

  /** Persist a serialized bloom filter as an immutable
    * `_bloom/<uuid>.bin` sidecar; returns its root-relative path. */
  private def writeBloomSidecar(bytes: Array[Byte]): String = {
    val rel = "_bloom/" + java.util.UUID.randomUUID.toString.take(12) + ".bin"
    val p = new Path(root, rel)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    rel
  }

  /** Persist a merged deletion vector as an immutable `_dv/<uuid>.bin`
    * sidecar (delta-varint, [[TxLog.encodeDv]]); returns its
    * root-relative path for the Add entry. */
  private def writeDvSidecar(sorted: Seq[Long]): String = {
    val rel = "_dv/" + java.util.UUID.randomUUID.toString.take(12) + ".bin"
    val p = new Path(root, rel)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(TxLog.encodeDv(sorted)) finally out.close()
    rel
  }

  /** Resolve a file's deletion-vector positions: binary sidecar first
    * (clone-absolutized paths pass through like data paths), legacy
    * inline list otherwise. Cap-bounded driver metadata. */
  private def dvPositionsOf(a: Add): Seq[Long] = a.dvFile match {
    case Some(rel) =>
      val p = new Path(root, rel)
      val in = fs.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        TxLog.decodeDv(bos.toByteArray)
      } finally in.close()
    case None => a.dvPositions
  }

  /** Relative under this root for own files; pass-through absolute for
    * files a shallow clone references outside it (their Add.path is
    * stored absolute, so the round-trip matches either way). */
  private[lake] def relPath(abs: String): String = {
    val a = new Path(new java.net.URI(abs)).toUri.getPath
    val r = root.toUri.getPath.stripSuffix("/")
    if (a.startsWith(r + "/")) a.stripPrefix(r + "/") else a
  }

  private[lake] def partValues(rel: String): Map[String, String] =
    rel.split('/').iterator.filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> unescape(seg.substring(i + 1))
      }.toMap

  /** Spark escapes `%`, `:`, `=` … in partition dir names as %xx
    * (Hive's escapePathName); reverse it so [[TxLog.Add]] carries the
    * logical value, not the dir spelling. */
  private def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

object TxTable {
  /** lgK of the per-file string-column HLL sketch in Add stats: 512
    * registers ≈ 3–4 % relative error — plenty for CBO join costing —
    * at ~300 base64 bytes per column per file in the log. */
  val statHllLgK = 9

  private[lake] def statKind(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("l")
    case FloatType | DoubleType                        => Some("d")
    case StringType                                    => Some("s")
    case _                                             => None
  }

  /** The stat-column spec a staged write computes per file: physical
    * name, STAGED type, stat kind, for every stat-kinded non-partition
    * table column the staged data carries (`staged`: logical names plus
    * `_row_id`). The type is the staged column's, not the table's: a
    * stream may land a wider type the commit then evolves the table
    * to, and the writer reads each value under this type. `_row_id`
    * (never renamed, not in the logical schema) rides along when
    * present: its max feeds the watermark bump, its min/max prune
    * row-id point lookups. */
  private[lake] def statColsOf(meta: TxLog.Meta, staged: StructType)
      : Seq[(String, DataType, String)] = {
    val types = staged.fields.map(f => f.name -> f.dataType).toMap
    meta.schema.fieldNames.toSeq
      .filterNot(meta.partitionCols.contains)
      .flatMap(c => types.get(c).flatMap(dt =>
        statKind(dt).map(k => (meta.physicalOf(c), dt, k)))) ++
      types.get("_row_id").map(dt => ("_row_id", dt, "l"))
  }

  /** The distinct [[TxFileIndex.FileCol]] values of `rows`, distinct
    * per task and merged on the driver: one job, no exchange (the rows
    * stream through `queryExecution.toRdd`, as [[StageWrite]] reads its
    * own). */
  private[lake] def fileSet(rows: DataFrame): Set[String] =
    rows.sparkSession.sparkContext.runJob(
      rows.select(FileCol).queryExecution.toRdd,
      (it: Iterator[InternalRow]) =>
        it.map(_.getUTF8String(0).toString).toSet.toArray)
      .iterator.flatten.toSet

  /** `rows`' [[TxFileIndex.PosCol]]s per [[TxFileIndex.FileCol]],
    * grouped per task and concatenated on the driver: one job, no
    * exchange. */
  private[lake] def filePositions(rows: DataFrame)
      : Map[String, Array[Long]] =
    rows.sparkSession.sparkContext.runJob(
      rows.select(FileCol, PosCol).queryExecution.toRdd,
      (it: Iterator[InternalRow]) =>
        it.map(r => r.getUTF8String(0).toString -> r.getLong(1)).toArray
          .groupMap(_._1)(_._2).toArray)
      .iterator.flatten.toSeq.groupMapReduce(_._1)(_._2)(_ ++ _)

  /** Validate a TBLPROPERTIES map WITHOUT touching any table — the
    * shared gate for `SET TBLPROPERTIES` and `CREATE TABLE ...
    * TBLPROPERTIES` (the catalog validates BEFORE creating, so an
    * invalid value never leaves a half-registered table behind). An
    * unknown `txlog.*` key refuses: a typo'd semantic key must not
    * silently become inert user metadata. Everything else (comments,
    * owners, pipeline tags) is accepted verbatim. */
  def validateTblProperties(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      if (k.startsWith("txlog.")) {
        require(TxLog.semanticProps.contains(k),
          s"unknown txlog.* property $k (engine keys: " +
            s"${TxLog.semanticProps.toSeq.sorted.mkString(", ")}) — " +
            "user metadata must not squat the semantic namespace")
        k match {
          case TxLog.propAppendOnly | TxLog.propAutoCompact =>
            require(v.trim.equalsIgnoreCase("true") ||
                v.trim.equalsIgnoreCase("false"),
              s"$k must be true or false, got '$v'")
          case TxLog.propEnableCdf =>
            require(v.trim.equalsIgnoreCase("true"),
              s"$k accepts only 'true': a feed consumers already " +
                "tail must not silently stop (Delta refuses the " +
                "downgrade too)")
          case TxLog.propRetentionHours =>
            require(scala.util.Try(v.trim.toLong).toOption.exists(_ >= 0),
              s"$k must be a non-negative hour count, got '$v'")
          case _ => // minFiles / minRows
            require(scala.util.Try(v.trim.toLong).toOption.exists(_ > 0),
              s"$k must be a positive count, got '$v'")
        }
      }
    }

  /** Auto-compaction conf keys — see [[TxTable.maybeAutoCompact]]. */
  val autoCompactKey = "spark.graft.lake.autoCompact"
  val autoCompactMinFilesKey = "spark.graft.lake.autoCompact.minFiles"
  val autoCompactMinRowsKey = "spark.graft.lake.autoCompact.minRows"
}
