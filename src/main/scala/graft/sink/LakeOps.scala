package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table maintenance + snapshot reads over the commit log — the lake
  * operations an Iceberg user relies on, re-expressed over the
  * emulated log (SURVEY.md §7 sink note):
  *
  *  - snapshot-isolated reads and time travel (`readTable` /
  *    `readSnapshot`) resolve the live file set through the log, never
  *    the directory listing;
  *  - `compact` rewrites the current live set into one file per
  *    partition directory (the antidote to the reference's
  *    file-per-(input × partition) fragmentation, Q6) as a `rewrite`
  *    snapshot — readers at older snapshots still see the old files;
  *  - `expireSnapshots` deletes data files unreachable from the kept
  *    snapshots (the GC half of Iceberg's `expire_snapshots`).
  */
object LakeOps {

  /** Snapshot-file read with ADD-COLUMN schema-evolution support, the
    * shape every lake read here uses. `mergeSchema=true` is the
    * semantic contract (a snapshot's schema is the union of its files'
    * schemas) — but Spark implements it as `mergeSchemasInParallel`, a
    * full Spark JOB over the footers launched during ANALYSIS of every
    * such read (plus one Hadoop-conf gzip per closure), even for a
    * 2-file table. Profiled r18 (jstack of the flush row's driver):
    * those analysis jobs were a visible slice of every lake scenario.
    * The footers are KB-sized LOCAL files, so decide driver-side
    * instead: when every live footer declares the SAME schema (every
    * read outside the schema-evolution scenarios), a plain read —
    * whose data schema Spark infers from one footer, driver-side, no
    * job — is byte-identical to the merged read; only genuinely mixed
    * footer sets pay the mergeSchema job. Iceberg proper resolves this
    * from table metadata in O(1); this is the emulation's equivalent.
    */
  private[graft] def mergedRead(spark: SparkSession, tableDir: String,
      absFiles: Seq[String]): DataFrame = {
    val base = spark.read.option("basePath", tableDir)
    if (footersAgree(absFiles)) base.parquet(absFiles: _*)
    else base.option("mergeSchema", "true").parquet(absFiles: _*)
  }

  /** True iff every file's parquet footer declares the same schema.
    * Driver-side footer reads; any unreadable footer returns false so
    * the caller falls back to the engine's own merged read and its
    * error surface. Two amortizations keep this cheaper than the job
    * it replaces: ONE shared Hadoop Configuration (constructing one
    * per file re-parses the XML config set — measured ~10 ms each,
    * which made the first cut of this check a net LOSS), and a
    * process-wide footer-schema cache — published data files are
    * immutable and UUID-named (never rewritten in place; commits only
    * add or drop paths), so a path's footer schema is a constant.
    */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  private def footersAgree(absFiles: Seq[String]): Boolean =
    try {
      val schemas = absFiles.map { f =>
        footerSchemaCache.computeIfAbsent(f, { path =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path), footerConf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getFileMetaData.getSchema.toString
          finally r.close()
        })
      }
      schemas.distinct.size <= 1
    } catch { case _: Exception => false }

  /** Current table state (snapshot-isolated: ignores files on disk that
    * are not in the live set). A table with no snapshot yet reads like
    * an emptied one, see [[readSnapshot]].
    */
  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    readLive(spark, tableDir, GraftLog.liveFiles(tableDir))

  /** Time travel: the table as of `snapshotId`.
    *
    * `mergeSchema` makes ADD-COLUMN schema evolution observable the way
    * Iceberg exposes it: the snapshot's schema is the union of its
    * files' schemas, and rows written before the column existed read as
    * null — while a snapshot that predates the column keeps the narrow
    * schema (time travel travels the schema too). Iceberg resolves the
    * schema from table metadata in O(1); this emulation pays a footer
    * read per file instead — footers are KB-sized and read in parallel,
    * but a real `IcebergWriter` behind the [[LakeWriter]] seam would
    * carry the schema in the log, not the files.
    */
  def readSnapshot(spark: SparkSession, tableDir: String, snapshotId: Long): DataFrame =
    readLive(spark, tableDir, GraftLog.liveFiles(tableDir, Some(snapshotId)))

  private def readLive(spark: SparkSession, tableDir: String, live: Seq[String]): DataFrame =
    // a full-table DELETE legitimately leaves a live set of zero files;
    // parquet() with no paths cannot infer a schema, so surface the
    // empty table as a 0-column empty frame (count/isEmpty work; a
    // schema-carrying log — real Iceberg — would keep the columns)
    if (live.isEmpty) spark.emptyDataFrame
    // basePath keeps Hive partition columns when reading explicit files
    else mergedRead(spark, tableDir, live.map(f => s"$tableDir/$f"))

  /** Incremental append scan: rows committed AFTER snapshot
    * `fromExclusive` up to and including `toInclusive` — Iceberg's
    * incremental-from-snapshot read, the consumer side of a CDC
    * pipeline (downstream jobs process only the delta, never rescan
    * history — the read-side twin of q_incr_agg's mergeable-state
    * refresh). Defined over APPEND-ONLY ranges exactly as Iceberg
    * defines it: a rewrite/overwrite/delete inside the range re-binds
    * rows to files, so "files added in range" stops meaning "rows added
    * in range" — refuse loudly rather than emit wrong deltas. Ranges
    * that start at or after the rewrite work again (its appends are
    * deltas as usual).
    */
  def readIncremental(spark: SparkSession, tableDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val recs = GraftLog.records(tableDir)
      .filter(r => r.snapshotId > fromExclusive && r.snapshotId <= toInclusive)
    require(recs.nonEmpty, s"no snapshots in ($fromExclusive, $toInclusive]")
    val bad = recs.filter(_.op != "append")
    require(bad.isEmpty, "incremental read is append-only; range contains " +
      bad.map(r => s"${r.snapshotId}:${r.op}").mkString(", "))
    val files = recs.flatMap(_.files).map(f => s"$tableDir/$f")
    mergedRead(spark, tableDir, files)
  }

  /** Row-level CHANGELOG between two snapshots — the CDC view Iceberg
    * exposes as `create_changelog_view`: a key-joined diff of the two
    * live row sets, each row tagged `inserted` / `deleted` / `updated`
    * / `unchanged`. Works across ANY operation mix (unlike
    * [[readIncremental]], which is append-only by contract): rewrites
    * re-bind rows to files but do not change row content, so a
    * content-level diff is immune to them — compaction between the
    * snapshots yields all-`unchanged` (spec-asserted invariant).
    *
    * Scale shape: one shuffle of each snapshot's live rows on the key
    * (the join), non-key comparison via a null-safe struct equality —
    * no per-column join conditions, no driver-side anything. `keyCols`
    * must identify rows in both snapshots (duplicate keys would
    * cross-product in the join, as in any MERGE).
    */
  def diffSnapshots(spark: SparkSession, tableDir: String,
      fromSnapshot: Long, toSnapshot: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val a0 = readSnapshot(spark, tableDir, fromSnapshot)
    val b0 = readSnapshot(spark, tableDir, toSnapshot)
    // an empty snapshot (post full-table DELETE) reads as a 0-column
    // frame — borrow the other endpoint's schema so the changelog
    // degenerates correctly (all-inserted / all-deleted) instead of
    // tripping the schema-change guard (review fix r5); both empty →
    // the empty changelog, same 0-column convention as readSnapshot
    if (a0.columns.isEmpty && b0.columns.isEmpty) return spark.emptyDataFrame
    val a = if (a0.columns.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        b0.schema)
    else a0
    val b = if (b0.columns.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        a0.schema)
    else b0
    val nonKey = a.columns.filterNot(keyCols.contains).toSeq
    require(nonKey.sorted == b.columns.filterNot(keyCols.contains).toSeq.sorted,
      "diffSnapshots across a schema change: align columns first")
    val left = a.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("_before"): _*)
    val right = b.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("_after"): _*)
    left.join(right, keyCols, "full_outer")
      .withColumn("change",
        when(col("_before").isNull, lit("inserted"))
          .when(col("_after").isNull, lit("deleted"))
          .when(!(col("_before") <=> col("_after")), lit("updated"))
          .otherwise(lit("unchanged")))
  }

  /** Roll the table back to snapshot `toSnapshotId` — Iceberg's
    * `rollback_to_snapshot`: committed as a NEW `rewrite` snapshot
    * whose live set is the target snapshot's (history is append-only;
    * a rollback is a forward commit that restores old content, so the
    * rolled-back-over snapshots stay readable until expiry and the
    * operation is itself roll-back-able). Requires the target snapshot
    * to exist; returns the new snapshot's commit info.
    */
  def rollback(tableDir: String, toSnapshotId: Long): CommitInfo = {
    val recs = GraftLog.records(tableDir)
    require(recs.exists(_.snapshotId == toSnapshotId),
      s"no snapshot $toSnapshotId in $tableDir")
    // restoring old content is content-dependent by definition — abort
    // if anything commits between planning and publish
    val baseId = recs.map(_.snapshotId).max
    val files = GraftLog.liveFiles(tableDir, Some(toSnapshotId))
    // rows = TOTAL rows of the restored live set (the convention every
    // full-set op — compact/overwrite/delete — uses), not the target
    // snapshot's own delta: a rollback to an append-on-top-of-appends
    // restores all of them, and the record must describe what its file
    // set holds (advisor finding r5). Same fold as liveFiles.
    val rows = GraftLog.records(tableDir)
      .filter(_.snapshotId <= toSnapshotId)
      .foldLeft(0L) { (acc, r) =>
        r.op match {
          case "rewrite" | "overwrite" | "delete" => r.rows
          case _                                  => acc + r.rows
        }
      }
    val rec = GraftLog.commitReplacing(tableDir, "rewrite", rows, files,
      Seq.empty, baseId, carryAppends = false)
    CommitInfo(rec.snapshotId, rec.files, rows)
  }

  /** Bin-pack the live set: one file per partition directory, committed
    * as a `rewrite` snapshot. Same rows, fewer files; old snapshots
    * remain readable until expiry. An empty live set (no snapshot yet,
    * or after a full-table delete) is the no-op `CommitInfo(0, Seq.empty,
    * 0)` (the Q10 rule: no empty snapshots).
    */
  def compact(spark: SparkSession, tableDir: String): CommitInfo = {
    // plan against a FIXED base snapshot; commitReplacing validates the
    // log hasn't moved past it (concurrent appends are carried over —
    // sound for a content-neutral rewrite; a concurrent replacing
    // commit aborts with ConcurrentModificationException for re-run)
    val baseId = GraftLog.records(tableDir).map(_.snapshotId).maxOption.getOrElse(0L)
    val live = GraftLog.liveFiles(tableDir, Some(baseId))
    if (live.isEmpty) return CommitInfo(0, Seq.empty, 0)
    val partitionCols = live.flatMap(_.split("/").dropRight(1).map(_.takeWhile(_ != '=')))
      .distinct
    val df0 = readLive(spark, tableDir, live)
    // render partition values back to strings (they were path-rendered
    // on write; partition inference may have re-typed them). No
    // coalesce(1): writeFiles' hash repartition already yields one file
    // per partition directory while the rewrite runs on every write
    // task — a single-task funnel here would be the scale bottleneck of
    // the whole maintenance op.
    val df = partitionCols.foldLeft(df0)((d, c) => d.withColumn(c, d(c).cast("string")))
    val (files, rows) = HiveParquetWriter.writeFiles(df, partitionCols, tableDir)
    val rec = GraftLog.commitReplacing(tableDir, "rewrite", rows,
      files.sorted, Seq.empty, baseId, carryAppends = true)
    CommitInfo(rec.snapshotId, rec.files, rec.rows)
  }

  /** Copy-on-write MERGE (the observable semantics of Iceberg's
    * `MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    * INSERT`): every key of `updates` replaces the table's existing row
    * with that key, and unmatched keys are inserted. The rewrite scope
    * is the TOUCHED PARTITIONS only — files of partitions no update
    * row lands in carry over into the new snapshot byte-identical
    * (verified by relative path in LakeOpsSpec), which is what keeps a
    * point update on a 100 TB table from rewriting 100 TB. Committed as
    * an `overwrite` snapshot; readers at older snapshots still see the
    * pre-merge rows (snapshot isolation across content changes, not
    * just compaction).
    *
    * Contract: `updates` has the table's schema with partition columns
    * materialized as strings rendered exactly as the write path renders
    * the directory (the [[LakeWriter.append]] contract); `keyCols` are
    * unique within `updates`; and the key → partition mapping is STABLE
    * — an update must carry the key's existing partition value (true by
    * construction when the partition is a transform of the key, the
    * reference's own layout, Q2-Q4). A partition-moving update would
    * leave the old row alive in the untouched partition — matching keys
    * GLOBALLY would mean scanning every partition per merge, which is
    * exactly what partition-scoped rewrite exists to avoid; Iceberg's
    * copy-on-write MERGE leans on the same pruning when the match
    * predicate covers the partition key. The touched-partition list is
    * collected
    * to the driver — it is bounded by the partitions the update batch
    * touches (a point-update workload touches few), never by table
    * size. A delete composes as: upsert the survivors of the touched
    * keys' partitions, or run a full `rewrite` for bulk erasure.
    * Returns the no-op `CommitInfo(0, Seq.empty, 0)` for an empty
    * update batch (the Q10 rule: no empty snapshots).
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
      keyCols: Seq[String], partitionCols: Seq[String],
      sources: Seq[String] = Seq.empty): CommitInfo = {
    import org.apache.spark.sql.functions.col
    val up = partitionCols.foldLeft(updates)((d, c) => d.withColumn(c, d(c).cast("string")))
    val touched: Set[String] = up.select(partitionCols.map(col): _*).distinct()
      .collect().map { r =>
        partitionCols.indices.map(i => renderDir(partitionCols(i), r.get(i)))
          .mkString("/")
      }.toSet
    if (touched.isEmpty) return CommitInfo(0, Seq.empty, 0)
    // content-dependent rewrite: plan against a fixed base snapshot and
    // let commitReplacing ABORT (ConcurrentModificationException) if any
    // commit lands meanwhile — a carried-over concurrent append could
    // contain a merge key this upsert already decided about
    val baseId = GraftLog.records(tableDir).map(_.snapshotId).maxOption.getOrElse(0L)
    val live = GraftLog.liveFiles(tableDir, Some(baseId))
    val (touchedFiles, carried) =
      live.partition(f => touched.exists(p => f.startsWith(p + "/")))
    val merged =
      if (touchedFiles.isEmpty) up
      else {
        // mergeSchema: a touched partition may hold files from before an
        // ADD-COLUMN evolution — a single-footer schema would silently
        // drop (or crash the union on) the added column
        val cur0 = mergedRead(spark, tableDir,
          touchedFiles.map(f => s"$tableDir/$f"))
        // partition inference may re-type the directory values; string
        // them back so the anti-join/union/write see one schema (same
        // normalization as compact)
        val cur = partitionCols.foldLeft(cur0)((d, c) => d.withColumn(c, d(c).cast("string")))
        // whole-row replacement semantics: an update row that omits an
        // evolved column writes null there (allowMissingColumns), the
        // same null a fresh insert would carry
        cur.join(up.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
          .unionByName(up, allowMissingColumns = true)
      }
    // Record.rows = rows written in the rewrite scope, as counted by the
    // write itself; carried files keep their original rows
    val (files, rows) = HiveParquetWriter.writeFiles(merged, partitionCols, tableDir)
    val rec = GraftLog.commitReplacing(tableDir, "overwrite", rows,
      (carried ++ files).sorted, sources, baseId, carryAppends = false)
    CommitInfo(rec.snapshotId, rec.files, rows)
  }

  /** Directory-name rendering matching the WRITE path exactly:
    * Spark's partitionBy escapes special characters (/, =, %, …) via
    * escapePathName, and writeFiles renames the null dir to `=null` —
    * a raw-value prefix would never match an escaped directory and the
    * stale row would silently survive a merge (review finding).
    */
  private def renderDir(colName: String, v: Any): String =
    if (v == null) s"$colName=null"
    else s"$colName=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(v.toString)

  /** Copy-on-write DELETE (the observable semantics of Iceberg's
    * `DELETE FROM t WHERE p` in copy-on-write mode — the GDPR/forget
    * primitive of a lake table): rows where `predicate` evaluates TRUE
    * are removed; NULL predicate rows survive (SQL DELETE semantics).
    *
    * The rewrite scope is the partitions that actually CONTAIN a
    * matching row: one predicate-filtered scan finds them (an Iceberg
    * catalog prunes the same scan with file stats before reading), the
    * touched-partition list collected to the driver is bounded by the
    * matched partitions (a point-delete touches one), and every file of
    * an untouched partition carries into the new snapshot
    * byte-identical — a targeted delete on a 100 TB table rewrites only
    * the partitions it hits. Committed as a `delete` snapshot; readers
    * at older snapshots still see the pre-delete rows, which is what
    * makes expireSnapshots the actual point of erasure for compliance
    * (documented Iceberg behavior: COW delete + snapshot expiry).
    *
    * Returns `CommitInfo(snapshotId, files, rowsDeleted)`; a predicate
    * matching nothing is a no-op `CommitInfo(0, Seq.empty, 0)` (the Q10
    * rule: no empty snapshots).
    */
  def delete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String]): CommitInfo = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // content-dependent rewrite: fixed base snapshot, abort on any
    // concurrent commit (an appended row could match the predicate)
    val baseId = GraftLog.records(tableDir).map(_.snapshotId).maxOption.getOrElse(0L)
    val live = GraftLog.liveFiles(tableDir, Some(baseId))
    if (live.isEmpty) return CommitInfo(0, Seq.empty, 0)
    val hit = coalesce(predicate, lit(false))
    def readNorm(files: Seq[String]): DataFrame = {
      val raw = mergedRead(spark, tableDir, files.map(f => s"$tableDir/$f"))
      partitionCols.foldLeft(raw)((d, c) => d.withColumn(c, d(c).cast("string")))
    }
    val touched: Set[String] = readNorm(live).filter(hit)
      .select(partitionCols.map(col): _*).distinct()
      .collect().map { r =>
        partitionCols.indices.map(i => renderDir(partitionCols(i), r.get(i)))
          .mkString("/")
      }.toSet
    if (touched.isEmpty) return CommitInfo(0, Seq.empty, 0)
    val (touchedFiles, carried) =
      live.partition(f => touched.exists(p => f.startsWith(p + "/")))
    val cur = readNorm(touchedFiles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val before = cur.count()
      val survivors = cur.filter(not(hit))
      val (files, kept) = HiveParquetWriter.writeFiles(survivors, partitionCols, tableDir)
      val rec = GraftLog.commitReplacing(tableDir, "delete", kept,
        (carried ++ files).sorted, Seq.empty, baseId, carryAppends = false)
      CommitInfo(rec.snapshotId, rec.files, before - kept)
    } finally cur.unpersist()
  }

  /** Delete data files unreachable from the newest `keepLast`
    * snapshots. Returns the deleted relative paths. Files under a
    * `_`-prefixed top-level directory are never table data: an
    * in-flight append's `_staging_<uuid>/` and the `_graft_log` belong
    * to their writers.
    */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[String] = {
    val recs = GraftLog.records(tableDir)
    if (recs.isEmpty) return Seq.empty
    val keptIds = recs.map(_.snapshotId).sorted.takeRight(keepLast)
    val reachable = keptIds.flatMap(id => GraftLog.liveFiles(tableDir, Some(id))).toSet
    val root = Paths.get(tableDir)
    import scala.jdk.CollectionConverters._
    // `_` dirs are skipped before the walk: a staging dir may vanish mid-walk
    val onDisk = Files.list(root).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("_"))
      .flatMap(top => Files.walk(top).iterator().asScala)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString.replace("\\", "/")).toSeq
    val doomed = onDisk.filterNot(reachable)
    doomed.foreach(f => Files.deleteIfExists(root.resolve(f)))
    doomed.sorted
  }

  /** Per-live-file [min, max] of a LONG column, from the parquet
    * FOOTERS — the emulated form of the column stats an Iceberg
    * manifest carries per data file. `None` when the file has no
    * non-null stats for the column (reader must include it). Footers
    * are KB-sized; a real `IcebergWriter` behind the [[LakeWriter]]
    * seam would record these at COMMIT time in the manifest and pay
    * zero reads here.
    */
  def fileStats(tableDir: String, column: String): Seq[(String, Option[(Long, Long)])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    GraftLog.liveFiles(tableDir).map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$tableDir/$f"), footerConf)
      val reader = ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val ranges = reader.getFooter.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .flatMap { c =>
              // fail fast on a non-INT64 column — a silent
              // ClassCastException from genericGetMin would otherwise
              // surface deep inside the footer loop
              val tn = c.getPrimitiveType.getPrimitiveTypeName
              require(tn == PrimitiveTypeName.INT64,
                s"fileStats: column '$column' is $tn, only INT64 (long) is supported")
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
            }
        }
        f -> (if (ranges.isEmpty) None
              else Some((ranges.map(_._1).min, ranges.map(_._2).max)))
      } finally reader.close()
    }
  }

  /** Stats-pruned scan: read only the live files whose footer [min,
    * max] for `column` INTERSECTS [lo, hi] (files without stats are
    * conservatively included), then apply the row-level filter on what
    * remains — manifest-style FILE SKIPPING, the read-path half of
    * Iceberg's min/max pruning. Purely physical: the returned frame
    * equals `readTable(...).filter(lo ≤ column ≤ hi)` by construction
    * — INCLUDING the schema: survivors read with mergeSchema (a
    * schema-evolved live set must not lose an added column to one
    * arbitrary footer), and a zero-file selection returns an empty
    * frame with the FULL-TABLE schema (derived from the live set the
    * stats pass already enumerated), so callers need no 0-column
    * special case. Returns (frame, scanned, live) so callers can
    * observe the pruning ratio.
    */
  def readPruned(spark: SparkSession, tableDir: String, column: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val stats = fileStats(tableDir, column)
    val keep = stats.collect {
      case (f, None) => f
      case (f, Some((mn, mx))) if mx >= lo && mn <= hi => f
    }
    val df =
      if (stats.isEmpty) spark.emptyDataFrame // empty TABLE: no schema to carry
      else if (keep.isEmpty)
        // full prune: an empty frame with the table schema, so the
        // physical-only contract holds for the empty case too
        mergedRead(spark, tableDir, stats.map(f => s"$tableDir/${f._1}"))
          .filter(org.apache.spark.sql.functions.lit(false))
      else mergedRead(spark, tableDir, keep.map(f => s"$tableDir/$f"))
        .filter(col(column) >= lo && col(column) <= hi)
    (df, keep.size, stats.size)
  }
}
