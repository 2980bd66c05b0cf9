package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture application: turn a changelog (insert/update/delete
  * events with a monotone sequence) into a current snapshot or an SCD-2
  * validity-interval history — the lakehouse MERGE/upsert surface a
  * 100 TB curation pipeline needs once its inputs arrive as change
  * streams instead of full re-exports (reference analogue: gis-etl
  * re-ingests whole extracts per run, `east_asia.py:145`; this is the
  * incremental twin).
  *
  * Scale shape, deliberately asymmetric: the changelog is orders of
  * magnitude smaller than the snapshot, so [[applyChangelog]] windows
  * ONLY the changelog (latest op per key — a shuffle of the small side)
  * and then resolves against the snapshot with a single full-outer
  * equality join on the key. The big side is shuffled once on the key it
  * would be bucketed/partitioned by in a real lake (with bucketed inputs
  * Catalyst elides that exchange entirely); it never enters a window and
  * is never re-sorted. [[scd2]] touches only the changelog: one keyed
  * window for the `lead` that closes each interval.
  */
object Changelog {

  /** Latest change per key: row_number over (seq desc, op desc) — op is
    * the deterministic tiebreak so equal-seq I/U vs D resolves stably
    * ('U' > 'I' > 'D' lexicographically reversed means D loses ties). */
  private def latestPerKey(changes: DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    changes.withColumn("_cdc_rn", row_number().over(w))
      .filter(col("_cdc_rn") === 1).drop("_cdc_rn")
  }

  /** Apply a changelog to a snapshot (MERGE INTO semantics).
    *
    * `changes` must carry every snapshot column plus `seqCol` (monotone
    * per key: commit LSN, binlog offset, event time) and `opCol` with
    * values 'I' | 'U' | 'D'. Per key the highest-`seqCol` change wins
    * (ties break toward the later op letter, so make seqs unique per key
    * for full determinism); a winning 'D' removes the key, a winning
    * 'I'/'U' replaces (or inserts) the row, keys without changes pass
    * through. Output schema = snapshot schema. */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], seqCol: String, opCol: String): DataFrame = {
    val dataCols = snapshot.columns.filterNot(keyCols.contains)
    require(dataCols.nonEmpty || keyCols.nonEmpty, "empty snapshot schema")
    val latest = latestPerKey(
      changes.select((keyCols ++ dataCols).map(col) :+
        col(seqCol).as("_cdc_seq") :+ col(opCol).as("_cdc_op"): _*),
      keyCols, "_cdc_seq", "_cdc_op")
    val s = snapshot.as("s")
    val c = latest.as("c")
    val resolved = s.join(c, keyCols, "full_outer")
      .filter(col("_cdc_op").isNull || col("_cdc_op") =!= "D")
    val out = keyCols.map(col) ++ dataCols.map { dc =>
      when(col("_cdc_op").isNotNull, col(s"c.$dc"))
        .otherwise(col(s"s.$dc")).as(dc)
    }
    resolved.select(out: _*)
  }

  /** Apply a changelog to a hive-partitioned parquet lake, rewriting ONLY
    * the partitions the changelog touches — the targeted-rewrite shape
    * that makes CDC apply affordable on a 100 TB lake (a day's changes
    * touch a handful of partitions; everything else is untouched bytes,
    * not recomputed bytes).
    *
    * Steps: (1) the affected partition values are the changelog's
    * distinct `partCol`s (a bounded driver collect — one value per
    * touched partition); (2) ONLY those partitions are read back
    * (`partCol isin ...` prunes at planning time — PartitionFilters, no
    * other directory is opened); (3) [[applyChangelog]] resolves them
    * against the changes; (4) results land in a staging directory and
    * each partition swaps in rename-aside: the old directory moves to a
    * dot-prefixed tombstone (invisible to Spark's path filter), the
    * staged one ATOMIC_MOVEs into place, and only then is the tombstone
    * deleted. Partition leaves use Spark's own Hive path escaping, so
    * values containing `=`/`/`/`%` etc. address the directories
    * `partitionBy` actually wrote. Partitions whose rows were all
    * deleted swap to an empty directory honestly.
    *
    * Consistency posture, stated honestly: this is a SINGLE-WRITER
    * directory lake. A crash can no longer lose the partition (the old
    * content survives as the tombstone until the replacement is in
    * place, and the NEXT apply restores or finishes any stale tombstone
    * it finds before planning), but a concurrent reader listing the
    * directory between the two renames can still plan against a missing
    * partition — one syscall of exposure, not a guarantee. Readers
    * needing old-or-new atomicity use [[applyToLakeVersioned]], where
    * visibility flips on a [[TableLog]] commit instead of directory
    * state.
    *
    * Returns the affected partition values (as strings). Local-fs
    * renames; object-store deployments swap manifests instead — the
    * partition-targeting logic is the part that transfers. */
  def applyToLake(dir: String, changes: DataFrame, partCol: String,
      keyCols: Seq[String], seqCol: String, opCol: String): Seq[String] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val spark = changes.sparkSession
    val affected = changes.select(col(partCol)).distinct()
      .collect().map(_.get(0))
    require(affected.nonEmpty, "changelog touches no partition")
    require(!affected.contains(null), "null partition value in changelog")
    // crash recovery BEFORE planning: a stale `.graft_old_<leaf>`
    // tombstone with no live partition dir means a prior run died between
    // hide and swap — restore it, or this run's snapshot silently reads
    // zero pre-existing rows for that partition and then deletes the only
    // surviving copy. A tombstone WITH a live dir means the swap finished
    // but the cleanup didn't — finish the delete so the next hide's
    // ATOMIC_MOVE doesn't collide with it.
    locally { val root = Paths.get(dir)
      if (Files.exists(root)) {
        val l = Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator.asScala
            .filter(_.getFileName.toString.startsWith(".graft_old_"))
            .toSeq.foreach { tomb =>
              val leaf = tomb.getFileName.toString
                .stripPrefix(".graft_old_")
              val dst = root.resolve(leaf)
              if (!Files.exists(dst))
                Files.move(tomb, dst, StandardCopyOption.ATOMIC_MOVE)
              else
                Files.walk(tomb)
                  .sorted(java.util.Comparator.reverseOrder())
                  .forEach(p => Files.delete(p))
            }
        } finally l.close()
      }
    }
    val snapshot = spark.read.parquet(dir)
      .filter(col(partCol).isin(affected: _*))
    val updated = applyChangelog(snapshot, changes, keyCols, seqCol, opCol)
    val staging = Files.createTempDirectory("graft_lake_staging").toString
    updated.write.mode("overwrite").partitionBy(partCol).parquet(staging)
    affected.map { v =>
      // Spark Hive-escapes special chars in partition paths; build the
      // leaf the same way or the swap addresses a directory partitionBy
      // never wrote
      val leaf = ExternalCatalogUtils.escapePathName(partCol) + "=" +
        ExternalCatalogUtils.escapePathName(v.toString)
      val src = Paths.get(staging, leaf)
      val dst = Paths.get(dir, leaf)
      if (!Files.exists(src)) Files.createDirectories(src) // all-deleted
      val tomb = Paths.get(dir, s".graft_old_$leaf")
      if (Files.exists(dst)) // hide, don't delete: old rows survive a crash
        Files.move(dst, tomb, StandardCopyOption.ATOMIC_MOVE)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(tomb)) // replacement visible — drop the tombstone
        Files.walk(tomb).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      v.toString
    }.toSeq
  }

  /** [[applyToLake]] with reader-atomic visibility: the table is a
    * [[TableLog]] table whose data files carry partition tags (written
    * by [[TableLog.appendPartitioned]]), and the rewrite publishes as
    * ONE log commit — a reader resolving any version sees exactly the
    * pre-apply or the post-apply file set, never a half-swapped
    * directory, and every prior version still time-travels. This is the
    * real lakehouse shape (Delta MERGE = rewrite touched files + commit).
    *
    * Same targeted-rewrite economics: untouched partitions' files are
    * carried into the new version by REFERENCE (zero bytes moved); only
    * files tagged with an affected partition value are read, merged
    * against the changes, and rewritten. Concurrency is the log's
    * optimistic protocol — a racing writer makes this commit conflict
    * loudly rather than lose updates. Returns the committed version. */
  def applyToLakeVersioned(dir: String, changes: DataFrame, partCol: String,
      keyCols: Seq[String], seqCol: String, opCol: String): Int = {
    val spark = changes.sparkSession
    val cur = TableLog.currentVersion(dir)
    require(cur >= 1, s"no committed version in $dir")
    val snap = TableLog.snapshot(dir, cur)
    require(snap.files.nonEmpty, s"empty table $dir")
    val untagged = snap.files.filterNot(snap.parts.contains)
    require(untagged.isEmpty,
      s"table has ${untagged.size} files without partition tags " +
        "(write with TableLog.appendPartitioned)")
    val affected = changes.select(col(partCol)).distinct()
      .collect().map(_.get(0))
    require(affected.nonEmpty, "changelog touches no partition")
    require(!affected.contains(null), "null partition value in changelog")
    val affectedStr = affected.map(_.toString).toSet
    val (touched, untouched) =
      snap.files.partition(f => affectedStr.contains(snap.parts(f)))
    val touchedSet = touched.toSet
    // the touched files read in the WHOLE snapshot's union schema: their
    // own merged schema would drop a column only untouched partitions
    // hold, and the changelog's values for it with it; older files
    // surface a later column as NULL and widen to its widest type
    val schema = TableLog.unionSchema(spark, dir, snap)
    val snapshotDf = // deletion vectors apply before the merge — a
      // DV-deleted row must not resurface through the rewrite
      TableLog.applyDv(spark, dir, spark.read.schema(schema)
        .parquet(touched.map(f => java.nio.file.Paths.get(dir).resolve(f)
          .toString): _*),
        snap.dvs.filter { case (f, _) => touchedSet(f) })
    val updated = applyChangelog(snapshotDf, changes, keyCols, seqCol, opCol)
    // stage new files partition-split through the SHARED TableLog helper
    // (identical leaf parsing / unescaping / naming as appendPartitioned),
    // then commit untouched ∪ new in one log entry
    val v = cur + 1
    val newFiles = TableLog.stagePartitioned(updated, dir, v, partCol)
    TableLog.commit(dir, untouched ++ newFiles.map(_._1),
      expectedVersion = v,
      parts = untouched.map(f => f -> snap.parts(f)).toMap ++
        newFiles.toMap,
      txn = snap.txn, op = "merge",
      dvs = snap.dvs -- touched, // rewritten partitions materialize DVs
      bloomCol = snap.bloomCol, blooms = snap.blooms -- touched,
      checks = snap.checks,
      vecidx = TableLog.vecCarry(snap, untouched ++ newFiles.map(_._1)),
      vecCol = snap.vecCol,
      // rewritten partitions' index entries die with their files; the
      // surviving mapping stays exact (files are immutable) and
      // computeRowGroupIndex tops the new files up on its next run
      rgidx = snap.rgidx -- touched,
      partCol = (snap.partCol match {
        case Some(c) if c != partCol => None // ambiguous tags: disable
        case _ => Some(partCol)
      }))
  }

  /** Incremental aggregate maintenance: update a materialized per-group
    * (count, sum) table from a changelog carrying BEFORE/AFTER images (the
    * Debezium envelope shape) — the pattern that keeps a 100 TB-derived
    * rollup fresh without ever rescanning the snapshot. Each change
    * contributes an abelian delta:
    * 'I' → (+1, +after), 'D' → (−1, −before), 'U' → (0, after − before);
    * an update that MOVES a row between groups must be encoded as a
    * 'D' in the old group plus an 'I' in the new one (the Debezium
    * convention for key changes).
    *
    * Plan: deltas are map-only, collapse through one combinable groupBy
    * of the SMALL changelog, and full-outer-join the existing agg table
    * on the group key; groups whose count reaches 0 drop out. The big
    * side (the agg table) is touched once, join-only. Output schema:
    * (`groupCol`, n, total). */
  def incrementalAgg(agg: DataFrame, changes: DataFrame, groupCol: String,
      opCol: String, beforeCol: String, afterCol: String): DataFrame = {
    require(agg.columns.toSeq == Seq(groupCol, "n", "total"),
      s"agg table must be ($groupCol, n, total): ${agg.columns.toSeq}")
    val dn = when(col(opCol) === "I", 1L)
      .when(col(opCol) === "D", -1L).otherwise(0L)
    val dv = when(col(opCol) === "I", col(afterCol))
      .when(col(opCol) === "D", -col(beforeCol))
      .otherwise(col(afterCol) - col(beforeCol))
    val deltas = changes.groupBy(col(groupCol))
      .agg(sum(dn).as("_dn"), sum(dv).as("_dv"))
      .withColumnRenamed(groupCol, "_g")
    // NULL-SAFE key equality (<=>): a plain equi-join never matches NULL
    // group keys, so the view would accumulate a duplicate null-group row
    // per refresh instead of merging the delta
    agg.join(deltas, col(groupCol) <=> col("_g"), "full_outer")
      .select(coalesce(col(groupCol), col("_g")).as(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L)))
          .as("n"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("_dv"), lit(0L)))
          .as("total"))
      .filter(col("n") > 0)
  }

  /** General `MERGE INTO` (the Delta/Iceberg upsert statement): resolve
    * `source` against `target` on key equality and apply, per row and in
    * this fixed order (the ANSI/Delta clause order):
    *
    *   1. matched  && `deleteCondition`  → row removed
    *   2. matched  && `updateCondition`  → row updated: with `updateSet`
    *      empty every data column takes the source value (UPDATE SET *);
    *      otherwise only the listed columns update (expressions over the
    *      `t.`/`s.` namespaces), the rest keep their target values
    *   3. matched otherwise              → target row unchanged
    *   4. source-only && `insert` && `insertCondition` → row inserted
    *      (source must carry every target column)
    *   5. target-only                    → target row unchanged
    *
    * Conditions and `updateSet` values are SQL expressions over `t.col`
    * (target) and `s.col` (source); a condition evaluating to NULL is
    * false (the SQL WHERE contract). Output schema = target schema.
    *
    * Source keys must be unique — a key matched by several source rows
    * would apply an arbitrary one (the same contract Delta enforces;
    * collapse a changelog with [[applyChangelog]]'s latest-per-key window
    * first). Deliberately NOT runtime-checked: the check would cost an
    * extra aggregate pass over the source every merge.
    *
    * Scale shape: ONE full-outer equality join on the key — the target
    * (the 100 TB side) is never windowed or re-sorted, every clause is a
    * projection/filter riding the join output, and with the target
    * bucketed on the key the big-side exchange disappears. For a
    * partitioned lake, feed this through [[applyToLakeVersioned]]-style
    * targeting instead of merging the whole table. */
  def merge(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      updateSet: Map[String, String] = Map.empty,
      updateCondition: Option[String] = None,
      deleteCondition: Option[String] = None,
      insert: Boolean = true,
      insertCondition: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val dataCols = target.columns.filterNot(keyCols.contains).toSeq
    require(keyCols.forall(target.columns.contains),
      s"target lacks key column(s): ${keyCols.filterNot(target.columns.contains)}")
    require(keyCols.forall(source.columns.contains),
      s"source lacks key column(s): ${keyCols.filterNot(source.columns.contains)}")
    val updAll = updateSet.isEmpty
    if (insert || updAll) {
      val missing = dataCols.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"source lacks target column(s) needed for ${
          if (insert) "insert" else "UPDATE SET *"}: $missing")
    }
    require(updateSet.keySet.forall(dataCols.contains),
      s"updateSet names non-data column(s): ${
        updateSet.keySet.filterNot(dataCols.contains)}")
    // presence markers: a side's data columns may be all-null, so matched
    // cannot be inferred from them
    val t = target.withColumn("_m_tgt", lit(true)).as("t")
    val s = source.withColumn("_m_src", lit(true)).as("s")
    val joined = t.join(s,
      keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
      "full_outer")
    val matched = col("_m_tgt").isNotNull && col("_m_src").isNotNull
    val srcOnly = col("_m_tgt").isNull
    // NULL condition = false, so a null never deletes and never inserts
    def cond(c: Option[String], base: Column): Column =
      c.map(x => coalesce(base && expr(x), lit(false))).getOrElse(base)
    val doDelete = deleteCondition
      .map(x => coalesce(matched && expr(x), lit(false)))
      .getOrElse(lit(false))
    val doUpdate = cond(updateCondition, matched)
    val doInsert = if (insert) cond(insertCondition, srcOnly) else lit(false)
    val keep = !doDelete && (col("_m_tgt").isNotNull || doInsert)
    // output columns in TARGET order (the documented contract), not
    // keys-first
    val out = target.columns.toSeq.map { c =>
      if (keyCols.contains(c)) coalesce(col(s"t.$c"), col(s"s.$c")).as(c)
      else {
        val updated =
          if (updAll) col(s"s.$c")
          else updateSet.get(c).map(expr).getOrElse(col(s"t.$c"))
        val base = when(doUpdate, updated).otherwise(col(s"t.$c"))
        // with insert=false the source may legitimately omit data columns
        // (delete-only merges) — never reference s.<data> then
        val full = if (insert) when(srcOnly, col(s"s.$c")).otherwise(base)
                   else base
        full.as(c)
      }
    }
    joined.filter(keep).select(out: _*)
  }

  /** SCD type-2 history from a changelog: one validity interval per
    * surviving change. Each 'I'/'U' opens an interval at its `seqCol`
    * value; the NEXT change on the same key (any op, including the 'D'
    * that tombstones it) closes it exclusively via `lead`. Output =
    * key + data columns + `valid_from`, `valid_to` (null = open) and
    * `is_current`. One keyed window over the changelog only. */
  def scd2(changes: DataFrame, keyCols: Seq[String], seqCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol), col(opCol))
    changes
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
      .drop(seqCol, opCol)
  }
}
