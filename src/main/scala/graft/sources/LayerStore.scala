package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Parquet-backed medallion layer store — the reference's PostgreSQL
  * schema namespaces (bronze./silver./gold./audit.) as managed table
  * paths with catalog registration, reproducing its storage semantics
  * (SURVEY §2.1):
  *  - S4/S5  CTAS + TRUNCATE-reload  -> SaveMode.Overwrite
  *  - S2     ON CONFLICT upsert      -> key-level latest-wins merge
  *  - S7     DDL clone               -> StructType.toDDL
  *  - S8     row-count verification
  *  - S10    table_metadata catalog (TEXT[] lineage column)
  *  - S12    CSV export
  *  - S13    ad-hoc SQL over registered views
  *  - S14    layer teardown + emptiness verification
  *
  * Scale notes: overwrite writes are partitioned by the input's task
  * parallelism (no single-writer bottleneck); upsert is one anti-join
  * shuffle on the key — the row-at-a-time loop the reference runs
  * (bronze/data_loader.py:124-162) becomes a set operation.
  */
class LayerStore(spark: SparkSession, root: String) {

  val layers = Seq("bronze", "silver", "gold", "audit")

  private def path(layer: String, name: String) = s"$root/$layer/$name"
  private def viewName(layer: String, name: String) = s"${layer}_$name"

  private def hadoopPath(layer: String, name: String, suffix: String = "") =
    new org.apache.hadoop.fs.Path(path(layer, name) + suffix)
  private def fsFor(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash recovery: a death inside stageSwap's swap window (after
    * target -> .__bak__, before .__staging__ -> target) leaves the
    * only copy of the table at .__bak__. Every entry point that looks
    * at the table first promotes such an orphan back — without this,
    * the next upsert would see "absent", merge only the incoming
    * batch, and stageSwap would DELETE the backup before promoting:
    * silent permanent truncation. */
  private def recoverOrphanBackup(layer: String, name: String): Unit = {
    val target = hadoopPath(layer, name)
    val backup = hadoopPath(layer, name, ".__bak__")
    val fs = fsFor(target)
    if (!fs.exists(target) && fs.exists(backup) && !fs.rename(backup, target))
      sys.error(s"recovery: cannot restore $backup to $target")
    recoverPrunes(layer, name)
  }

  // ---- footer-stats file pruning (manifest-style data skipping) -----

  /** Top-level data files of a flat parquet table (hidden files,
    * sidecars, and subdirectories excluded — exactly what Spark's
    * listing reads). */
  private def dataFiles(layer: String, name: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val target = hadoopPath(layer, name)
    val fs = fsFor(target)
    if (!fs.exists(target)) Seq.empty
    else fs.listStatus(target).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** (path, length, modtime) → footer key range memo: a probe-heavy
    * steady state (per-batch ingest) re-reads each immutable file's
    * footer once, not once per probe. */
  private val footerRangeMemo =
    collection.concurrent.TrieMap.empty[(String, Long, Long), Option[(Long, Long)]]

  /** [min,max] of a BIGINT column across a parquet file's row groups,
    * from footer statistics alone (no data pages read). None when any
    * row group lacks stats for the column — the caller must treat the
    * file as unpruneable. An empty file reports an empty range that
    * no key can intersect. */
  private def fileKeyRange(st: org.apache.hadoop.fs.FileStatus,
      keyCol: String): Option[(Long, Long)] =
    footerRangeMemo.getOrElseUpdate(
      (st.getPath.toString, st.getLen, st.getModificationTime), {
        import scala.jdk.CollectionConverters._
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          st, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          val ranges = blocks.filter(_.getRowCount > 0).map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == keyCol).flatMap { c =>
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue) None
              else (s.genericGetMin, s.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  Some((mn.toLong, mx.toLong))
                case _ => None
              }
            }
          }
          if (ranges.exists(_.isEmpty)) None
          else if (ranges.isEmpty) Some((Long.MaxValue, Long.MinValue))
          else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
        } finally r.close()
      })

  /** Split the table's files into (touched, untouched) by whether their
    * footer [min,max] on `keyCol` can contain any of `keys`. None when
    * stats are missing anywhere or the table has subdirectories (a
    * versioned layout this flat-file pruner must not reason about). */
  private def prunedFiles(layer: String, name: String, keyCol: String,
      keys: Seq[Long]): Option[(Seq[org.apache.hadoop.fs.FileStatus], Seq[org.apache.hadoop.fs.FileStatus])] = {
    val target = hadoopPath(layer, name)
    val fs = fsFor(target)
    val hasSubdirs = fs.exists(target) && fs.listStatus(target).exists(st =>
      st.isDirectory && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
    if (hasSubdirs) return None
    val sorted = keys.distinct.sorted.toArray
    def hit(mn: Long, mx: Long): Boolean = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && sorted(lo) <= mx
    }
    // footer reads parallelize across files (a cold probe of a
    // 1000-file artifact costs ~one footer read, not a serial second);
    // the memo update inside fileKeyRange synchronizes per entry
    val ranges = {
      import scala.collection.parallel.CollectionConverters._
      dataFiles(layer, name).par.map(st => st -> fileKeyRange(st, keyCol)).seq.toSeq
    }
    if (ranges.exists(_._2.isEmpty)) None
    else {
      val (touch, keep) = ranges.partition(r => hit(r._2.get._1, r._2.get._2))
      Some((touch.map(_._1), keep.map(_._1)))
    }
  }

  /** Footer-pruned point read: rows whose BIGINT `keyCol` is one of
    * `keys`, reading ONLY the files whose footer stats can contain
    * them — Iceberg/Delta-style data skipping from plain parquet
    * footers, no manifest service. Per-probe cost scales with the
    * MATCHING files, not the table: on a key-clustered layout (natural
    * append order for monotone ids, or `clusterBy`) a bounded key set
    * touches a bounded file set however large the table grows — the
    * property the per-batch ingest probes need at crawl scale. Reads
    * with merged schema (pre-upgrade files surface their columns as
    * NULL); falls back to a full filter scan when stats are
    * unavailable. */
  def prunedByKeys(layer: String, name: String, keyCol: String,
      keys: Seq[Long]): DataFrame = {
    require(exists(layer, name), s"prunedByKeys: no table $layer.$name")
    val ks = keys.distinct
    if (ks.isEmpty) return tableMerged(layer, name).limit(0)
    val keyFilter = col(keyCol).isInCollection(ks)
    prunedFiles(layer, name, keyCol, ks) match {
      case Some((touch, _)) if touch.isEmpty =>
        tableMerged(layer, name).limit(0)
      case Some((touch, _)) =>
        spark.read.option("mergeSchema", "true")
          .parquet(touch.map(_.getPath.toString): _*).filter(keyFilter)
      case None => tableMerged(layer, name).filter(keyFilter)
    }
  }

  private def pruneMarkerPath(layer: String, name: String, id: String) =
    hadoopPath(layer, name, s"/.prune-commit-$id")

  /** Idempotently complete a pruned delete from its commit marker:
    * delete the touched originals that still exist, promote any
    * remaining staged survivor files to visible names, then drop the
    * stage dir and the marker. Every step is a re-runnable rename or
    * delete, so a crash at ANY point re-completes on the next
    * recovery pass. Pure filesystem — never re-enters the recovery
    * entry points. */
  private def commitPrune(layer: String, name: String,
      marker: org.apache.hadoop.fs.Path): Unit = {
    val fs = fsFor(marker)
    val in = fs.open(marker)
    val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
      finally in.close()
    val stageName = lines.head
    val id = stageName.stripPrefix(".prune-stage-")
    val touched = lines.tail.filter(_.nonEmpty)
    val dir = hadoopPath(layer, name)
    touched.foreach { n =>
      val p = new org.apache.hadoop.fs.Path(dir, n)
      if (fs.exists(p)) fs.delete(p, false)
    }
    val stage = new org.apache.hadoop.fs.Path(dir, stageName)
    if (fs.exists(stage)) {
      fs.listStatus(stage).filter(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet")).foreach { f =>
        val tgt = new org.apache.hadoop.fs.Path(dir, s"pruned-$id-${f.getPath.getName}")
        if (fs.exists(tgt)) fs.delete(f.getPath, false)
        else if (!fs.rename(f.getPath, tgt))
          sys.error(s"prune commit: cannot promote ${f.getPath} to $tgt")
      }
      fs.delete(stage, true)
    }
    fs.delete(marker, false)
  }

  /** Crash recovery for pruned deletes, run from every entry point
    * (recoverOrphanBackup): a marker proves its stage was completely
    * written, so the commit re-completes; a stage dir WITHOUT a marker
    * is an uncommitted rewrite whose originals are all intact — drop
    * it. */
  private def recoverPrunes(layer: String, name: String): Unit = {
    val target = hadoopPath(layer, name)
    val fs = fsFor(target)
    if (!fs.exists(target)) return
    val entries = fs.listStatus(target).toSeq
    entries.filter(st => st.isFile &&
        st.getPath.getName.startsWith(".prune-commit-"))
      .foreach(m => commitPrune(layer, name, m.getPath))
    entries.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".prune-stage-"))
      .foreach { st =>
        val id = st.getPath.getName.stripPrefix(".prune-stage-")
        if (!fs.exists(pruneMarkerPath(layer, name, id)))
          fs.delete(st.getPath, true)
      }
  }

  /** DELETE WHERE `keyCol` IN `keys`, rewriting ONLY the files whose
    * footer stats intersect the keys — O(matching files + keys), not
    * O(table): the retraction/scrub primitive that keeps a late-batch
    * correction from rewriting a crawl-scale corpus (the full
    * overwriteMatching rewrite is this operation's O(table) fallback,
    * also used when stats are missing or every file is touched).
    * NULL-keyed rows are never deleted (the overwriteMatching
    * contract). Crash-safe: survivors stage hidden inside the table
    * dir, a commit marker (written only after the stage is durable)
    * makes the swap a sequence of idempotent renames/deletes, and
    * recovery completes-or-discards from any crash point — stageSwap's
    * guarantee at file granularity. */
  def deleteKeysPruned(layer: String, name: String, keyCol: String,
      keys: Seq[Long]): Unit = {
    if (keys.isEmpty || !exists(layer, name)) return
    val ks = keys.distinct
    def fullRewrite(): Unit = {
      val keySource = spark.createDataset(ks)(
        org.apache.spark.sql.Encoders.scalaLong).toDF(keyCol)
      overwriteMatching(layer, name,
        tableMerged(layer, name).limit(0), Seq(keyCol), keySource)
      ()
    }
    prunedFiles(layer, name, keyCol, ks) match {
      case Some((touch, _)) if touch.isEmpty => ()
      case Some((touch, keep)) if keep.nonEmpty =>
        val dir = hadoopPath(layer, name)
        val fs = fsFor(dir)
        val id = java.util.UUID.randomUUID().toString.take(12)
        val stage = new org.apache.hadoop.fs.Path(dir, s".prune-stage-$id")
        spark.read.option("mergeSchema", "true")
          .parquet(touch.map(_.getPath.toString): _*)
          .filter(col(keyCol).isNull || !col(keyCol).isInCollection(ks))
          .write.mode(SaveMode.Overwrite).parquet(stage.toString)
        val m = pruneMarkerPath(layer, name, id)
        val out = fs.create(m, false)
        try out.write((s".prune-stage-$id\n" +
          touch.map(_.getPath.getName).mkString("\n")).getBytes("UTF-8"))
        finally out.close()
        commitPrune(layer, name, m)
        spark.catalog.refreshByPath(path(layer, name))
        table(layer, name).createOrReplaceTempView(viewName(layer, name))
      case _ =>
        // no stats, a versioned layout, or the delete touches every
        // file (where the pruned path could leave a data-file-less dir)
        fullRewrite()
    }
  }

  /** Narrow existence probe: only "the path is absent" means absent.
    * A corrupt footer / transient FS error / OOM while READING must
    * propagate — treating it as "no table" would make upsert silently
    * truncate the store to just the incoming batch. */
  def exists(layer: String, name: String): Boolean = {
    recoverOrphanBackup(layer, name)
    val p = hadoopPath(layer, name)
    fsFor(p).exists(p)
  }

  /** Stage-and-swap write: materialize `df` fully at a staging path
    * NEXT TO the target, then promote with two directory renames
    * (target -> .bak, staging -> target). The read path is never the
    * write path, so a mid-write executor/driver loss leaves the stored
    * table untouched; after the staging write is durable the worst
    * crash window leaves the old table at .bak (recoverable), never
    * lost. This is the table-level analogue of Spark's task-level
    * commit protocol, and the property SaveMode.Overwrite alone does
    * NOT give you (it deletes the target before writing).
    * One Spark action: the row count is observed inside the write, and
    * the promoted table's schema is `df`'s, so registering the view
    * reads nothing back. */
  private def stageSwap(layer: String, name: String, df: DataFrame): Long = {
    recoverOrphanBackup(layer, name)
    val target = hadoopPath(layer, name)
    val staging = hadoopPath(layer, name, ".__staging__")
    val backup = hadoopPath(layer, name, ".__bak__")
    val fs = fsFor(target)
    if (fs.exists(staging)) fs.delete(staging, true)
    val (counted, rows) = LayerStore.counted(df)
    counted.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(target) && !fs.rename(target, backup))
      sys.error(s"stage-swap: cannot move $target aside")
    if (!fs.rename(staging, target)) {
      fs.rename(backup, target) // roll back; staged data still on disk
      sys.error(s"stage-swap: cannot promote $staging to $target")
    }
    fs.delete(backup, true)
    val m = fs.getFileStatus(target).getModificationTime
    Seq(false, true).foreach(merged => schemas.put((path(layer, name), merged), (m, df.schema)))
    table(layer, name).createOrReplaceTempView(viewName(layer, name))
    rows()
  }

  /** S4/S5 — full-refresh write (CTAS / TRUNCATE-reload semantics) +
    * catalog registration so spark.sql sees `<layer>_<name>`. */
  def write(layer: String, name: String, df: DataFrame): Long = {
    require(layers.contains(layer), s"unknown layer $layer")
    stageSwap(layer, name, df)
  }

  /** Append (audit tables — the reference batches these per run,
    * silver/silver_builder.py:456-516). Recovers an orphaned swap
    * backup first: if the table's sole copy sits at .__bak__ (crash
    * inside a stageSwap window), appending without recovery would
    * recreate the target with only this batch and the next stageSwap
    * would delete the orphan — silent loss. */
  def append(layer: String, name: String, df: DataFrame): Unit = {
    recoverOrphanBackup(layer, name)
    Seq(false, true).foreach(merged => schemas.remove((path(layer, name), merged)))
    df.write.mode(SaveMode.Append).parquet(path(layer, name))
    table(layer, name).createOrReplaceTempView(viewName(layer, name))
  }

  // ---- persisted key sketches (ANALYZE at ingest) -------------------

  private def sketchPath(layer: String, name: String, keys: Seq[String]) =
    hadoopPath(layer, name, "/_key_sketch_" + keys.mkString("_"))

  /** Persist the table's KMV key sketch as an underscore-prefixed
    * sidecar INSIDE the table directory (Spark's file listing ignores
    * `_`-prefixed files, so reads are unaffected) — the ANALYZE-at-
    * ingest that makes util.JoinAdvisor free at plan time: a join
    * decision then reads two K-row sidecars instead of scanning the
    * tables. Living inside the directory is the staleness story: the
    * sidecar dies with the data on the next stage-swap rewrite, so a
    * sketch can never describe rows that are gone (an appended table
    * should re-sketch after append). */
  def writeKeySketch(layer: String, name: String, keys: Seq[String],
      k: Int = graft.functions.Kmv.DefaultK): Unit = {
    val m = graft.util.JoinAdvisor.minima(table(layer, name), keys.map(col), k)
    val p = sketchPath(layer, name, keys)
    val out = fsFor(p).create(p, true)
    try out.write((keys.mkString(",") + "\n" + k + "\n" + m.mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a persisted key sketch back: (k, minima), None when the
    * table was never sketched (or was rewritten since — callers fall
    * back to the scanning advise()). */
  def keySketch(layer: String, name: String,
      keys: Seq[String]): Option[(Int, Seq[String])] = {
    val p = sketchPath(layer, name, keys)
    val fs = fsFor(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
      val lines = txt.split("\n", -1)
      Some((lines(1).trim.toInt, lines.drop(2).filter(_.nonEmpty).toSeq))
    }
  }

  /** S2 — key-level latest-wins upsert: incoming rows win over stored
    * rows on `keys`; within the incoming batch the highest `orderCol`
    * wins. Stage-and-swap (idempotent, like the reference's re-runnable
    * loads): the merge reads the live table while writing the staging
    * dir, so no checkpoint of the full table is needed and the live
    * table survives any mid-write failure. Returns (inserted, updated)
    * counts like the reference's before/after accounting, all observed
    * inside the one write. */
  def upsert(layer: String, name: String, incoming: DataFrame,
    keys: Seq[String], orderCol: String): (Long, Long) = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    val latest = incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    if (!exists(layer, name)) {
      val n = write(layer, name, latest)
      (n, 0L)
    } else {
      // cached lazily: the anti-join's key side and the union both read
      // the incoming batch (small), so the window runs once
      latest.persist()
      try {
        val old = tableMerged(layer, name)
        val (oldCounted, oldRows) = LayerStore.counted(old)
        // re-select the stored order: a USING-style anti-join moves the
        // key columns to the front, which for composite keys whose
        // columns aren't leading (lineitem's l_linenumber) would
        // silently reorder the table's schema on every re-load
        val (kept, keptRows) = LayerStore.counted(
          oldCounted.join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
            .select(old.columns.map(col): _*))
        // both counters sit on the store's side of the merge: `incoming`
        // may belong to another session (a foreachBatch micro-batch), and
        // the write runs in kept's. inserted = growth, updated = the
        // stored rows the batch replaced
        val total = write(layer, name, kept.unionByName(latest))
        (total - oldRows(), oldRows() - keptRows()) // (inserted, updated)
      } finally latest.unpersist() // also on write failure, or each failed
      // streaming micro-batch would pin one more batch in the block manager
    }
  }

  /** S9 — run-scoped overwrite: DELETE WHERE run_id = X then append
    * (forecasting.py:86-105) as read-filter-union + stage-and-swap.
    * Null-safe keep predicate: `=!=` on a NULL run column evaluates
    * to NULL and the filter would silently DELETE such rows — SQL's
    * DELETE WHERE run_id = X keeps them. */
  def overwriteRun(layer: String, name: String, df: DataFrame,
    runCol: String, runId: String): Long = {
    val merged =
      if (!exists(layer, name)) df
      else tableMerged(layer, name).filter(!(col(runCol) <=> lit(runId))).unionByName(df)
    write(layer, name, merged)
  }

  /** S9b — key-scoped overwrite: DELETE WHERE keyCol IN (keys) then
    * append, the multi-key sibling of overwriteRun and the write
    * primitive of incremental refresh (Pipeline.refreshMonthlySales).
    * NULL-keyed rows are kept, like SQL's DELETE WHERE k IN (...).
    * Locally this is read-filter-union + stage-and-swap like every
    * LayerStore write; on a partitioned lake the same semantics are a
    * partition-level replaceWhere — the caller's contract (df holds
    * the complete new content FOR those keys) is identical. */
  def overwriteKeys(layer: String, name: String, df: DataFrame,
    keyCol: String, keys: Seq[Any]): Long = {
    val merged =
      if (!exists(layer, name)) df
      else tableMerged(layer, name)
        .filter(col(keyCol).isNull || !col(keyCol).isin(keys: _*))
        .unionByName(df)
    write(layer, name, merged)
  }

  /** S9c — tuple-key-scoped overwrite: DELETE WHERE (k1,…,kn) IN
    * (SELECT k1…kn FROM keySource) then append `df` — the
    * composite-key sibling of overwriteKeys and the write primitive
    * of incremental SILVER refresh (Pipeline.refreshSilverLineitem).
    * `df` holds the complete new content for exactly the keys in
    * `keySource` — possibly FEWER rows: a key present in keySource
    * but absent from df is thereby deleted (what a TRUNCATE+reload
    * would drop when its row stops validating). NULL-keyed stored
    * rows never match the anti-join, so they are kept like SQL's
    * DELETE WHERE (k1,k2) IN (...). At scale keySource is
    * delta-sized: the anti-join broadcasts it against the stored
    * table's scan. */
  def overwriteMatching(layer: String, name: String, df: DataFrame,
    keys: Seq[String], keySource: DataFrame): Long = {
    val merged =
      if (!exists(layer, name)) df
      else {
        val stored = tableMerged(layer, name)
        // re-select the stored order: a USING-style anti-join moves
        // the key columns to the front, and writing that order would
        // silently reorder the table's schema on every refresh
        stored.join(broadcast(keySource.select(keys.map(col): _*).distinct()),
            keys, "left_anti")
          .select(stored.columns.map(col): _*)
          .unionByName(df)
      }
    write(layer, name, merged)
  }

  def table(layer: String, name: String): DataFrame = read(layer, name, merged = false)

  /** (table path, merged?) → (directory mtime, schema) of the tables
    * this store wrote or read. A read passes the schema instead of
    * inferring it (a Spark job per read) while the directory's mtime
    * still matches; any file created, deleted or renamed in it — by
    * this store or another on the same root — moves the mtime and the
    * next read infers again. stageSwap fills both entries from the
    * frame it wrote, table() and tableMerged() fill theirs on first
    * inference, and append drops them (its files may add columns).
    * Not seen: a data file rewritten in place with another schema. */
  private val schemas =
    collection.concurrent.TrieMap.empty[(String, Boolean), (Long, StructType)]

  private def read(layer: String, name: String, merged: Boolean): DataFrame = {
    recoverOrphanBackup(layer, name)
    val p = path(layer, name)
    val reader = if (merged) spark.read.option("mergeSchema", "true") else spark.read
    val dir = hadoopPath(layer, name)
    val fs = fsFor(dir)
    if (!fs.exists(dir)) reader.parquet(p) // Spark's own "path does not exist"
    else {
      val m = fs.getFileStatus(dir).getModificationTime
      schemas.get((p, merged)) match {
        case Some((`m`, s)) => reader.schema(s).parquet(p)
        case _ =>
          val df = reader.parquet(p)
          schemas.put((p, merged), (m, df.schema))
          df
      }
    }
  }

  // ---- snapshot-versioned tables (time travel) ----------------------

  private def versionDir(layer: String, name: String, v: Long) =
    hadoopPath(layer, name, s"/v$v")
  private def pointerPath(layer: String, name: String) =
    hadoopPath(layer, name, "/_CURRENT")

  /** Version directories present on disk (committed or not). */
  private def versionsOnDisk(layer: String, name: String,
      fs: org.apache.hadoop.fs.FileSystem): Seq[Long] = {
    val base = hadoopPath(layer, name)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .sorted
  }

  /** The published version: the _CURRENT pointer if present, else the
    * highest version whose write completed (_SUCCESS marker) — the
    * recovery rule for a crash inside the pointer rename window. */
  def snapshotVersion(layer: String, name: String): Option[Long] = {
    val fs = fsFor(pointerPath(layer, name))
    val ptr = pointerPath(layer, name)
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    } else versionsOnDisk(layer, name, fs).reverse
      .find(v => fs.exists(new org.apache.hadoop.fs.Path(
        versionDir(layer, name, v), "_SUCCESS")))
  }

  /** Snapshot write — the time-travel sibling of `write` (Delta/
    * Iceberg-style snapshot isolation on plain parquet dirs): each
    * write lands at an immutable `v<N>` directory and PUBLISHES by
    * atomically renaming a fresh `_CURRENT` pointer over the old one,
    * so readers of the current snapshot never see a partial write and
    * every retained version stays readable — the property a training
    * pipeline needs to pin "corpus snapshot N" for a reproducible run
    * while ingest keeps writing. A crash before the pointer rename
    * leaves a committed-or-partial orphan directory the pointer never
    * references (the next write skips past it).
    * Returns the new version number. */
  def writeSnapshot(layer: String, name: String, df: DataFrame): Long = {
    require(layers.contains(layer), s"unknown layer $layer")
    val fs = fsFor(pointerPath(layer, name))
    val next = versionsOnDisk(layer, name, fs).lastOption.getOrElse(0L) + 1
    df.write.mode(SaveMode.Overwrite).parquet(versionDir(layer, name, next).toString)
    publishPointer(layer, name, next, fs)
    next
  }

  private def publishPointer(layer: String, name: String, v: Long,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val tmp = hadoopPath(layer, name, "/_CURRENT.__tmp__")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ptr = pointerPath(layer, name)
    // ATOMIC overwrite-rename via FileContext (POSIX rename(2) on the
    // local FS, the store's atomic rename on HDFS): there is no window
    // where the pointer is absent, so a crash leaves either the old
    // pointer or the new one, both correct states; the _SUCCESS
    // fallback in snapshotVersion only serves tables that lost theirs.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ptr.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(ptr),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    readSnapshot(layer, name).createOrReplaceTempView(viewName(layer, name))
  }

  /** Read the current snapshot, or `asOf` a pinned historical version
    * (time travel). Reading a vacuumed or never-published version
    * fails loudly rather than returning stale data. */
  def readSnapshot(layer: String, name: String,
      asOf: Option[Long] = None): DataFrame = {
    val v = asOf.orElse(snapshotVersion(layer, name))
      .getOrElse(sys.error(s"no published snapshot for $layer.$name"))
    val fs = fsFor(pointerPath(layer, name))
    require(fs.exists(new org.apache.hadoop.fs.Path(
      versionDir(layer, name, v), "_SUCCESS")),
      s"snapshot v$v of $layer.$name is not available")
    spark.read.parquet(versionDir(layer, name, v).toString)
  }

  /** S7 — DDL clone from the stored schema. */
  def ddl(layer: String, name: String): String =
    s"CREATE TABLE ${layer}_$name (${tableMerged(layer, name).schema.toDDL})"

  /** Dialect-mapped DDL for a JDBC push target — the Spark analogue of
    * the reference's information_schema clone (gold/push.py:75-110),
    * which re-emits numeric(precision,scale) and text[] in the target's
    * CREATE TABLE. Types the url's JdbcDialect maps are emitted in its
    * own vocabulary (decimal precision/scale survive verbatim); array
    * columns on engines without an ARRAY type (Derby) get the JSON-text
    * encoding that pushJdbc writes for them. */
  def jdbcDdl(layer: String, name: String, url: String,
    targetTable: String): String = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    def sqlType(dt: DataType): String =
      dialect.getJDBCType(dt)
        .map(_.databaseTypeDefinition)
        .getOrElse(dt match {
          case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
          case _: ArrayType => arrayFallbackType // pushJdbc's to_json encoding
          case LongType => "BIGINT"
          case IntegerType => "INTEGER"
          case DoubleType => "DOUBLE"
          case BooleanType => "BOOLEAN"
          case DateType => "DATE"
          case TimestampType => "TIMESTAMP"
          case _ => "VARCHAR(32672)"
        })
    val cols = tableMerged(layer, name).schema.fields
      .map(f => s"${f.name} ${sqlType(f.dataType)}")
    s"CREATE TABLE $targetTable (${cols.mkString(", ")})"
  }

  /** Derby's VARCHAR ceiling; wide enough for any lineage array. */
  private val arrayFallbackType = "VARCHAR(32672)"

  /** Array columns for a target whose dialect has no ARRAY mapping
    * (Derby) are JSON-encoded; engines with native arrays (Postgres
    * text[], matching the reference's target) keep the typed column. */
  private def conformForJdbc(df: DataFrame, url: String): DataFrame = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case at: ArrayType if dialect.getJDBCType(at).isEmpty =>
          d.withColumn(f.name, to_json(col(f.name)))
        case _ => d
      }
    }
  }

  /** S8 — source/destination row-count equality, must be > 0. */
  def verifyCounts(src: DataFrame, dstLayer: String, dstName: String): Boolean = {
    val a = src.count(); val b = table(dstLayer, dstName).count()
    a == b && a > 0
  }

  /** S10 — gold.table_metadata with TEXT[] lineage. */
  def writeMetadata(entries: Seq[(String, String, Seq[String], Long)]): Unit = {
    import spark.implicits._
    val df = entries.toDF("table_name", "description", "source_tables", "row_count")
      .withColumn("refreshed_at", current_timestamp())
    write("gold", "table_metadata", df)
  }

  /** S6 — batched JDBC bulk push (gold/push.py:127-163: the reference
    * pushes gold tables to a warehouse in `batchsize` chunks). Spark's
    * JDBC sink writes per-partition batched inserts — the distributed
    * analogue of the reference's executemany loop; `batchsize` maps to
    * the JDBC fetch/batch option and `repartition` bounds concurrent
    * connections. Integration-tested offline against embedded Derby
    * (LayerStoreSpec "S6: pushJdbc round-trips…" — derby 10.16 ships
    * on Spark's unmanaged classpath with java.sql.Driver service
    * registration, closing the "no JDBC endpoint offline" deviation
    * carried since round 2). */
  def pushJdbc(layer: String, name: String, url: String, targetTable: String,
    props: java.util.Properties, batchSize: Int = 1000,
    maxConnections: Int = 8): Unit =
    conformForJdbc(tableMerged(layer, name), url)
      .repartition(maxConnections)
      .write.mode(SaveMode.Append)
      .option("batchsize", batchSize)
      .jdbc(url, targetTable, props)

  /** Op precedence at equal sequence numbers (a malformed log): the
    * delete wins, then insert, then update — a fixed total order, so
    * any split of the log across batches picks the same winner. */
  private def cdcOpRank(op: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(upper(op) === "D", 2).when(upper(op) === "I", 1).otherwise(0)

  /** CDC apply — the change-data-capture consumer `upsert` can't be:
    * the change batch carries an op column (`I`/`U` upsert the row,
    * `D` deletes) and the newest change per key wins (`orderCol`, the
    * log sequence number). The stored table RETAINS each key's latest
    * (orderCol, opCol) — deletes persist as TOMBSTONES rather than
    * removing the row — so a change is applied only when its
    * (sequence, op-precedence) exceeds the stored one. That makes the
    * result identical to a one-shot replay of the whole log for ANY
    * split of changes into batches, in ANY batch arrival order within
    * a key (the property a file-source stream needs: micro-batches
    * arrive by mtime, not log position), and immune to
    * stale-resurrection (a late U below a delete's sequence number
    * hits the tombstone's watermark and is ignored). Read the live
    * rows through [[cdcTable]].
    * One decision join on the key (stored side pruned to keys +
    * watermark), one anti-join, batch side change-sized. Returns
    * (inserted, updated, deleted) counted on live-row transitions. */
  def applyCdc(layer: String, name: String, changes: DataFrame,
      keys: Seq[String], orderCol: String, opCol: String = "op")
      : (Long, Long, Long) = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, cdcOpRank(col(opCol)).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").persist()
    try {
      val isDel = upper(col(opCol)) === "D"
      if (!exists(layer, name)) {
        write(layer, name, latest) // tombstones kept: sequence watermark
        (latest.filter(!isDel).count(), 0L, 0L)
      } else {
        val old = tableMerged(layer, name)
        // stored per-key watermark: latest applied (sequence, op)
        val marks = old.select((keys.map(col) :+
          col(orderCol).as("__so") :+ upper(col(opCol)).as("__sop")): _*)
        val decided = latest.join(marks, keys, "left")
          .withColumn("__fresh", col("__so").isNull ||
            col(orderCol) > col("__so") ||
            (col(orderCol) === col("__so") &&
              cdcOpRank(col(opCol)) > cdcOpRank(col("__sop"))))
          .persist()
        try {
          val a = decided.agg( // coalesce: empty/stale-only batch sums NULL
            coalesce(sum(when(col("__fresh") && !isDel &&
              (col("__so").isNull || col("__sop") === "D"), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(col("__fresh") && !isDel &&
              col("__sop").isNotNull && col("__sop") =!= "D", 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(col("__fresh") && isDel &&
              col("__sop").isNotNull && col("__sop") =!= "D", 1L).otherwise(0L)), lit(0L)))
            .collect()(0)
          val fresh = decided.filter(col("__fresh"))
            .select(old.columns.map(col): _*)
          val kept = old.join(decided.filter(col("__fresh"))
              .select(keys.map(col): _*), keys, "left_anti")
            .select(old.columns.map(col): _*)
          write(layer, name, kept.unionByName(fresh))
          (a.getLong(0), a.getLong(1), a.getLong(2))
        } finally decided.unpersist()
      }
    } finally latest.unpersist()
  }

  /** The live rows of a CDC-maintained table: tombstones filtered,
    * bookkeeping columns dropped. */
  def cdcTable(layer: String, name: String, orderCol: String,
      opCol: String = "op"): DataFrame =
    tableMerged(layer, name).filter(upper(col(opCol)) =!= "D")
      .drop(opCol, orderCol)

  /** Read with parquet schema merge: the union schema across every
    * file's footer, missing columns NULL-filled per row group. */
  def tableMerged(layer: String, name: String): DataFrame = read(layer, name, merged = true)

  /** S12 — CSV export with header. */
  def exportCsv(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(out)

  /** S13 — ad-hoc SQL entry point over everything registered. */
  def sql(text: String): DataFrame = spark.sql(text)

  /** S13, reference-verbatim form: accepts the Postgres-style
    * schema-qualified SQL the reference's Query Runner ships as sample
    * queries (app.py:1344-1356) by mapping `<layer>.<table>` onto the
    * flattened `<layer>_<table>` temp views this store registers
    * (SURVEY §3.2 naming), and stripping a trailing semicolon (a
    * psql-ism Spark's single-statement parser rejects). The rewrite is
    * textual (word-boundary `layer.` prefixes), so a string LITERAL
    * containing e.g. "silver." would also be rewritten — acceptable
    * for an interactive runner, documented here. */
  def adhocSql(text: String): DataFrame = {
    val flattened = layers.foldLeft(text)((t, l) =>
      t.replaceAll(s"\\b$l\\.", l + "_"))
    spark.sql(flattened.trim.stripSuffix(";"))
  }

  /** S14 — layer teardown in reverse refinement order + emptiness
    * verification (delete_all_data.py semantics). */
  def teardown(): Boolean = {
    import org.apache.hadoop.fs.Path
    // resolve the filesystem FROM the path (like every other method):
    // FileSystem.get(conf) is the default FS, which silently no-ops
    // against a root on another scheme and then "verifies" success
    def p(l: String) = new Path(s"$root/$l")
    layers.reverse.foreach(l => fsFor(p(l)).delete(p(l), true))
    layers.forall(l => !fsFor(p(l)).exists(p(l)))
  }
}

object LayerStore {

  /** `df` with a row counter that the next action over it fills in, so
    * the count costs no Spark job of its own. Call the thunk only after
    * that action succeeded, and run the action in `df`'s session:
    * Spark fills an observation only from actions of the session that
    * registered it, so the thunk fails after a bounded wait instead of
    * blocking forever on a counter no action filled. */
  def counted(df: DataFrame): (DataFrame, () => Long) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("rows")), () => scala.concurrent.Await.result(
      o.future, scala.concurrent.duration.Duration(5, "min")).getLong(0))
  }
}
