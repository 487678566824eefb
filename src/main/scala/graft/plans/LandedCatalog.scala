package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A landed screening catalog: the history side of a per-batch screen,
  * computed ONCE, landed as bucketed tables and appended per accepted
  * batch, so every later screen's cost scales with its batch, never
  * with the corpus. The reference's incremental pipeline diffs new
  * input against PERSISTED state (honeycomb/owt/hcOwt.py:250-331) and
  * maintains it (`cleanUp.py`); this is that state store, expressed as
  * Spark bucketed tables. The five families ([[DedupCatalog]],
  * [[GramCatalog]], [[SemCatalog]], [[VecCatalog]], [[SigCatalog]])
  * supply their table specs, one state-row function shared by landing
  * and appending, and their screen join; everything below is theirs in
  * common.
  *
  * Layout: catalog `name` under `base` lives at root
  * `<base>/<tag>_<name'>_<hash>` (`name'` sanitized for identifier
  * safety, plus a hash of the RAW name so names that sanitize alike
  * cannot share state); each table is `<root-dir-name>_<suffix>` with
  * its files under `<root>/<suffix>`, partitioned by `ingest_id` — the
  * landing is partition 0, each accepted batch its own partition — so
  * appends are dynamic partition OVERWRITES (a crash-replayed batch
  * rewrites its own state rows instead of duplicating them, which
  * would inflate screen counts — corruption, not mere duplication) and
  * a screen can bound which history it sees (`maxIngestId`). ids are
  * BIGINT by contract (the DDL is fixed).
  *
  * Durability: landing writes a `_LANDED` marker (`k=v` pairs, comma
  * separated, `nBuckets` first) after every table; a NEW session whose
  * in-memory catalog lost the table entries re-REGISTERS the existing
  * files instead of re-landing, which would erase every appended
  * partition. The PERSISTED bucket count wins over the call-site
  * parameter: a re-register with a different count makes Spark's
  * bucketed scan silently drop files (and breaks co-partitioned
  * joins). Markers without the field fall back to the parameter.
  *
  * Lifecycle — the same for every family:
  *
  *  - FLOOR (`_FLOOR` under the root): the highest ingest id folded or
  *    expired away; 0 when no maintenance ever ran. Appends must be
  *    above it — a crash-replayed batch whose partition was folded
  *    must NOT re-append (its rows already live in partition 0), and
  *    an expired batch must not resurrect — and history bounds must be
  *    at or above it, since after a fold partition 0 contains later
  *    batches and the bound cannot be honored (failing beats silently
  *    self-matching). Callers therefore compact/expire only up to
  *    checkpoint-COMMITTED batch ids, which never replay.
  *  - [[compact]] folds partitions `0..upTo` into partition 0 through
  *    the table's own bucket spec (co-located joins stay shuffle-free):
  *    a pure layout change, screen verdicts identical. The fold is
  *    IDEMPOTENT — a `distinct()` no-op on re-folded rows, because
  *    every catalog table carries one row per distinct key.
  *  - [[expire]] drops partitions below a cutoff (age retention, the
  *    `cleanUp.py` analog). With an archive dir it is
  *    ARCHIVE-THEN-ADVANCE (hcOwt.py's discipline): each partition is
  *    copied to cold storage before the drop.
  *  - `_MAINT` (intent + cutoff) is written before any destructive step
  *    and removed after the floor advances; every reattach runs
  *    [[recover]], which re-runs an interrupted operation.
  */
abstract class LandedCatalog(tag: String) {
  import LandedCatalog.{Spec, readFile, writeFile}

  /** The family's landed table names (in [[specs]] order) + root. */
  type Handle <: LandedCatalog.Handle

  /** The family's tables, in handle order. */
  protected def specs: Seq[Spec]

  protected def handleOf(tables: Seq[String], root: String): Handle

  /** The state rows `docs` contribute, one frame per spec (without
    * `ingest_id`) — the one function landing and appending share.
    * `landed` holds the `_LANDED` marker's key/values.
    */
  protected def stateRows(h: Handle, docs: DataFrame,
      landed: Map[String, String]): Seq[DataFrame]

  /** Default durable-enough location for tests/gates; production
    * passes its own `base` (a warehouse path) to `land`.
    */
  def defaultBase: String = s"${sys.props("java.io.tmpdir")}/$tag"

  private def rootName(name: String): String =
    s"${tag}_${name.replaceAll("[^A-Za-z0-9_]", "_")}_" +
      java.lang.Long.toHexString(graft.functions.TextImpl.fnv1a64(name)).take(8)

  /** (table, spec, data dir) of each landed table. */
  private def layout(h: Handle): Seq[(String, Spec, String)] =
    h.tables.zip(specs).map { case (t, s) => (t, s, s"${h.root}/${s.suffix}") }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** The `_LANDED` marker's key/values; None when never landed. */
  protected def landed(spark: SparkSession, h: Handle): Option[Map[String, String]] =
    readFile(fs(spark, h.root), new Path(s"${h.root}/_LANDED")).map(
      _.split(",").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }).toMap)

  /** Land `hist` as catalog `name`, ingest partition 0. Registered
    * tables come straight back; a `_LANDED` marker with missing table
    * entries re-registers the files and recovers any interrupted
    * maintenance; only a truly absent catalog is computed. `marker`
    * adds family key/values to `_LANDED`; `prepare` runs before the
    * state rows are computed (Sem pins its geometry there).
    */
  protected def landAs(spark: SparkSession, hist: DataFrame, name: String,
      nBuckets: Int, base: String, marker: Seq[(String, String)] = Nil,
      prepare: Handle => Unit = _ => ()): Handle = {
    val n = rootName(name)
    val h = handleOf(specs.map(s => s"${n}_${s.suffix}"), s"$base/$n")
    if (h.tables.forall(spark.catalog.tableExists)) return h
    landed(spark, h) match {
      case Some(m) =>
        val nb = m.get("nBuckets").flatMap(s => scala.util.Try(s.toInt).toOption)
          .getOrElse(nBuckets)
        layout(h).foreach { case (t, s, dir) =>
          BucketedLayout.register(spark, t, s.ddl, "ingest_id", s.bucketCol,
            s.sortCols, nb, dir)
        }
        recover(spark, h)
      case None =>
        val kv = ("nBuckets" -> nBuckets.toString) +: marker
        val mark = graft.Shared.mark(spark)
        try {
          prepare(h)
          stateRows(h, hist, kv.toMap).zip(layout(h)).foreach { case (df, (t, s, dir)) =>
            BucketedLayout.write(df.withColumn("ingest_id", lit(0L)), t,
              s.bucketCol, nBuckets, s.sortCols, Some(dir), Seq("ingest_id"))
          }
          writeFile(fs(spark, h.root), new Path(s"${h.root}/_LANDED"),
            kv.map { case (k, v) => s"$k=$v" }.mkString(","))
        } finally graft.Shared.releaseSince(spark, mark)
    }
    h
  }

  /** Record `docs` (accepted batch members) as ingest partition
    * `ingestId` (> the floor; 0 is the landing) so the next screen sees
    * them as history — a dynamic partition overwrite of exactly that
    * partition.
    */
  protected def appendAs(spark: SparkSession, docs: DataFrame, h: Handle,
      ingestId: Long): Unit = {
    require(ingestId > 0, s"ingestId must be > 0 (0 is the landing): $ingestId")
    val f = floor(spark, h)
    require(ingestId > f,
      s"ingestId $ingestId is at or below the maintenance floor $f: that " +
        "batch's state was folded into the landing (or expired) — " +
        "re-appending it would duplicate state rows and corrupt screens")
    val mark = graft.Shared.mark(spark)
    try stateRows(h, docs, landed(spark, h).getOrElse(Map.empty)).zip(h.tables)
      .foreach { case (df, t) =>
        BucketedLayout.overwritePartitions(spark,
          df.withColumn("ingest_id", lit(ingestId)), t)
      }
    finally graft.Shared.releaseSince(spark, mark)
  }

  /** The landed tables (handle order), bounded to ingest partitions
    * ≤ `maxIngestId` (partition-pruned). A bound below the floor is
    * rejected.
    */
  protected def history(spark: SparkSession, h: Handle,
      maxIngestId: Option[Long]): Seq[DataFrame] = {
    maxIngestId.foreach { x =>
      val f = floor(spark, h)
      require(x >= f,
        s"history bound $x is below the catalog's maintenance floor $f " +
          s"(batches <= $f were compacted/expired; replaying one is invalid)")
    }
    h.tables.map(t => maxIngestId.fold(spark.table(t))(x =>
      spark.table(t).filter(col("ingest_id") <= x)))
  }

  /** The catalog's maintenance floor (0 = never maintained). */
  def floor(spark: SparkSession, h: Handle): Long =
    readFile(fs(spark, h.root), new Path(s"${h.root}/_FLOOR"))
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)

  private def raiseFloor(spark: SparkSession, h: Handle, v: Long): Unit =
    writeFile(fs(spark, h.root), new Path(s"${h.root}/_FLOOR"),
      math.max(floor(spark, h), v).toString)

  private def maintPath(h: Handle) = new Path(s"${h.root}/_MAINT")

  /** Ingest partition ids present under a table's data dir (listed
    * from the FILES, not the metastore — recovery must see partitions
    * whose catalog entry is gone or stale).
    */
  private def partitionIds(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_id="))
      .flatMap(n => scala.util.Try(n.stripPrefix("ingest_id=").toLong).toOption)
  }

  /** Drop one ingest partition: metadata first, then files (external
    * tables keep files on DROP PARTITION; a crash in between is what
    * [[recover]] re-runs).
    */
  private def dropPartition(spark: SparkSession, table: String, dir: String,
      id: Long): Unit = {
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (ingest_id=$id)")
    fs(spark, dir).delete(new Path(dir, s"ingest_id=$id"), true)
  }

  private def runCompact(spark: SparkSession, h: Handle, upTo: Long): Unit =
    layout(h).foreach { case (t, _, dir) =>
      val dataCols = spark.table(t).columns.toSeq.filterNot(_ == "ingest_id")
      // distinct() makes a partial-fold replay idempotent (a crashed
      // compact may have folded some tables already: partition 0 then
      // holds the union, and re-reading 0..upTo would double rows);
      // eager localCheckpoint cuts the plan from the files the
      // overwrite is about to replace (at cluster scale this would be
      // a reliable checkpoint dir — same contract, durable storage)
      val folded = spark.table(t).filter(col("ingest_id") <= upTo)
        .select(dataCols.map(col): _*).distinct()
        .withColumn("ingest_id", lit(0L))
        .localCheckpoint(true)
      BucketedLayout.overwritePartitions(spark, folded, t)
      partitionIds(spark, dir).filter(id => id > 0 && id <= upTo)
        .foreach(id => dropPartition(spark, t, dir, id))
    }

  /** Fold ingest partitions 0..`upToIngestId` into the landing — same
    * rows, same bucketing, a fraction of the partitions/files — and
    * raise the floor. A cutoff at or below the floor is a no-op (a gate
    * re-runs its lifecycle once per session).
    */
  def compact(spark: SparkSession, h: Handle, upToIngestId: Long): Unit = {
    require(upToIngestId > 0, s"compact cutoff must be > 0: $upToIngestId")
    if (upToIngestId <= floor(spark, h)) return
    writeFile(fs(spark, h.root), maintPath(h), s"compact=$upToIngestId")
    runCompact(spark, h, upToIngestId)
    raiseFloor(spark, h, upToIngestId)
    fs(spark, h.root).delete(maintPath(h), false)
  }

  private def runExpire(spark: SparkSession, h: Handle, minId: Long,
      archiveDir: Option[String]): Unit =
    layout(h).foreach { case (t, _, dir) =>
      partitionIds(spark, dir).filter(_ < minId).foreach { id =>
        archiveDir.foreach { a =>
          // copy-then-delete (not rename) keeps the drop idempotent
          // under marker recovery: a re-run overwrites the same
          // archive paths and re-deletes
          val conf = spark.sessionState.newHadoopConf()
          val src = new Path(dir, s"ingest_id=$id")
          val dst = new Path(s"$a/${dir.split('/').last}/ingest_id=$id")
          if (fs(spark, dir).exists(src))
            org.apache.hadoop.fs.FileUtil.copy(fs(spark, dir), src,
              dst.getFileSystem(conf), dst, false, true, conf)
        }
        dropPartition(spark, t, dir, id)
      }
    }

  /** Retention: drop every ingest partition below `minIngestId`
    * (including the landing if `minIngestId` > 0) and raise the floor
    * to `minIngestId - 1`. Batch ids are monotone in arrival time, so
    * an age cutoff IS an id cutoff.
    *
    * @param archiveDir with Some(dir), each partition's files are
    *   copied under `dir/<table-suffix>/ingest_id=<n>` before the drop
    *   (readable as bare parquet).
    */
  def expire(spark: SparkSession, h: Handle, minIngestId: Long,
      archiveDir: Option[String] = None): Unit = {
    require(minIngestId > 0, s"retention cutoff must be > 0: $minIngestId")
    if (minIngestId - 1 <= floor(spark, h) &&
        layout(h).forall { case (_, _, d) => partitionIds(spark, d).forall(_ >= minIngestId) })
      return
    // the marker omits the archive dir: recovery re-runs the DROPS
    // (idempotent); callers that need the archive guarantee re-issue
    // expire with the same archiveDir after a crash
    writeFile(fs(spark, h.root), maintPath(h), s"expire=$minIngestId")
    runExpire(spark, h, minIngestId, archiveDir)
    raiseFloor(spark, h, minIngestId - 1)
    fs(spark, h.root).delete(maintPath(h), false)
  }

  /** Finish an interrupted compact/expire from its `_MAINT` marker —
    * both are idempotent — then advance the floor and clear the marker.
    */
  private def recover(spark: SparkSession, h: Handle): Unit =
    readFile(fs(spark, h.root), maintPath(h)).foreach { m =>
      m.split("=", 2) match {
        case Array("compact", v) =>
          runCompact(spark, h, v.toLong)
          raiseFloor(spark, h, v.toLong)
        case Array("expire", v) =>
          runExpire(spark, h, v.toLong, None)
          raiseFloor(spark, h, v.toLong - 1)
        case _ =>
          throw new IllegalStateException(
            s"unrecognized _MAINT marker '$m' at ${h.root}")
      }
      fs(spark, h.root).delete(maintPath(h), false)
    }

  /** Drop the catalog: table entries AND files (a fresh stream over a
    * reused location must start from a fresh catalog).
    */
  def drop(spark: SparkSession, h: Handle): Unit = {
    h.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    fs(spark, h.root).delete(new Path(h.root), true)
  }

  /** Regen hygiene for FINGERPRINT-NAMED catalogs (the
    * [[graft.Shared.pruneSiblings]] discipline): each testdata regen
    * mints a new fingerprint and would strand the previous
    * incarnation's tables and data tree. Drops every catalog under
    * `base` whose logical name starts with `namePrefix`, except
    * `keepName`, with the table entries pointing at it. Callers pass a
    * prefix that pins the gate AND the scale dir, so a prune from one
    * scale never victimizes another's live catalog.
    *
    * AGE-GUARDED (the [[graft.Shared.gcStaleSiblings]] discipline):
    * only siblings whose NEWEST file is older than `maxAgeMs` go — two
    * concurrent processes mid-regen hold different fingerprints, and
    * without the guard each would delete the other's in-use catalog.
    */
  def pruneSiblings(spark: SparkSession, namePrefix: String, keepName: String,
      base: String = defaultBase, maxAgeMs: Long = 2L * 3600 * 1000): Unit = {
    val prefix = s"${tag}_${namePrefix.replaceAll("[^A-Za-z0-9_]", "_")}"
    val keep = rootName(keepName)
    val baseP = new Path(base)
    val f = fs(spark, base)
    if (!f.exists(baseP)) return
    val cutoff = System.currentTimeMillis() - maxAgeMs
    def newestMtime(p: Path, own: Long): Long = {
      var newest = own
      val it = f.listFiles(p, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    f.listStatus(baseP)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(prefix) && n != keep &&
          st.getModificationTime < cutoff &&
          scala.util.Try(newestMtime(st.getPath, st.getModificationTime))
            .getOrElse(Long.MaxValue) < cutoff
      }
      .map(_.getPath.getName)
      .foreach { n =>
        spark.sessionState.catalog.listTables("default", s"$n*").foreach { ti =>
          spark.sql(s"DROP TABLE IF EXISTS ${ti.table}")
        }
        f.delete(new Path(base, n), true)
      }
  }
}

object LandedCatalog {

  /** A landed catalog's table names + storage root. */
  trait Handle {
    def tables: Seq[String]
    def root: String
  }

  /** One landed table: name suffix, column DDL (with `ingest_id`),
    * bucket column and sort columns.
    */
  case class Spec(suffix: String, ddl: String, bucketCol: String,
      sortCols: Seq[String])

  private[graft] def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(out.toString("UTF-8").trim)
      } finally in.close()
    }

  private[graft] def writeFile(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }
}
