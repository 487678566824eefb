package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{BucketedLayout, DedupCatalog, GramCatalog, LandedCatalog,
  SemCatalog, SigCatalog, VecCatalog}

/** Catalog maintenance lifecycle: compaction must be a pure LAYOUT
  * change (screen verdicts identical, partition/file count drops),
  * retention must actually forget state, floors must reject replays of
  * folded/expired batches, an interrupted operation must complete from
  * its marker on reattach, and the persisted bucket count must win
  * over a mismatched re-register parameter.
  */
class CatalogMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, dir).select("doc_id", "text")

  private def evens(lo: Int, hi: Int) =
    docs.filter(col("doc_id") % 2 === 0 && col("doc_id") >= lo && col("doc_id") < hi)

  /** Odd docs planted as near-dups of their even twins (the standard
    * fixture shape): twins of docs across the landing AND the appended
    * ranges, so verdict equality spans every folded partition.
    */
  private def probe = {
    val twin = docs.select((col("doc_id") + 1).as("doc_id"), col("text").as("h_text"))
    docs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("h_text"), lit(" zz")))
          .otherwise(col("text")).as("text"))
  }

  private def ingestDirs(root: String, sfx: String): Seq[String] = {
    val p = new Path(s"$root/$sfx")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_id="))
  }

  /** One catalog family under the shared lifecycle: a landing of even
    * ids below 300, appended batches 1 and 2 (even ids in [300, 400)
    * and [400, 500)), and a verdict probe whose answer compaction must
    * not change. `marker` is the `_LANDED` content the family's landing
    * wrote before the lifecycle moved into one base class.
    */
  private abstract class Family(val name: String) {
    val cat: LandedCatalog
    def land(n: String, nBuckets: Int = 8): cat.Handle
    def append(h: cat.Handle, id: Long): Unit
    def verdicts(h: cat.Handle): Seq[String]
    def marker(nBuckets: Int): String = s"nBuckets=$nBuckets"
    def checkMarker(h: cat.Handle): Unit = ()
  }

  private def evenIds(df: DataFrame, id: String, lo: Int, hi: Int) =
    df.filter(col(id) % 2 === 0 && col(id) >= lo && col(id) < hi)

  private def batchRange(id: Long) = ((200 + 100 * id).toInt, (300 + 100 * id).toInt)

  private def rows(df: DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).sorted.toSeq
    Shared.releaseAll(spark)
    r
  }

  private def emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def vecProbe = {
    val twin = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("h_emb"))
    emb.filter(col("vec_id") % 2 === 1)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 3, col("h_emb"))
          .otherwise(col("embedding")).as("embedding"))
  }

  private def sigs = graft.operators.Multimodal.dhashSignatures(spark, dir)

  private def sigProbe = {
    val twin = sigs.select((col("doc_id") + 1).as("doc_id"), col("sh").as("h_sh"))
    sigs.filter(col("doc_id") % 2 === 1)
      .join(twin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1 && col("h_sh").isNotNull,
          col("h_sh").bitwiseXOR(lit(1L)))
          .otherwise(col("sh")).as("sh"))
  }

  private def families: Seq[Family] = Seq(
    new Family("dedup") {
      val cat: DedupCatalog.type = DedupCatalog
      def land(n: String, nBuckets: Int) =
        DedupCatalog.land(spark, evens(0, 300), n, nBuckets = nBuckets)
      def append(h: cat.Handle, id: Long) = {
        val (lo, hi) = batchRange(id)
        DedupCatalog.append(spark, evens(lo, hi), h, id)
      }
      def verdicts(h: cat.Handle) = rows(DedupCatalog.screen(spark, probe, h))
    },
    new Family("gram") {
      val cat: GramCatalog.type = GramCatalog
      def land(n: String, nBuckets: Int) =
        GramCatalog.land(spark, evens(0, 300), n, k = 4, nBuckets = nBuckets)
      def append(h: cat.Handle, id: Long) = {
        val (lo, hi) = batchRange(id)
        GramCatalog.append(spark, evens(lo, hi), h, id)
      }
      def verdicts(h: cat.Handle) = rows(GramCatalog.stats(spark, h))
      override def marker(nBuckets: Int) = s"nBuckets=$nBuckets,k=4"
      override def checkMarker(h: cat.Handle) =
        assert(GramCatalog.kOf(spark, h) === 4, "reattach lost the persisted k")
    },
    new Family("sem") {
      val cat: SemCatalog.type = SemCatalog
      def land(n: String, nBuckets: Int) =
        SemCatalog.land(spark, evenIds(emb, "vec_id", 0, 300), n, nBuckets = nBuckets)
      def append(h: cat.Handle, id: Long) = {
        val (lo, hi) = batchRange(id)
        SemCatalog.append(spark, evenIds(emb, "vec_id", lo, hi), h, id)
      }
      def verdicts(h: cat.Handle) = rows(SemCatalog.screen(spark, vecProbe, h))
    },
    new Family("vec") {
      val cat: VecCatalog.type = VecCatalog
      def land(n: String, nBuckets: Int) =
        VecCatalog.land(spark, evenIds(emb, "vec_id", 0, 300), n, nBuckets = nBuckets)
      def append(h: cat.Handle, id: Long) = {
        val (lo, hi) = batchRange(id)
        VecCatalog.append(spark, evenIds(emb, "vec_id", lo, hi), h, id)
      }
      def verdicts(h: cat.Handle) = rows(VecCatalog.screen(spark, vecProbe, h))
    },
    new Family("sig") {
      val cat: SigCatalog.type = SigCatalog
      def land(n: String, nBuckets: Int) =
        SigCatalog.land(spark, evenIds(sigs, "doc_id", 0, 300), n, nBuckets = nBuckets)
      def append(h: cat.Handle, id: Long) = {
        val (lo, hi) = batchRange(id)
        SigCatalog.append(spark, evenIds(sigs, "doc_id", lo, hi), h, id)
      }
      def verdicts(h: cat.Handle) = rows(SigCatalog.screen(spark, sigProbe, h))
    })

  private def suffixes(h: LandedCatalog.Handle): Seq[String] =
    h.tables.map(_.stripPrefix(new Path(h.root).getName + "_"))

  families.foreach { f =>
    test(s"an interrupted compact completes from its marker on reattach: ${f.name}") {
      val name = s"maint_recover_${f.name}"
      val h = f.land(name)
      try {
        f.append(h, 1)
        f.append(h, 2)
        val before = f.verdicts(h)
        assert(before.nonEmpty, s"no ${f.name} verdicts before the crash")
        // crash mid-compact: the intent marker is down and the first
        // table's partitions 0..2 are folded into partition 0, but
        // partitions 1..2 were never dropped and the session died
        val fs = new Path(h.root).getFileSystem(spark.sessionState.newHadoopConf())
        LandedCatalog.writeFile(fs, new Path(s"${h.root}/_MAINT"), "compact=2")
        val t = h.tables.head
        BucketedLayout.overwritePartitions(spark, spark.table(t)
          .filter(col("ingest_id") <= 2).drop("ingest_id").distinct()
          .withColumn("ingest_id", lit(0L)).localCheckpoint(true), t)
        h.tables.foreach(t => spark.sql(s"DROP TABLE $t"))
        // reattach runs recovery: the fold completes, the floor advances
        val h2 = f.land(name)
        assert(h2 === h)
        assert(!fs.exists(new Path(s"${h.root}/_MAINT")), "marker not cleared")
        assert(f.cat.floor(spark, h2) === 2L)
        suffixes(h2).foreach(sfx => assert(ingestDirs(h2.root, sfx) === Seq("ingest_id=0")))
        assert(f.verdicts(h2) === before,
          s"recovered ${f.name} compaction changed screen verdicts")
      } finally f.cat.drop(spark, h)
    }

    test(s"re-register uses the persisted bucket count from a parent-format marker: ${f.name}") {
      val name = s"maint_marker_${f.name}"
      val h = f.land(name, nBuckets = 4)
      try {
        val before = f.verdicts(h)
        // the marker exactly as the per-family landings wrote it
        val fs = new Path(h.root).getFileSystem(spark.sessionState.newHadoopConf())
        LandedCatalog.writeFile(fs, new Path(s"${h.root}/_LANDED"), f.marker(4))
        h.tables.foreach(t => spark.sql(s"DROP TABLE $t"))
        // restart with the DEFAULT bucket count: the persisted 4 wins
        val h2 = f.land(name)
        h2.tables.foreach { t =>
          val nb = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
            .bucketSpec.map(_.numBuckets)
          assert(nb === Some(4), s"$t re-registered with $nb buckets")
        }
        f.checkMarker(h2)
        assert(f.verdicts(h2) === before)
      } finally f.cat.drop(spark, h)
    }
  }

  test("compact folds partitions without changing screen verdicts; floors reject replays") {
    val cat = DedupCatalog.land(spark, evens(0, 300), "maint_compact")
    try {
      DedupCatalog.append(spark, evens(300, 400), cat, ingestId = 1)
      DedupCatalog.append(spark, evens(400, 500), cat, ingestId = 2)
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(before.nonEmpty, "no planted verdicts before compaction")
      assert(ingestDirs(cat.root, "bands").size === 3)

      DedupCatalog.compact(spark, cat, upToIngestId = 2)
      val after = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.map(_.toString) === before.map(_.toString),
        "compaction changed screen verdicts")
      assert(ingestDirs(cat.root, "bands") === Seq("ingest_id=0"),
        s"bands partitions not folded: ${ingestDirs(cat.root, "bands")}")
      assert(ingestDirs(cat.root, "shingles") === Seq("ingest_id=0"))
      assert(DedupCatalog.floor(spark, cat) === 2L)

      // replay of a compacted-away batch id must be rejected — its rows
      // already live in partition 0
      intercept[IllegalArgumentException] {
        DedupCatalog.append(spark, evens(300, 400), cat, ingestId = 1)
      }
      // a screen bound below the floor can no longer be honored
      intercept[IllegalArgumentException] {
        DedupCatalog.screen(spark, probe, cat, maxIngestId = Some(1L))
      }
      // re-compacting at or below the floor is a no-op (gate re-runs)
      DedupCatalog.compact(spark, cat, upToIngestId = 2)
      // the ingest loop continues above the floor; the new batch is
      // content-disjoint (unique md5 tokens) so verdicts are unchanged
      DedupCatalog.append(spark, evens(300, 400)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat_ws(" ", (1 to 6).map(i =>
            md5(concat(col("doc_id"), lit(s"|u$i")))): _*).as("text")),
        cat, ingestId = 3)
      val cont = DedupCatalog.screen(spark, probe, cat, maxIngestId = Some(3L))
        .collect().toSeq
      Shared.releaseAll(spark)
      assert(cont.map(_.toString) === before.map(_.toString),
        "post-compaction append broke the screen")
    } finally DedupCatalog.drop(spark, cat)
  }

  test("expire forgets aged state and blocks resurrection") {
    val cat = DedupCatalog.land(spark, evens(0, 100), "maint_expire")
    try {
      DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(before.exists(_.getLong(2) < 100L),
        "fixture has no verdict matching the landing")
      assert(before.exists(_.getLong(2) >= 100L),
        "fixture has no verdict matching the appended batch")

      // age out the landing (partition 0): its docs are forgotten
      DedupCatalog.expire(spark, cat, minIngestId = 1)
      val after = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.nonEmpty && after.forall(_.getLong(2) >= 100L),
        s"expired landing still matched: ${after.filter(_.getLong(2) < 100L)}")
      assert(ingestDirs(cat.root, "bands") === Seq("ingest_id=1"))

      // age out batch 1 too; floor rises and re-appending id 1 is blocked
      DedupCatalog.expire(spark, cat, minIngestId = 2)
      assert(DedupCatalog.floor(spark, cat) === 1L)
      intercept[IllegalArgumentException] {
        DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      }
      val none = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      assert(none.isEmpty, s"fully expired catalog still matched: $none")
    } finally DedupCatalog.drop(spark, cat)
  }

  test("expire with an archive dir demotes partitions to cold storage before dropping") {
    import spark.implicits._
    val cat = DedupCatalog.land(spark, evens(0, 100), "maint_archive")
    val arch = java.nio.file.Files.createTempDirectory("maint_arch").toString
    try {
      DedupCatalog.append(spark, evens(100, 300), cat, ingestId = 1)
      val sizesBefore = spark.table(cat.sizesT)
        .filter(col("ingest_id") === 0).select("doc").as[Long].collect().toSet
      DedupCatalog.expire(spark, cat, minIngestId = 1, archiveDir = Some(arch))
      // forgotten by the catalog…
      assert(ingestDirs(cat.root, "sizes") === Seq("ingest_id=1"))
      // …but readable as bare parquet from the archive, row-for-row
      val archived = spark.read.parquet(s"$arch/sizes/ingest_id=0")
        .select("doc").as[Long].collect().toSet
      assert(archived === sizesBefore,
        s"archive lost rows: ${(sizesBefore -- archived).take(5)}")
    } finally {
      DedupCatalog.drop(spark, cat)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(arch))
    }
  }

  test("an interrupted compact completes from its marker on reattach") {
    val cat = DedupCatalog.land(spark, evens(0, 300), "maint_recover")
    try {
      DedupCatalog.append(spark, evens(300, 400), cat, ingestId = 1)
      DedupCatalog.append(spark, evens(400, 500), cat, ingestId = 2)
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      // simulate a crash between writing the intent marker and the
      // fold: the marker exists, nothing was folded, the session died
      val fs = new Path(cat.root).getFileSystem(spark.sessionState.newHadoopConf())
      graft.plans.LandedCatalog.writeFile(fs,
        new Path(s"${cat.root}/_MAINT"), "compact=2")
      Seq(cat.bandsT, cat.shinglesT, cat.sizesT)
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      // reattach runs recovery: the fold completes, the floor advances
      val cat2 = DedupCatalog.land(spark, evens(0, 300), "maint_recover")
      assert(!fs.exists(new Path(s"${cat.root}/_MAINT")), "marker not cleared")
      assert(DedupCatalog.floor(spark, cat2) === 2L)
      assert(ingestDirs(cat2.root, "bands") === Seq("ingest_id=0"))
      val after = DedupCatalog.screen(spark, probe, cat2).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.map(_.toString) === before.map(_.toString),
        "recovered compaction changed screen verdicts")
    } finally DedupCatalog.drop(spark, cat)
  }

  test("re-register uses the persisted bucket count, not the call-site parameter") {
    val hist = evens(0, 300)
    val cat = DedupCatalog.land(spark, hist, "maint_nbuckets", nBuckets = 4)
    try {
      val before = DedupCatalog.screen(spark, probe, cat).collect().toSeq
      Shared.releaseAll(spark)
      Seq(cat.bandsT, cat.shinglesT, cat.sizesT)
        .foreach(t => spark.sql(s"DROP TABLE $t"))
      // restart path called with the DEFAULT bucket count (8): the
      // files were written with 4 — a re-register at 8 would make the
      // bucketed scan silently drop files with bucket id >= 8... with
      // 4-bucket files it is the join co-partitioning that breaks;
      // either way the persisted value must win
      val cat2 = DedupCatalog.land(spark, hist, "maint_nbuckets")
      val desc = spark.sql(s"DESCRIBE FORMATTED ${cat2.bandsT}").collect()
        .map(_.mkString(" ")).mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("4"),
        s"re-registered bucket spec lost the persisted count:\n$desc")
      val after = DedupCatalog.screen(spark, probe, cat2).collect().toSeq
      Shared.releaseAll(spark)
      assert(after.map(_.toString) === before.map(_.toString))
    } finally DedupCatalog.drop(spark, cat)
  }

  test("vector catalog: compact preserves screen verdicts; expire forgets") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val twin = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("h_emb"))
    val vprobe = emb.filter(col("vec_id") % 2 === 1)
      .join(twin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 3, col("h_emb"))
          .otherwise(col("embedding")).as("embedding"))
    def vevens(lo: Int, hi: Int) =
      emb.filter(col("vec_id") % 2 === 0 && col("vec_id") >= lo && col("vec_id") < hi)
    val cat = VecCatalog.land(spark, vevens(0, 300), "maint_vec")
    try {
      VecCatalog.append(spark, vevens(300, 500), cat, ingestId = 1)
      val before = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(before.nonEmpty, "no planted vector verdicts")
      VecCatalog.compact(spark, cat, upToIngestId = 1)
      val after = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(after.map(_.toString) === before.map(_.toString),
        "vector compaction changed screen verdicts")
      assert(ingestDirs(cat.root, "buckets") === Seq("ingest_id=0"))
      assert(VecCatalog.floor(spark, cat) === 1L)
      intercept[IllegalArgumentException] {
        VecCatalog.append(spark, vevens(300, 500), cat, ingestId = 1)
      }
      // retention: forget everything — no verdicts remain
      VecCatalog.expire(spark, cat, minIngestId = 1)
      val none = VecCatalog.screen(spark, vprobe, cat).collect().toSeq
      assert(none.isEmpty, s"expired vector catalog still matched: $none")
    } finally VecCatalog.drop(spark, cat)
  }

  test("pruneSiblings drops a stale fingerprint's catalog but never another scale's, the keeper, or a FRESH sibling") {
    import org.apache.hadoop.fs.Path
    val emb = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").filter(col("vec_id") < 50)
    // simulate two testdata regens of one gate (same logical prefix,
    // different fingerprints) plus a DIFFERENT scale dir's catalog
    // that shares everything up to the dir segment
    val stale = VecCatalog.land(spark, emb, "spec_prune_sfA_11111111")
    val keep = VecCatalog.land(spark, emb, "spec_prune_sfA_22222222")
    val other = VecCatalog.land(spark, emb, "spec_prune_sfB_33333333")
    try {
      val fs = new Path(VecCatalog.defaultBase)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new Path(stale.root)) && fs.exists(new Path(keep.root)))
      // the AGE GUARD (round-19 advice): a just-built sibling is what
      // a CONCURRENT process mid-regen holds — the default prune must
      // leave it alone, files and table entries both, or two racing
      // sessions would each delete the other's in-use catalog
      VecCatalog.pruneSiblings(spark, "spec_prune_sfA_", "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(stale.root)),
        "a fresh sibling was pruned — the concurrent-regen age guard is gone")
      assert(spark.catalog.tableExists(stale.bucketsT))
      // age the stale incarnation past the threshold (recursive: the
      // guard checks the NEWEST file under the root)
      def ageTree(p: Path): Unit = {
        val old = System.currentTimeMillis() - 3L * 3600 * 1000
        def walk(q: Path): Unit = {
          fs.setTimes(q, old, -1)
          if (fs.getFileStatus(q).isDirectory)
            fs.listStatus(q).foreach(st => walk(st.getPath))
        }
        walk(p)
      }
      ageTree(new Path(stale.root))
      VecCatalog.pruneSiblings(spark, "spec_prune_sfA_", "spec_prune_sfA_22222222")
      // the stale incarnation is gone — files AND table entries
      assert(!fs.exists(new Path(stale.root)), "stale root survived the prune")
      assert(!spark.catalog.tableExists(stale.bucketsT),
        "stale table entry survived the prune")
      // the keeper and the other scale's catalog are untouched and
      // still SCREENABLE (table entries intact, data readable) — the
      // keeper is protected BY NAME even when aged past the threshold
      ageTree(new Path(keep.root))
      VecCatalog.pruneSiblings(spark, "spec_prune_sfA_", "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(keep.root)) && fs.exists(new Path(other.root)))
      assert(VecCatalog.screen(spark, emb, keep).columns.nonEmpty)
      assert(spark.catalog.tableExists(other.bucketsT),
        "another scale's catalog was victimized")
      // idempotent: pruning again is a no-op
      VecCatalog.pruneSiblings(spark, "spec_prune_sfA_", "spec_prune_sfA_22222222")
      assert(fs.exists(new Path(keep.root)))
    } finally {
      VecCatalog.drop(spark, keep)
      VecCatalog.drop(spark, other)
      VecCatalog.drop(spark, stale)
    }
  }
}
