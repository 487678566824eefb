package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup
import LandedCatalog.Spec

/** Landed near-dup screening catalog — the production shape of the
  * incremental dedup surface (closing round 9's "history recomputed
  * in-plan" gap): the history side of the MinHash screen as three
  * bucketed tables ([[LandedCatalog]] for layout and lifecycle).
  *
  *  - `<name>_bands`    (doc, bk): band keys, bucketed by `bk` — the
  *    candidate join reads it co-partitioned on the join key, so only
  *    the (small) batch side shuffles;
  *  - `<name>_shingles` (doc, sg): shingle sets, bucketed by `doc` —
  *    the Jaccard-verify join key;
  *  - `<name>_sizes`    (doc, n): shingle-set sizes, bucketed by `doc`.
  */
object DedupCatalog extends LandedCatalog("graft_ddcat") {

  /** The three landed table names + storage root for one catalog. */
  case class Handle(bandsT: String, shinglesT: String, sizesT: String,
      root: String) extends LandedCatalog.Handle {
    def tables: Seq[String] = Seq(bandsT, shinglesT, sizesT)
  }

  protected def handleOf(t: Seq[String], root: String): Handle =
    Handle(t(0), t(1), t(2), root)

  protected val specs = Seq(
    Spec("bands", "doc BIGINT, bk STRING, ingest_id BIGINT", "bk", Seq("bk")),
    Spec("shingles", "doc BIGINT, sg STRING, ingest_id BIGINT", "doc", Seq("doc", "sg")),
    Spec("sizes", "doc BIGINT, n BIGINT, ingest_id BIGINT", "doc", Seq("doc")))

  // shingles and signatures are materialized once per land/append:
  // each feeds two of the three tables
  protected def stateRows(h: Handle, docs: DataFrame,
      landed: Map[String, String]): Seq[DataFrame] = {
    val sh = graft.Shared.materialize(
      Dedup.shinglesOf(docs, "doc").toDF("doc", "sg"))
    val sig = graft.Shared.materialize(Dedup.minhashSignaturesFrom(sh, "doc"))
    Seq(Dedup.bandKeys(sig, "doc"), sh, sig.select("doc", "n"))
  }

  /** Land `histDocs` (a (doc_id, text, …) frame) as the screening
    * catalog `name`, as ingest partition 0 (or reattach to it).
    */
  def land(spark: SparkSession, histDocs: DataFrame, name: String,
      nBuckets: Int = 8, base: String = defaultBase): Handle =
    landAs(spark, histDocs, name, nBuckets, base)

  /** Screen a batch of documents against the landed catalog — the
    * per-ingest-batch operator. Everything batch-sized is derived
    * in-plan; everything history-sized is a bucketed table read.
    *
    * @param maxIngestId only screen against ingest partitions ≤ this
    *   id. The streaming append loop passes its batch id so a
    *   crash-replayed batch cannot see the partition it appended before
    *   the crash — without the bound, every survivor would self-match
    *   at jac 1.0 on replay.
    */
  def screen(spark: SparkSession, batchDocs: DataFrame, h: Handle,
      threshold: Double = Dedup.JaccardThreshold,
      maxIngestId: Option[Long] = None): DataFrame = {
    val Seq(bands, shingles, sizes) = history(spark, h, maxIngestId)
    Dedup.minhashLshScreen(Dedup.shinglesOf(batchDocs, "doc"),
      bands.select("doc", "bk"), shingles.select("doc", "sg"),
      sizes.select("doc", "n"), threshold)
  }

  /** Record `docs` (accepted batch members) as ingest partition
    * `ingestId` so the next screen sees them as history.
    */
  def append(spark: SparkSession, docs: DataFrame, h: Handle,
      ingestId: Long): Unit = appendAs(spark, docs, h, ingestId)
}
