package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import LandedCatalog.Spec

/** Landed substring-dedup gram-stats catalog — the production shape
  * of [[graft.operators.Dedup.dupSpansIncrementalFrom]]'s history
  * side (closing the layout decision DESIGN §8 had deferred): the
  * ingested corpus's per-gram statistics live as ONE bucketed table
  * ([[LandedCatalog]] for layout and lifecycle)
  *
  *  - `<name>_stats` (gram, df, gmin): bucketed by `gram`,
  *
  * and the key property making a single table suffice is that gram
  * stats are a MERGEABLE aggregate: each partition carries the stats
  * of its own disjoint ingest batch, so the catalog view is
  * `SUM(df), MIN(gmin) GROUP BY gram` across partitions — read
  * co-partitioned from the bucketed layout, so the merge aggregate
  * needs no Exchange (pinned in spec).
  *
  * For THIS catalog the generic fold is provably verdict-invisible:
  * SUM/MIN are associative over the folded rows, and the fold's
  * `distinct()` can never merge two legitimate rows, because disjoint
  * ingest batches give the same gram different `gmin` values (gmin is
  * a doc of the contributing batch). Expiry makes aged grams' df
  * contributions stop counting toward duplication. Pinned in
  * GramCatalogSpec.
  *
  * Contract: ingest batches carry DISJOINT doc sets (df sums assume
  * it), and k is fixed per catalog (stored in the `_LANDED` marker —
  * mixing gram widths would merge apples with oranges).
  */
object GramCatalog extends LandedCatalog("graft_gramcat") {

  case class Handle(statsT: String, root: String) extends LandedCatalog.Handle {
    def tables: Seq[String] = Seq(statsT)
  }

  protected def handleOf(t: Seq[String], root: String): Handle = Handle(t(0), root)

  protected val specs = Seq(Spec("stats",
    "gram STRING, df BIGINT, gmin BIGINT, ingest_id BIGINT", "gram", Seq("gram")))

  private def k(landed: Map[String, String]): Int =
    landed.get("k").map(_.toInt).getOrElse(Dedup.ShingleN)

  protected def stateRows(h: Handle, docs: DataFrame,
      landed: Map[String, String]): Seq[DataFrame] =
    Seq(Dedup.gramStats(docs, k(landed)))

  /** The catalog's fixed gram width (from the `_LANDED` marker). */
  def kOf(spark: SparkSession, h: Handle): Int =
    k(landed(spark, h).getOrElse(Map.empty))

  /** Land `histDocs` as catalog `name`, ingest partition 0 (or
    * reattach to it); `k` is recorded in the marker.
    */
  def land(spark: SparkSession, histDocs: DataFrame, name: String,
      k: Int = Dedup.ShingleN, nBuckets: Int = 8,
      base: String = defaultBase): Handle =
    landAs(spark, histDocs, name, nBuckets, base, marker = Seq("k" -> k.toString))

  /** Record an accepted batch's gram stats as ingest partition
    * `ingestId` (> 0; 0 is the landing).
    */
  def append(spark: SparkSession, docs: DataFrame, h: Handle,
      ingestId: Long): Unit = appendAs(spark, docs, h, ingestId)

  /** The merged catalog view ≤ `maxIngestId`: SUM(df) / MIN(gmin) per
    * gram across ingest partitions — co-partitioned on the bucket key,
    * so no Exchange feeds the merge aggregate (pinned in spec).
    */
  def stats(spark: SparkSession, h: Handle,
      maxIngestId: Option[Long] = None): DataFrame =
    history(spark, h, maxIngestId).head
      .groupBy("gram").agg(sum("df").as("df"), min("gmin").as("gmin"))

  /** Screen a batch against the landed catalog — the per-ingest-batch
    * substring-dedup operator. `maxIngestId` bounds visible history
    * exactly as in [[DedupCatalog.screen]].
    */
  def screen(spark: SparkSession, batchDocs: DataFrame, h: Handle,
      minDocs: Int = 2, maxIngestId: Option[Long] = None): DataFrame =
    Dedup.dupSpansIncrementalFrom(batchDocs, stats(spark, h, maxIngestId),
      kOf(spark, h), minDocs)
}
