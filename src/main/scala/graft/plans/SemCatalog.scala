package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import LandedCatalog.Spec

/** Landed semantic-dedup catalog — the SemDeDup twin of
  * [[VecCatalog]]: the history side of the cluster-then-prune screen
  * is assigned ONCE into its cells and landed as one cid-bucketed
  * table ([[LandedCatalog]] for layout and lifecycle), so every later
  * screen joins the batch's cell assignments against a co-partitioned
  * history — only the (small) batch side shuffles.
  *
  *  - `<name>_cells` (vec_id, cid, embedding): history vectors with
  *    their cell assignment, bucketed by `cid` (the within-cell
  *    candidate join's key);
  *  - `<root>/cents` (cid, ce): the landing's centroid geometry as
  *    plain parquet — PINNED: every batch (and every append) is
  *    assigned with these exact centroids, so verdicts can never
  *    shift because later arrivals displaced a seed, and a fresh
  *    session reattaches to the same geometry. Compaction leaves it
  *    untouched (cells only move between partitions).
  */
object SemCatalog extends LandedCatalog("graft_smcat") {

  /** The landed table name + storage root for one catalog. */
  case class Handle(cellsT: String, root: String) extends LandedCatalog.Handle {
    def tables: Seq[String] = Seq(cellsT)
  }

  protected def handleOf(t: Seq[String], root: String): Handle = Handle(t(0), root)

  protected val specs = Seq(Spec("cells",
    "vec_id BIGINT, cid BIGINT, embedding ARRAY<FLOAT>, ingest_id BIGINT",
    "cid", Seq("cid")))

  // assigned with the LANDED geometry, never re-seeded. Empty-geometry
  // guard: the literal-argmax assignment yields a typed NULL cid when
  // the centroid set is empty; screens never match a null cid, but a
  // PERSISTED null-cid state row would outlive the bootstrap, so
  // durable state never carries one.
  protected def stateRows(h: Handle, emb: DataFrame,
      landed: Map[String, String]): Seq[DataFrame] =
    Seq(Similarity.withAssignedCid(emb, cents(emb.sparkSession, h))
      .filter(col("cid").isNotNull)
      .select(col("vec_id"), col("cid"), col("embedding")))

  /** Land `histEmb` as the semantic catalog `name` (ingest partition
    * 0): seed centroids, persist the geometry, assign, write the
    * cid-bucketed cells table — or reattach to it.
    */
  def land(spark: SparkSession, histEmb: DataFrame, name: String,
      nCentroids: Int = 16, nBuckets: Int = 8,
      base: String = defaultBase): Handle =
    landAs(spark, histEmb, name, nBuckets, base, prepare = h =>
      Similarity.ivfCentroids(histEmb, nCentroids)
        .write.mode("overwrite").parquet(s"${h.root}/cents"))

  /** The landed centroid geometry (cid, ce) — k rows of parquet. */
  def cents(spark: SparkSession, h: Handle): DataFrame =
    spark.read.parquet(s"${h.root}/cents")
      .select(col("cid"), col("ce"))

  /** Screen a batch against the landed cells: assign with the PINNED
    * landed geometry, then the within-cell candidate join against the
    * co-partitioned history — history-only verdicts
    * (vec_id, cid, kept_by, max_cos), the [[VecCatalog.screen]]
    * contract (the ingest loop adds the intra-batch rule itself).
    * `maxIngestId` bounds visible history for crash-replayed batches.
    */
  def screen(spark: SparkSession, batchEmb: DataFrame, h: Handle,
      threshold: Double = 0.95, maxIngestId: Option[Long] = None): DataFrame = {
    val Seq(cells) = history(spark, h, maxIngestId)
    val b = Similarity.withAssignedCid(batchEmb, cents(spark, h))
      .select(col("cid"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    Similarity.semanticRollup(Similarity.semanticHits(b,
      cells.select(col("cid"), col("vec_id").as("h_id"), col("embedding").as("vh")),
      threshold))
  }

  /** Record accepted batch members as ingest partition `ingestId`,
    * assigned with the LANDED geometry.
    */
  def append(spark: SparkSession, emb: DataFrame, h: Handle,
      ingestId: Long): Unit = appendAs(spark, emb, h, ingestId)
}
