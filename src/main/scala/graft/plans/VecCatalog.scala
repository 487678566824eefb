package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity
import LandedCatalog.Spec

/** Landed embedding-screening catalog — the vector twin of
  * [[DedupCatalog]]: the history side of the hyperplane-LSH near-dup
  * screen as two bucketed tables ([[LandedCatalog]] for layout and
  * lifecycle).
  *
  *  - `<name>_buckets` (vec_id, tk): multi-table hyperplane bucket
  *    keys, bucketed by `tk` — the candidate join reads it
  *    co-partitioned on the join key, so only the (small) batch side
  *    shuffles;
  *  - `<name>_vectors` (vec_id, embedding): the raw vectors, bucketed
  *    by `vec_id` — the decimal-verify join key.
  */
object VecCatalog extends LandedCatalog("graft_vccat") {

  /** The two landed table names + storage root for one catalog. */
  case class Handle(bucketsT: String, vectorsT: String, root: String)
      extends LandedCatalog.Handle {
    def tables: Seq[String] = Seq(bucketsT, vectorsT)
  }

  protected def handleOf(t: Seq[String], root: String): Handle =
    Handle(t(0), t(1), root)

  protected val specs = Seq(
    Spec("buckets", "vec_id BIGINT, tk STRING, ingest_id BIGINT", "tk", Seq("tk")),
    Spec("vectors", "vec_id BIGINT, embedding ARRAY<FLOAT>, ingest_id BIGINT",
      "vec_id", Seq("vec_id")))

  protected def stateRows(h: Handle, emb: DataFrame,
      landed: Map[String, String]): Seq[DataFrame] =
    Seq(Similarity.bucketKeys(emb, "vec_id"), emb.select("vec_id", "embedding"))

  /** Land `histEmb` (a (vec_id, embedding) frame) as the screening
    * catalog `name`, as ingest partition 0 (or reattach to it).
    */
  def land(spark: SparkSession, histEmb: DataFrame, name: String,
      nBuckets: Int = 8, base: String = defaultBase): Handle =
    landAs(spark, histEmb, name, nBuckets, base)

  /** Screen a batch of vectors against the landed catalog — the
    * per-ingest-batch operator. `maxIngestId` bounds the visible
    * history exactly like [[DedupCatalog.screen]].
    */
  def screen(spark: SparkSession, batchEmb: DataFrame, h: Handle,
      threshold: Double = 0.95, maxIngestId: Option[Long] = None,
      multiProbe: Boolean = false): DataFrame = {
    val Seq(buckets, vectors) = history(spark, h, maxIngestId)
    Similarity.embeddingScreen(batchEmb, buckets.select("vec_id", "tk"),
      vectors.select("vec_id", "embedding"), threshold, multiProbe = multiProbe)
  }

  /** Record `emb` (accepted batch members) as ingest partition
    * `ingestId` so the next screen sees them as history.
    */
  def append(spark: SparkSession, emb: DataFrame, h: Handle,
      ingestId: Long): Unit = appendAs(spark, emb, h, ingestId)
}
