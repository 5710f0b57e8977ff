package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * upstream.item maintenance (SURVEY.md §2.1 S3, port of
 * dags/osm_bjk/fetch_dataframe_operator.py:33-163): a fetched dataset batch
 * is merged into the item table either as
 *
 *  - FULL REFRESH (no stable original_id): the dataset's partition is
 *    replaced wholesale (the reference DELETEs all + re-inserts); or
 *  - KEYED UPSERT on (dataset_id, original_id): existing rows update
 *    geometry/attributes/updated_at, new rows insert, and rows absent from
 *    the batch are pruned ("prune-deleted").
 *
 * Ids are stable across upserts: an existing row keeps its id; new rows get
 * deterministic ids (63-bit xxhash of (dataset_id, original_id) — the full
 * hash space, not a 10^12 slice, so birthday collisions stay negligible even
 * at 10^9 items), so re-running a fetch is idempotent. The reference uses a
 * DB sequence which cannot collide; since a hash can, every sync AUDITS the
 * written partition and fails loudly on an id collision instead of silently
 * merging two items.
 *
 * Storage is PARTITIONED BY DATASET as [[PartitionedStore.Snapshots]]
 * (`ds=<id>/v=N`; the snapshot/pointer protocol and its Iceberg mapping are
 * described there): a sync reads and rewrites ONLY its dataset — O(dataset),
 * not O(all datasets) — matching the reference's LIST partitioning
 * (07-upstream-base.sql:29-44) where each sync touches one partition.
 */
class UpstreamSync(spark: SparkSession, path: String) {

  /** deterministic 63-bit non-negative id from (dataset_id, original_id). */
  private def itemId(datasetId: Long) =
    xxhash64(lit(datasetId), col("original_id")).bitwiseAND(lit(Long.MaxValue))

  /** fail loudly if two distinct original_ids hash to one id (ADVICE r1), OR
    * if one original_id appears twice in a batch — PG's INSERT .. ON CONFLICT
    * DO UPDATE errors with "cannot affect row a second time" on intra-batch
    * duplicates, and committing both would silently violate the reference's
    * (dataset_id, original_id) uniqueness forever (the next upsert's inner
    * join reproduces one row per surviving duplicate). */
  private def auditIds(fresh: DataFrame): Unit = {
    val bad = fresh.groupBy("id")
      .agg(countDistinct(col("original_id")).as("n_oids"), count(lit(1)).as("n_rows"))
      .filter(col("n_oids") > 1 || col("n_rows") > 1)
      .agg(sum(when(col("n_oids") > 1, 1).otherwise(0)).as("collisions"),
           sum(when(col("n_rows") > col("n_oids"), 1).otherwise(0)).as("dups"))
      .head()
    val collisions = if (bad.isNullAt(0)) 0L else bad.getLong(0)
    val dups = if (bad.isNullAt(1)) 0L else bad.getLong(1)
    require(collisions == 0, s"upstream item id collision on $collisions ids — re-key the dataset")
    require(dups == 0, s"batch carries $dups duplicated original_ids — " +
      "the reference's ON CONFLICT would reject this batch (dirty upstream data)")
  }

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id LONG, dataset_id LONG, original_id STRING, geometry BINARY, " +
    "original_attributes STRING, updated_at TIMESTAMP")

  private val snapshots = new PartitionedStore.Snapshots(spark, path, "ds", schema)

  // datasets with a committed snapshot; one dataset's latest snapshot (a
  // pruned read); the current item table across all datasets
  def datasets: Seq[Long] = snapshots.keys.map(_.toLong).sorted
  def itemsFor(datasetId: Long): DataFrame = snapshots.latest(datasetId.toString)
  def items(): DataFrame = snapshots.latest(datasets.map(_.toString))

  /** full refresh: replace one dataset partition wholesale. */
  def fullRefresh(datasetId: Long, batch: DataFrame): Unit = {
    val fresh = batch
      .withColumn("dataset_id", lit(datasetId))
      .withColumn("id", itemId(datasetId))
    auditIds(fresh)
    snapshots.commit(datasetId.toString, fresh, s"fullRefresh:ds=$datasetId")
  }

  /** keyed upsert + prune-deleted on (dataset_id, original_id). */
  def upsert(datasetId: Long, batch: DataFrame): (Long, Long, Long) = {
    val existing = itemsFor(datasetId).cache()
    val b = batch.withColumn("dataset_id", lit(datasetId)).cache()

    val updated = existing.as("e").join(b.as("v"), Seq("dataset_id", "original_id"), "inner")
      .select(col("e.id"), col("dataset_id"), col("original_id"),
        col("v.geometry").as("geometry"),
        col("v.original_attributes").as("original_attributes"),
        col("v.updated_at").as("updated_at"))
    val inserted = b.join(existing.select("dataset_id", "original_id"),
        Seq("dataset_id", "original_id"), "left_anti")
      .withColumn("id", itemId(datasetId))
    val pruned = existing.join(b.select("dataset_id", "original_id"),
      Seq("dataset_id", "original_id"), "left_anti")

    val cols = schema.fieldNames.map(col)
    // ONE aggregation for all three returned metrics instead of three count
    // actions (the pipelineCounts flag-column pattern, VERDICT r2 #9); the
    // flagged union is cached so the commit write below reuses the joins.
    val flagged = updated.select(cols: _*).withColumn("__st", lit("u"))
      .unionByName(inserted.select(cols: _*).withColumn("__st", lit("i")))
      .unionByName(pruned.select(cols: _*).withColumn("__st", lit("p")))
      .cache()
    val cnts = flagged.groupBy("__st").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fresh = flagged.filter(col("__st") =!= "p").drop("__st")
    auditIds(fresh)
    snapshots.commit(datasetId.toString, fresh, s"upsert:ds=$datasetId")
    flagged.unpersist(); existing.unpersist(); b.unpersist()
    (cnts.getOrElse("u", 0L), cnts.getOrElse("i", 0L), cnts.getOrElse("p", 0L))
  }
}
