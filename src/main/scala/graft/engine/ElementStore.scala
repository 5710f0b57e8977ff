package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.core.cell.Grid

/**
 * Keyed, spatially-partitioned feature state — the raw-entity MERGE of the
 * reference's replication ingest (dags/osm_replication.py:261-298 upserts
 * node/way/relation rows keyed by id per sequence batch; SURVEY.md §2.1 S2,
 * §2.10 T4) re-expressed as a bounded-work parquet MERGE:
 *
 *  - DATA is partitioned by `cb` (a square cell-block id, default 10 km —
 *    Grid.cellOf packing), so the spatial reads that drive matching are
 *    partition-pruned to the dirty region;
 *  - a narrow KEY INDEX (key columns -> cb) is hash-partitioned by `kb =
 *    xxhash(key) % idxBuckets`, so a batch's previous locations are found by
 *    reading only the touched index buckets — this is what keeps a MOVED
 *    feature correct: its stale row in the old block is found via the index
 *    and dropped, without any full-table scan.
 *
 * Per-batch work is O(batch + touched partitions), never O(history): merge
 * and pruned reads open only the `cb=`/`kb=` directories they touch, by
 * path, with a schema the store already knows — no call lists the whole
 * table or infers a schema. A merge into an existing sub-store runs a fixed
 * set of jobs whatever the store's size: the batch's (cb, kb) set, the old
 * blocks of its keys, the data and index writes, and a batch-key broadcast
 * per join (7 with AQE off; ElementStoreSpec pins the budget). Merges of
 * different sub-stores may run concurrently. On a real cluster both layers
 * map 1:1 onto Iceberg MERGE INTO with the same partition specs. Both
 * layers are [[PartitionedStore.Parts]].
 */
class ElementStore(spark: SparkSession, path: String,
                   val blockMeters: Double = 10000.0, idxBuckets: Int = 64) {

  /** native block id of a point — the Column form of Grid.cellOf's packing
    * at blockMeters (shares Grid.OFF: kRing decodes these ids, so the two
    * sides must never drift). */
  def blockCol(cx: Column, cy: Column): Column = {
    val OFF = Grid.OFF.toLong
    shiftleft(floor(cx / blockMeters).cast("long") + OFF, 32)
      .bitwiseOR(floor(cy / blockMeters).cast("long") + OFF)
  }

  /** dirty blocks padded by a 1-block ring (block size >> any match radius,
    * so one ring covers every feature reachable from a dirty feature). */
  def ring(blocks: Seq[Long]): Seq[Long] =
    blocks.flatMap(b => Grid.kRing(b, 1)).distinct

  private def dataPath(name: String) = s"$path/$name/data"
  private def idxPath(name: String) = s"$path/$name/idx"
  private def dataParts(name: String) = new PartitionedStore.Parts(spark, dataPath(name), "cb")
  private def idxParts(name: String) = new PartitionedStore.Parts(spark, idxPath(name), "kb")

  /** row schema per sub-store: recorded by merge (the batch's own), else
    * read once from the data with `cb` pinned to long */
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]
  private def schemaOf(name: String): StructType = schemas.getOrElseUpdate(name,
    StructType(spark.read.parquet(dataPath(name)).schema.map(f =>
      if (f.name == "cb") f.copy(dataType = LongType) else f)))

  private def bucketOf(keyCols: Seq[String]): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(idxBuckets.toLong)).cast("int")

  /** current state (optionally partition-pruned to `blocks`). */
  def read(name: String, blocks: Option[Seq[Long]] = None): DataFrame = {
    require(exists(name), s"element store '$name' not initialized")
    blocks match {
      case Some(bs) => dataParts(name).read(bs.distinct, schemaOf(name))
      case None => spark.read.schema(schemaOf(name)).parquet(dataPath(name))
    }
  }

  def exists(name: String): Boolean = Files.exists(Paths.get(dataPath(name)))

  /**
   * MERGE `batch` (upsert by `keyCols`) into sub-store `name`. The batch must
   * carry cx/cy (point-ish centroid meters). Returns the DIRTY block ids
   * (batch blocks ∪ previous blocks of moved keys) — the caller's recompute
   * frontier.
   */
  def merge(name: String, keyCols: Seq[String], batch: DataFrame,
            recencyCol: Option[String] = None): Seq[Long] =
    stage(name, keyCols, batch, recencyCol).commit()

  /**
   * The first half of `merge`: runs the jobs that read only the batch and
   * the index buckets of its keys, and returns the merge with its dirty
   * blocks known and not yet read, so a caller can size the rewrite before
   * running it. Exactly one of `commit`/`abort` must follow.
   */
  def stage(name: String, keyCols: Seq[String], batch: DataFrame,
            recencyCol: Option[String] = None): ElementStore.Staged = {
    // A micro-batch may carry several rows for one key (the same element
    // updated twice inside one AvailableNow batch): the left_anti below only
    // removes OLD rows, so an un-deduped batch would write duplicate key rows
    // (ADVICE r2). Keep exactly one row per key — by `recencyCol` desc when
    // the caller has one, else an arbitrary-but-single representative
    // (dropDuplicates). Every later step relies on `b` being unique per key.
    val keys = keyCols.map(col)
    val b0 = batch.withColumn("cb", blockCol(col("cx"), col("cy")))
    val bd = recencyCol match {
      case Some(rc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*).orderBy(col(rc).desc)
        b0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => b0.dropDuplicates(keyCols)
    }
    schemas.put(name, bd.schema)
    val b = bd.cache()
    val touched = b.select(col("cb"), bucketOf(keyCols).as("kb")).distinct().collect()
    // An EMPTY batch must not touch the store: a zero-row first write would
    // leave a parquet dir with only _SUCCESS, making exists() true while
    // read() fails on schema inference (ADVICE r2) — skip both writes and
    // leave the store uninitialized (or untouched).
    if (touched.isEmpty) return new ElementStore.Staged(Nil, 0, () => (), () => b.unpersist())
    val batchBlocks = touched.map(_.getLong(0)).distinct.toSeq
    val buckets = touched.map(_.getInt(1)).distinct.toSeq

    val first = !exists(name)
    if (!first) ensureIndex(name, keyCols)
    val bKeys = b.select(keys: _*)
    val idxNew = b.select(keys :+ col("cb") :+ bucketOf(keyCols).as("kb"): _*)
    // the touched buckets' index rows, read once for both the old-block
    // lookup and the index rewrite
    val idxSlice = if (first) None else Some(idxParts(name).read(buckets,
      StructType(keyCols.map(bd.schema(_)) :+ StructField("cb", LongType) :+
        StructField("kb", IntegerType))))
    val idxBytes = idxSlice.fold(BigInt(0))(ElementStore.bytesOf)
    val idxOld = idxSlice.map(_.cache())
    val oldBlocks = idxOld.fold(Seq.empty[Long])(_.join(bKeys, keyCols, "left_semi")
      .select("cb").distinct().collect().map(_.getLong(0)).toSeq)
    val dirtyBlocks = (batchBlocks ++ oldBlocks).distinct
    val oldData = if (first) None else Some(dataParts(name).read(dirtyBlocks, bd.schema))

    def write(): Unit = {
      // --- data merge: read ONLY dirty blocks, drop batch keys, add batch;
      // a dirty block whose last row vanished is cleared ---
      val dataCols = b.columns.map(col)
      dataParts(name).overwrite(oldData.fold(b)(_
        .join(bKeys, keyCols, "left_anti")
        .select(dataCols: _*)
        .unionByName(b.select(dataCols: _*))), if (first) Nil else dirtyBlocks)

      // --- index merge: same pattern over the narrow (key -> cb) table; a
      // touched bucket always holds the batch's own keys, so none empties ---
      idxParts(name).overwrite(idxOld.fold(idxNew)(_.join(bKeys, keyCols, "left_anti")
        .select(idxNew.columns.map(col): _*).unionByName(idxNew)))
    }
    new ElementStore.Staged(dirtyBlocks, oldData.fold(BigInt(0))(ElementStore.bytesOf) + idxBytes,
      () => write(), () => { idxOld.foreach(_.unpersist()); b.unpersist() })
  }

  /** bytes of sub-store `name`'s key-index files: at most `idxBuckets`
    * directories, walked without a job */
  def indexBytes(name: String): Long = idxParts(name).bytes

  /** Crash-recovery: a failure between merge's data write and index write
    * leaves data without an index — the old readOrEmpty fallback then threw
    * on the missing `kb` column, permanently sticking the checkpoint, and a
    * silently-empty index would skip moved-key cleanup (duplicate rows).
    * REBUILD the index from data instead: one bounded scan, then the normal
    * per-bucket merge proceeds. (Mid-write partial index overwrites need a
    * transactional table format — the Iceberg mapping in the scaladoc — and
    * are out of scope for the parquet stand-in.) */
  private def ensureIndex(name: String, keyCols: Seq[String]): Unit = {
    val ip = idxPath(name)
    if (!Files.exists(Paths.get(ip))) {
      read(name).select((keyCols.map(col) :+ col("cb")): _*)
        .dropDuplicates(keyCols)
        .withColumn("kb", bucketOf(keyCols))
        .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(ip)
    }
  }
}

object ElementStore {
  /** A merge whose dirty blocks are known and not yet rewritten (see
    * `ElementStore.stage`). `bytes` is what `commit` reads of the store:
    * the dirty blocks' data and the touched index buckets. */
  final class Staged private[ElementStore] (val dirtyBlocks: Seq[Long], val bytes: BigInt,
                                            write: () => Unit, release: () => Unit) {
    /** rewrites the dirty blocks and the touched index buckets; returns the
      * dirty blocks */
    def commit(): Seq[Long] = try { write(); dirtyBlocks } finally release()
    /** drops what `stage` cached, writing nothing */
    def abort(): Unit = release()
  }

  /** the bytes a frame reads, from its plan's statistics (for a file scan,
    * the sizes its listing found), without a job */
  def bytesOf(df: DataFrame): BigInt = df.queryExecution.analyzed.stats.sizeInBytes
}
