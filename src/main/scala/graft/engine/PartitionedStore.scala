package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/**
 * The parquet stand-in for the reference's partitioned PostgreSQL tables
 * with MERGE semantics (osm.element, upstream.item, api.deviation,
 * mv_match_*). No Iceberg jar ships in this environment, so the two storage
 * protocols the stores need are hand-rolled here, once:
 *
 *  1. [[PartitionedStore.Snapshots]] — versioned snapshots per key
 *     (DeviationStore per view, UpstreamSync per dataset):
 *     `<prefix>=<k>/v=N` snapshot dirs, `<prefix>=<k>/_metrics/N.json` with
 *     per-partition row counts and input lineage, and a `_latest` pointer
 *     flipped last by an atomic rename. A failed or killed run is invisible:
 *     readers follow the pointer, which names a complete snapshot or none.
 *     Maps onto an Iceberg table partitioned by the key, with snapshot
 *     metadata.
 *  2. [[PartitionedStore.Parts]] — partition-addressed state (ElementStore's
 *     data and key index, MatchStore's ranges): `part=v` dirs read by path
 *     with a known schema, and dynamic-overwrite writes that replace exactly
 *     the partitions the frame holds and clear the touched ones it left
 *     empty. Maps onto Iceberg identity partitions + overwritePartitions.
 *
 * Both record `_metrics/<version>.json` the same way.
 */
object PartitionedStore {

  /** recursive delete with the Files.walk stream properly closed. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  /** the names of `root`'s entries, sorted (the listing's fd closed) */
  private def list(root: Path): Seq[String] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.list(root)
      try st.iterator().asScala.map(_.getFileName.toString).toVector.sorted
      finally st.close()
    }

  /** writes `text` to `p` through `p.tmp` renamed over `p` atomically, so a
    * kill at any point leaves `p` whole: the previous text or the new one */
  def writeAtomically(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** highest `_metrics/<v>.json` version under `root`, 0 when none: durable
    * across JVM restarts, unlike a clock */
  def metricsVersion(root: String): Long =
    list(Paths.get(root, "_metrics")).flatMap(n =>
      if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None).maxOption.getOrElse(0L)

  /** writes `<root>/_metrics/<v>.json`: the version, the lineage and
    * `entries` (per-partition JSON objects) under `listName` */
  def writeMetrics(root: String, v: Long, lineage: String, listName: String,
                   entries: Seq[String]): Unit = {
    val dir = Paths.get(root, "_metrics")
    Files.createDirectories(dir)
    val lin = graft.core.Json.quote(lineage)
    Files.write(dir.resolve(s"$v.json"),
      s"""{"version":$v,"lineage":$lin,"$listName":[${entries.mkString(",")}]}""".getBytes(UTF_8))
  }

  /** an empty local relation of `schema`: its plan statistics say 0 bytes,
    * not the unknown size of an RDD */
  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** protocol 1 under `path`: `<prefix>=<k>/v=N` snapshots of `schema` rows;
    * a commit reads and rewrites one key, never the whole store */
  final class Snapshots(spark: SparkSession, path: String, prefix: String, schema: StructType) {
    private def root(key: String) = s"$path/$prefix=$key"
    private def pointer(key: String) = Paths.get(root(key), "_latest")

    /** the version `_latest` names, 0 before the first commit */
    def currentVersion(key: String): Int = {
      val p = pointer(key)
      if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8).trim.toInt else 0
    }

    /** keys that have at least one committed snapshot, sorted */
    def keys: Seq[String] = list(Paths.get(path)).collect {
      case n if n.startsWith(s"$prefix=") && Files.exists(Paths.get(path, n, "_latest")) =>
        n.stripPrefix(s"$prefix=")
    }

    /** latest snapshot of one key; the explicit schema also reads a snapshot
      * dir with zero part files */
    def latest(key: String): DataFrame = currentVersion(key) match {
      case 0 => empty(spark, schema)
      case v => spark.read.schema(schema).parquet(s"${root(key)}/v=$v")
    }

    /** latest state across `keys` (one pruned read each) */
    def latest(keys: Seq[String]): DataFrame =
      keys.map(latest).reduceOption(_ unionByName _).getOrElse(empty(spark, schema))

    /** Writes `df` as `key`'s next snapshot with its metrics and lineage,
      * then flips the pointer with `writeAtomically`, so a kill at any point
      * leaves the previous pointer intact. Returns the new version. */
    def commit(key: String, df: DataFrame, lineage: String): Int = {
      val v = currentVersion(key) + 1
      val out = df.select(schema.fieldNames.map(col): _*).cache()
      out.write.mode(SaveMode.Overwrite).parquet(s"${root(key)}/v=$v")
      // per-partition row counts (scales: one small agg)
      val counts = out.groupBy(spark_partition_id().as("pid")).count()
        .collect().map(r => s"""{"partition":${r.getInt(0)},"rows":${r.getLong(1)}}""")
      out.unpersist()
      writeMetrics(root(key), v, lineage, "partitions", counts.toSeq)
      writeAtomically(pointer(key), v.toString)
      v
    }
  }

  /** protocol 2: the `<part>=<v>` directories under `root`, each read and
    * written by name, so no call lists the table or infers a schema */
  final class Parts(spark: SparkSession, root: String, part: String) {
    private def dir(v: Any): Path = Paths.get(root, s"$part=$v")

    /** the existing partitions of `values`, read by path with `schema`; none
      * existing is an empty local frame, with no data source to resolve */
    def read(values: Seq[Any], schema: StructType): DataFrame = {
      val dirs = values.map(dir).filter(Files.exists(_)).map(_.toString)
      if (dirs.isEmpty) empty(spark, schema)
      else spark.read.schema(schema).option("basePath", root).parquet(dirs: _*)
    }

    /** the partition values present on disk, by listing `root` (no job) */
    def values: Seq[String] =
      list(Paths.get(root)).filter(_.startsWith(s"$part=")).map(_.stripPrefix(s"$part="))

    /** bytes of the parquet files under `root`, walked without a job */
    def bytes: Long =
      if (!Files.exists(Paths.get(root))) 0L
      else {
        val files = Files.walk(Paths.get(root))
        try files.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        finally files.close()
      }

    /** Dynamic-overwrite write of `df` (the mode scoped to this write, not
      * the session): replaces the partitions `df` holds and deletes each of
      * `touched` it left empty, which dynamic overwrite never touches. The
      * partitions written are gathered in the write's own pass — after it,
      * `df` would re-read the files the write replaced. */
    def overwrite(df: DataFrame, touched: Seq[Any] = Nil): Unit = {
      val written = Observation()
      val out = if (touched.isEmpty) df
        else df.observe(written, collect_set(col(part)).as(s"${part}s"))
      out.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part).parquet(root)
      if (touched.nonEmpty) {
        val kept = written.get(s"${part}s").asInstanceOf[Iterable[Any]].toSet
        touched.filterNot(kept).foreach(v => deleteRecursively(dir(v)))
      }
    }
  }
}
