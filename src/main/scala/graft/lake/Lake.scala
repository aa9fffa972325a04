package graft.lake

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** The engine-side analog of the reference's two-tier cache / data lake
  * (`DataPersistenceLayer`, pipeline_helpers.py:34-102): Parquet datasets
  * under a root path with existence checks and partitioned snapshot
  * writes.
  *
  * Design mapping (SURVEY.md §2.1):
  * - local-dir + GCS bucket two-tier → ONE lake root; on a cluster the
  *   root is `gs://…`/`s3://…` (Hadoop connector) and the "local tier" is
  *   Spark's own caching (`df.persist`) — a distributed engine gets no
  *   benefit from a per-node file copy.
  * - `get`-returns-None on miss → `readIfExists` Option.
  * - cache-set writes through both tiers → a single atomic parquet write
  *   (_SUCCESS-committed), durable for every future job.
  * - daily-snapshot idempotency check (derivatives_snapshot_etl.py:48-56)
  *   → `writeSnapshotIfAbsent` on a date partition.
  *
  * Layout: `root/<layer>/<name>/` parquet directories, optionally
  * partitioned; partition pruning then serves date-ranged reads without
  * listing the full dataset — the 100 TB path.
  *
  * One Spark job per layer boundary: `write` reports its row count (and
  * any caller aggregates) from the write job itself, and `read` of an
  * unpartitioned artifact this instance wrote skips the footer schema
  * inference job — a chain hands off through the lake without paying a
  * readback count or an inference job per layer.
  */
final class Lake(spark: SparkSession, root: String) {

  private def path(parts: String*): String = (root +: parts).mkString("/")

  /** Schemas of the unpartitioned artifacts this instance wrote. Per
    * instance: an artifact another writer touches is only seen through
    * inference. */
  private val written = TrieMap.empty[String, StructType]

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(layer: String, name: String): Boolean = {
    val p = path(layer, name)
    fs(p).exists(new Path(p))
  }

  /** Cache get: Some(df) if the artifact exists, else None — the caller
    * decides whether to recompute (pipeline_helpers.py:55-70). */
  def readIfExists(layer: String, name: String): Option[DataFrame] =
    if (exists(layer, name)) Some(read(layer, name)) else None

  /** The artifact as a parquet frame. An unpartitioned artifact this
    * instance wrote is read with the schema it was written with, so the
    * read plans without a footer-inference job (the file source makes
    * every field nullable either way, so the schema equals inference);
    * partitioned artifacts and artifacts written elsewhere are inferred. */
  def read(layer: String, name: String): DataFrame = {
    val p = path(layer, name)
    written.get(p).fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
  }

  /** Cache set: overwrite the artifact (pipeline_helpers.py:72-91).
    * Returns the rows written plus the `observe` aggregates (each needs
    * an alias), all observed on the write job itself — no readback. */
  def write(df: DataFrame, layer: String, name: String,
      partitionBy: Seq[String] = Nil, observe: Seq[Column] = Nil): Lake.Written = {
    val p = path(layer, name)
    val obs = Observation()
    val w = df.observe(obs, count(lit(1)).as(Lake.RowsKey), observe: _*)
      .write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(p)
    if (partitionBy.isEmpty) written(p) = df.schema else written.remove(p)
    val got = obs.get
    Lake.Written(got(Lake.RowsKey).asInstanceOf[Long], got - Lake.RowsKey)
  }

  /** Idempotent daily snapshot: skip if this partition already exists
    * (derivatives_snapshot_etl.py:48-56). Returns true if written.
    * Only rows belonging to the named partition are appended — appending
    * the caller's whole frame would re-append OTHER partitions' rows on
    * every call, breaking the idempotency contract this method advertises. */
  def writeSnapshotIfAbsent(df: DataFrame, layer: String, name: String,
      partitionCol: String, partitionValue: String): Boolean = {
    val p = path(layer, name, s"$partitionCol=$partitionValue")
    if (fs(p).exists(new Path(p))) false
    else {
      df.filter(org.apache.spark.sql.functions.col(partitionCol).cast("string")
          === partitionValue)
        .write.mode(SaveMode.Append).partitionBy(partitionCol)
        .parquet(path(layer, name))
      true
    }
  }

  /** Execute small-file compaction on an artifact — the rewrite job whose
    * work list q_file_compaction_plan plans: every LEAF directory (a
    * partition dir, or the artifact root when unpartitioned) whose data
    * files outnumber ⌈bytes / targetBytes⌉ is rewritten into that many
    * files, row-count-verified BEFORE the swap, and renamed into place.
    * Rewriting per leaf keeps the partition layout byte-for-byte, so
    * partition pruning and every query over the artifact are unchanged —
    * only the file manifest shrinks (the open-a-file fixed cost is what
    * kills 100 TB scans over millions of KB-sized files).
    *
    * The temp dir is underscore-prefixed INSIDE the parent, so a
    * concurrent parquet read never lists it; the swap is delete+rename,
    * whose residual non-atomic window is the same one the parquet commit
    * protocol already has (the reference's cache rewrites artifacts
    * wholesale the same way, pipeline_helpers.py:72-91) — production puts
    * the layer behind a transactional table format. A leaf already at or
    * under its bin count is left untouched (idempotent: a second compact
    * is a no-op). Returns the manifest delta; `rowsVerified` counts only
    * rewritten rows (untouched leaves are not re-read).
    *
    * `clusterBy` (r12): when non-empty, rewritten leaves are RANGE-
    * partitioned and sorted on those columns instead of round-robin'd —
    * compaction then doubles as layout clustering: per-file min/max
    * ranges become disjoint, so zone-map (row-group) pruning on the
    * cluster key skips whole FILES after the rewrite (the executable
    * sibling of q_layout_pruning's audit; note a clustered rewrite is no
    * longer idempotent-by-file-count when the leaf was already at its
    * bin count — clustering is a layout CHANGE, run it deliberately). */
  def compact(layer: String, name: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Lake.CompactStats = {
    val rootP = new Path(path(layer, name))
    val f = fs(rootP.toString)
    def isData(p: Path): Boolean =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def leaves(dir: Path): Seq[Path] = {
      val entries = f.listStatus(dir).filter(s => isData(s.getPath))
      val (dirs, files) = entries.partition(_.isDirectory)
      val sub = dirs.toSeq.flatMap(d => leaves(d.getPath))
      if (files.nonEmpty) dir +: sub else sub
    }
    var before = 0L; var after = 0L; var rewritten = 0L
    var rows = 0L; var bytes = 0L
    leaves(rootP).foreach { leaf =>
      val files = f.listStatus(leaf).filter(s => s.isFile && isData(s.getPath))
      val b = files.map(_.getLen).sum
      val nBins = math.max(1L, math.ceil(b.toDouble / targetBytes).toLong).toInt
      before += files.length
      bytes += b
      if (files.length <= nBins && clusterBy.isEmpty) after += files.length
      else {
        val df = spark.read.parquet(leaf.toString)
        val nRows = df.count()
        val tmp = new Path(leaf.getParent, "_compacting_" + leaf.getName)
        f.delete(tmp, true)
        val binned =
          if (clusterBy.isEmpty) df.repartition(nBins)
          else df.repartitionByRange(nBins,
              clusterBy.map(org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
        binned.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val got = spark.read.parquet(tmp.toString).count()
        require(got == nRows,
          s"compact($layer/$name): $leaf rewrote $got rows, expected $nRows — aborting swap")
        f.delete(leaf, true)
        f.rename(tmp, leaf)
        val now = f.listStatus(leaf).count(s => s.isFile && isData(s.getPath))
        after += now
        rewritten += 1
        rows += nRows
      }
    }
    Lake.CompactStats(before, after, rewritten, rows, bytes)
  }
}

object Lake {
  /** What one [[Lake.write]] job observed: the rows it wrote and the
    * caller's extra aggregates by alias. */
  final case class Written(rows: Long, observed: Map[String, Any]) {
    def apply[T](alias: String): T = observed(alias).asInstanceOf[T]
  }

  private val RowsKey = "_lake_rows"

  /** Manifest delta of one [[Lake.compact]] run. `rowsVerified` covers
    * only the rewritten leaves (untouched leaves are never re-read). */
  final case class CompactStats(filesBefore: Long, filesAfter: Long,
    leavesRewritten: Long, rowsVerified: Long, bytes: Long)
}
