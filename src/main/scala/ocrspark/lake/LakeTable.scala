package ocrspark.lake

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-shaped snapshot/commit layer over Parquet (SURVEY.md §1.2):
  * no Iceberg runtime exists in this sandbox, so the semantics the north
  * rule needs — atomic snapshot commits listing finished partitions,
  * monotonically numbered snapshots, resume = skip the input
  * partitions the last committed manifest lists — are implemented as
  * a thin manifest layer. Same contract, swappable for real Iceberg.
  *
  * Layout under `root/`:
  *   data/snap-<id>/bucket=<b>/part-*.parquet   (staged by writer)
  *   snapshots/snapshot-<id>.json               (manifest: bucket → files,
  *                                               plus a `metrics` object:
  *                                               stage → counter → value)
  *   _current                                   (atomic pointer, rename)
  *
  * Readers only ever see files listed in the manifest of `_current`;
  * a crashed writer leaves staged data that is invisible until commit.
  * At cluster scale the manifest write is one driver-side file per
  * commit — no coordination beyond the atomic rename.
  */
class LakeTable(val root: String) {

  private val mapper = new ObjectMapper()
  private def snapDir = new File(root, "snapshots")
  private def currentFile = new File(root, "_current")

  /** `added` = snapshot id that first wrote this bucket's files —
    * preserved across commits so lineage shows true provenance. */
  case class BucketEntry(bucket: Int, files: Seq[String], nDocs: Long,
                         nBytes: Long, added: Long = 0L)
  /** `metrics`: stage → counters, this snapshot's own (not inherited
    * from its parent — Iceberg's snapshot `summary`). */
  case class Snapshot(id: Long, parent: Long, committedTs: Long,
                      buckets: Seq[BucketEntry],
                      metrics: Map[String, Seq[(String, Long)]] = Map.empty)

  def currentSnapshotId: Option[Long] =
    if (!currentFile.exists()) None
    else Some(new String(Files.readAllBytes(currentFile.toPath),
      StandardCharsets.UTF_8).trim.toLong)

  def snapshot(id: Long): Snapshot = {
    val node = mapper.readTree(new File(snapDir, s"snapshot-$id.json"))
    val buckets = node.get("buckets").elements()
    val out = Vector.newBuilder[BucketEntry]
    while (buckets.hasNext) {
      val b = buckets.next()
      val files = Vector.newBuilder[String]
      val fs = b.get("files").elements()
      while (fs.hasNext) files += fs.next().asText()
      out += BucketEntry(b.get("bucket").asInt(), files.result(),
        b.get("n_docs").asLong(), b.get("n_bytes").asLong(),
        b.get("added").asLong())
    }
    val metrics = Map.newBuilder[String, Seq[(String, Long)]]
    Option(node.get("metrics")).foreach { _.properties().forEach { st =>
      val counters = Vector.newBuilder[(String, Long)]
      st.getValue.properties().forEach(c => counters += c.getKey -> c.getValue.asLong())
      metrics += st.getKey -> counters.result()
    } }
    Snapshot(node.get("id").asLong(), node.get("parent").asLong(),
      node.get("committed_ts").asLong(), out.result(), metrics.result())
  }

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.map(snapshot)

  /** Buckets present in the current snapshot — the ones a resumed run
    * skips. */
  def committedBuckets: Set[Int] =
    currentSnapshot.map(_.buckets.map(_.bucket).toSet).getOrElse(Set.empty)

  /** Staging dir for the NEXT snapshot's data files. */
  def stagingDir(nextId: Long): String =
    new File(new File(root, "data"), s"snap-$nextId").getPath

  def nextSnapshotId: Long = currentSnapshotId.getOrElse(0L) + 1

  /** Atomically commit: parent's surviving buckets + the new entries,
    * with `metrics` (stage → counters) in the same manifest. New entries
    * shadow a parent bucket of the same id (overwrite semantics per
    * partition). */
  def commit(newEntries: Seq[BucketEntry],
             metrics: Map[String, Seq[(String, Long)]] = Map.empty,
             ts: Long = System.currentTimeMillis()): Long = synchronized {
    val parentId = currentSnapshotId.getOrElse(0L)
    val id = parentId + 1
    val parentBuckets: Seq[BucketEntry] =
      if (parentId == 0) Seq.empty
      else {
        val newIds = newEntries.map(_.bucket).toSet
        snapshot(parentId).buckets.filterNot(b => newIds.contains(b.bucket))
      }
    val all = (parentBuckets ++ newEntries.map(e =>
      if (e.added == 0L) e.copy(added = id) else e)).sortBy(_.bucket)
    writeManifest(Snapshot(id, parentId, ts, all, metrics))
    // atomic pointer flip
    replace(Paths.get(root, s"_current.tmp$id"), currentFile,
      id.toString.getBytes(StandardCharsets.UTF_8))
    id
  }

  /** Add `stage`'s counters to the manifest of committed snapshot
    * `snapshotId` (replacing that stage's counters if present), by an
    * atomic replace of the manifest. */
  def writeMetrics(spark: SparkSession, snapshotId: Long, stage: String,
                   counters: Seq[(String, Long)]): Unit = synchronized {
    val s = snapshot(snapshotId)
    writeManifest(s.copy(metrics = s.metrics + (stage -> counters)))
  }

  private def writeManifest(s: Snapshot): Unit = {
    val rootNode: ObjectNode = mapper.createObjectNode()
    rootNode.put("id", s.id)
    rootNode.put("parent", s.parent)
    rootNode.put("committed_ts", s.committedTs)
    val arr: ArrayNode = rootNode.putArray("buckets")
    s.buckets.foreach { e =>
      val b = arr.addObject()
      b.put("bucket", e.bucket)
      b.put("n_docs", e.nDocs)
      b.put("n_bytes", e.nBytes)
      b.put("added", e.added)
      val fs = b.putArray("files")
      e.files.foreach(fs.add)
    }
    val m = rootNode.putObject("metrics")
    s.metrics.foreach { case (stage, counters) =>
      val st = m.putObject(stage)
      counters.foreach { case (k, v) => st.put(k, v) }
    }
    snapDir.mkdirs()
    replace(Paths.get(snapDir.getPath, s"snapshot-${s.id}.json.tmp"),
      new File(snapDir, s"snapshot-${s.id}.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(rootNode))
  }

  /** Write `bytes` to `tmp`, then rename it over `target` atomically. */
  private def replace(tmp: Path, target: File, bytes: Array[Byte]): Unit = {
    Files.write(tmp, bytes)
    Files.move(tmp, target.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the table as of the current snapshot — only manifested files. */
  def read(spark: SparkSession): DataFrame = currentSnapshot match {
    case None => throw new IllegalStateException(s"no snapshot in $root")
    case Some(s) => readSnapshot(spark, s)
  }

  /** Time-travel read: the table exactly as of snapshot `id` (Iceberg
    * `VERSION AS OF`). Data files are immutable and never deleted by
    * commits — an overwriting commit only re-points the bucket's
    * manifest entry — so every historical snapshot stays readable. */
  def readAt(spark: SparkSession, id: Long): DataFrame = {
    require(id >= 1 && id <= currentSnapshotId.getOrElse(0L),
      s"snapshot $id does not exist in $root")
    readSnapshot(spark, snapshot(id))
  }

  private def readSnapshot(spark: SparkSession, s: Snapshot): DataFrame = {
    val files = s.buckets.flatMap(_.files)
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Per-partition lineage rows (FIXTURES.md §1.3). */
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot match {
      case None => Seq.empty[ocrspark.model.LineageRow].toDF()
      case Some(s) =>
        s.buckets.map(b => ocrspark.model.LineageRow(b.bucket, b.added,
          b.nDocs, b.nBytes, new Timestamp(s.committedTs))).toDF()
    }
  }

  /** Counter rows per stage per snapshot (FIXTURES.md §1.3 — the Spark
    * analog of the reference batch summary app.py:1149-1163), read from
    * every snapshot's manifest. */
  def metrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (1L to currentSnapshotId.getOrElse(0L)).flatMap { id =>
      snapshot(id).metrics.toSeq.flatMap { case (stage, counters) =>
        counters.map { case (k, v) => ocrspark.model.MetricRow(id, stage, k, v) }
      }
    }
    rows.toDF()
  }

  /** All snapshots' lineage (audit view across commits). */
  def lineageHistory(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (1L to currentSnapshotId.getOrElse(0L)).flatMap { id =>
      val s = snapshot(id)
      s.buckets.map(b => ocrspark.model.LineageRow(b.bucket, s.id,
        b.nDocs, b.nBytes, new Timestamp(s.committedTs)))
    }
    rows.toDF()
  }
}

/** Helpers used by the incremental writer. */
object LakeTable {

  /** List staged parquet files per bucket under `stagingDir`
    * (bucket=<b>/part-*.parquet layout from partitionBy). */
  def stagedEntries(stagingDir: String): Seq[(Int, Seq[File])] = {
    val d = new File(stagingDir)
    val subdirs = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    subdirs.toSeq.map { bd =>
      val b = bd.getName.stripPrefix("bucket=").toInt
      val files = Option(bd.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).toSeq
      (b, files)
    }
  }
}
