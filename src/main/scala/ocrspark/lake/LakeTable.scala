package ocrspark.lake

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Iceberg-shaped snapshot/commit layer over Parquet (SURVEY.md §1.2):
  * no Iceberg runtime exists in this sandbox, so the semantics the north
  * rule needs — atomic snapshot commits listing finished partitions,
  * monotonically numbered snapshots, resume = skip the input
  * partitions the last committed manifest lists — are implemented as
  * a thin manifest layer. Same contract, swappable for real Iceberg.
  *
  * Layout under `root/`:
  *   data/snap-<id>/bucket=<b>/part-*.parquet   (staged by writer,
  *                                               through [[LakeTable.LocalFs]]:
  *                                               the bits and `.crc` files a
  *                                               plain write gives, and no
  *                                               process per file)
  *   snapshots/snapshot-<id>.json               (manifest: bucket → files
  *                                               and their byte `sizes`,
  *                                               the table's Spark `schema`,
  *                                               plus a `metrics` object:
  *                                               stage → counter → value)
  *   _current                                   (atomic pointer, rename)
  *
  * Readers only ever see files listed in the manifest of `_current`;
  * a crashed writer leaves staged data that is invisible until commit.
  * A read plans its scan from the manifest alone: it lists no
  * directory and infers no schema, so it runs no Spark job before its
  * action. Every commit keeps the schema of its parent.
  * At cluster scale the manifest write is one driver-side file per
  * commit — no coordination beyond the atomic rename.
  */
class LakeTable(val root: String) {

  private val mapper = new ObjectMapper()
  private def snapDir = new File(root, "snapshots")
  private def currentFile = new File(root, "_current")

  /** `added` = snapshot id that first wrote this bucket's files —
    * preserved across commits so lineage shows true provenance.
    * `sizes` = each file's length in bytes; `commit` records them. */
  case class BucketEntry(bucket: Int, files: Seq[String], nDocs: Long,
                         nBytes: Long, added: Long = 0L,
                         sizes: Seq[Long] = Nil)
  /** `metrics`: stage → counters, this snapshot's own (not inherited
    * from its parent — Iceberg's snapshot `summary`). `schema`: the
    * Spark schema of every listed file (empty while none is listed). */
  case class Snapshot(id: Long, parent: Long, committedTs: Long,
                      buckets: Seq[BucketEntry],
                      metrics: Map[String, Seq[(String, Long)]] = Map.empty,
                      schema: StructType = new StructType())

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
      val sizes = Vector.newBuilder[Long]
      val ss = b.get("sizes").elements()
      while (ss.hasNext) sizes += ss.next().asLong()
      out += BucketEntry(b.get("bucket").asInt(), files.result(),
        b.get("n_docs").asLong(), b.get("n_bytes").asLong(),
        b.get("added").asLong(), sizes.result())
    }
    val metrics = Map.newBuilder[String, Seq[(String, Long)]]
    Option(node.get("metrics")).foreach { _.properties().forEach { st =>
      val counters = Vector.newBuilder[(String, Long)]
      st.getValue.properties().forEach(c => counters += c.getKey -> c.getValue.asLong())
      metrics += st.getKey -> counters.result()
    } }
    Snapshot(node.get("id").asLong(), node.get("parent").asLong(),
      node.get("committed_ts").asLong(), out.result(), metrics.result(),
      DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType])
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
    * partition). The manifest records each new file's size, stat'ed
    * here, and the table's schema, read from the footer of the first
    * new file; the files of one commit come from one write. A commit
    * whose schema differs from its parent's is refused. */
  def commit(newEntries: Seq[BucketEntry],
             metrics: Map[String, Seq[(String, Long)]] = Map.empty,
             ts: Long = System.currentTimeMillis()): Long = synchronized {
    val parentId = currentSnapshotId.getOrElse(0L)
    val id = parentId + 1
    val parent = if (parentId == 0) None else Some(snapshot(parentId))
    val newIds = newEntries.map(_.bucket).toSet
    val parentBuckets = parent.toSeq.flatMap(
      _.buckets.filterNot(b => newIds.contains(b.bucket)))
    val parentSchema = parent.map(_.schema).getOrElse(new StructType())
    val schema = newEntries.flatMap(_.files).headOption match {
      case None => parentSchema
      case Some(f) =>
        val s = LakeTable.footerSchema(f)
        require(parentSchema.isEmpty || s == parentSchema,
          s"$f has schema ${s.simpleString}, table $root has ${parentSchema.simpleString}")
        s
    }
    val added = newEntries.map { e =>
      val sizes = e.files.map { f =>
        val file = new File(f)
        require(file.isFile, s"$f is not a file")
        file.length()
      }
      e.copy(added = if (e.added == 0L) id else e.added, sizes = sizes)
    }
    val all = (parentBuckets ++ added).sortBy(_.bucket)
    writeManifest(Snapshot(id, parentId, ts, all, metrics, schema))
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
    rootNode.set[ObjectNode]("schema", mapper.readTree(s.schema.json))
    val arr: ArrayNode = rootNode.putArray("buckets")
    s.buckets.foreach { e =>
      val b = arr.addObject()
      b.put("bucket", e.bucket)
      b.put("n_docs", e.nDocs)
      b.put("n_bytes", e.nBytes)
      b.put("added", e.added)
      val fs = b.putArray("files")
      e.files.foreach(fs.add)
      val ss = b.putArray("sizes")
      e.sizes.foreach(ss.add(_))
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

  /** The relation `spark.read.parquet(files: _*)` would build, built
    * from the manifest: its file statuses and its schema. */
  private def readSnapshot(spark: SparkSession, s: Snapshot): DataFrame = {
    val files = s.buckets.flatMap(b => b.files.zip(b.sizes)).map { case (f, n) =>
      new FileStatus(n, false, 0, 0L, 0L, new HPath(new File(f).toURI))
    }
    if (files.isEmpty) spark.emptyDataFrame
    else spark.baseRelationToDataFrame(HadoopFsRelation(
      new LakeTable.ManifestIndex(files), new StructType(), s.schema, None,
      new ParquetFileFormat, Map.empty)(spark))
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

/** Helpers used by the incremental writer and the manifest reader. */
object LakeTable {

  /** The footer key under which Spark's parquet writer stores the
    * row schema; `spark.read.parquet` infers its schema from it. */
  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema of the parquet file `file`, read from its footer
    * on the driver, all fields nullable as `spark.read.parquet` reads
    * them. The plain configuration keeps Hadoop's `Configuration` out:
    * building one re-parses Hadoop's default resources, which costs
    * many times the footer read itself. */
  private def footerSchema(file: String): StructType = {
    val reader = ParquetFileReader.open(new LocalInputFile(Paths.get(file)),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowSchemaKey)
      finally reader.close()
    require(json != null, s"$file has no Spark schema in its footer")
    nullable(DataType.fromJson(json)).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The listed files of one snapshot, unpartitioned: Spark plans the
    * scan from these statuses and lists nothing. Equal file lists give
    * equal indexes, so two reads of one snapshot are the same plan. */
  private case class ManifestIndex(files: Seq[FileStatus]) extends FileIndex {
    def rootPaths: Seq[HPath] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
    override def toString: String = s"ManifestIndex(${files.size} files)"
  }

  /** Hadoop's checksummed local file system over a raw one that sets
    * permission bits through NIO. With no Hadoop native library,
    * `RawLocalFileSystem.setPermission` forks `chmod`: one process (~3
    * ms) for every file, `.crc` and directory a write creates. The bits
    * are the ones Hadoop computes (0644 files, 0755 directories under
    * the default umask); a sticky bit, which NIO cannot set, still goes
    * through `chmod`. A write selects it with [[LocalFs.options]]. */
  class LocalFs extends LocalFileSystem(new NioPermissions)

  object LocalFs {
    /** Write options that route one `DataFrameWriter`'s local paths —
      * its tasks, its committer and `_SUCCESS` — through [[LocalFs]],
      * leaving the session's own Hadoop conf as it is. The cache is off
      * because it is keyed by scheme, not conf: a cached instance would
      * serve, or be served to, every other `file:` access. */
    val options: Map[String, String] = Map(
      "fs.file.impl" -> classOf[LocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
  }

  private class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: HPath, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

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
